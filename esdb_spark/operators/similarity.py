"""Similarity search over embedding columns (array<float>).

Every ranked vector face is built from three parts, one of each kind:

- **a candidate source** — all corpus rows (:func:`cosine_topk`,
  :func:`hard_negatives`, :func:`mips_topk_int8`, the PQ codes of
  :func:`ann_topk_pq`); the IVF cells each query probed on the driver
  (:func:`ann_topk_int8`, inline or from a pay-once cell-partitioned
  store or LSM segments, minus tombstones); LSH buckets
  (:func:`ann_topk_lsh`, a bucket join); or the per-cell cogroup of
  :func:`ann_topk_ivf`, the one source whose query side is not bounded
  (the KNN join). The broadcast sources drop NULL vectors.
- **a scorer** — float cosine, exact int8 code dot
  (``score = corpus_scale × dot``) or PQ ADC table lookup. The
  broadcast faces ship their queries through ONE driver-side shipper
  (:func:`_ship_queries`: select ``(query_id, vec)``, drop NULL
  vectors, broadcast once) and score through ONE per-Arrow-batch loop
  (:func:`_score_batches`) with one pruning rule: mask self-matches,
  same-label rows (hard negatives) and rows outside the query's probed
  cells, then keep every row at or above the k-th score — boundary
  ties included, so the tail's id-asc tie-break stays exact.
- **one ranked tail** (:func:`_ranked`) — ``row_number`` per
  ``query_id`` over ``(score desc, id asc)``, ``rank <= k``. Spark
  plans it as a ``Partial`` ``WindowGroupLimit`` below the
  ``query_id`` exchange and a ``Final`` one above it: each partition
  prunes to k per query against its local bound before the merge (the
  REPOSE shape), with no hand-written prune.

The engine-exact face :func:`ivf_topk_int8_exact` scores with column
expressions (SQL-replayable end to end) and shares only the tail.

Scale posture: queries are the bounded, broadcast side; the corpus —
the 100 TB side — never shuffles before the tail. Scoring is numpy
over Arrow batches (mapInPandas), NOT column expressions: Spark's
array higher-order functions are interpreted row-at-a-time (the
per-pair dot fold this replaced was ~100× slower), and
literal-hyperplane expression trees cost seconds of Catalyst analysis
per query (5.4 s → 1.6 s on the ANN catalog query after the switch).

Determinism: hyperplanes and k-means/PQ fits come from seeded PRNGs —
reproducible across runs and executors. Normalization: cosine scoring
L2-normalizes inside the kernel so cosine becomes a dot product, and
zero-norm vectors (no defined cosine) never match; bucketing skips it
(sign is scale-invariant).
"""

from __future__ import annotations

import random
from functools import reduce
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StructField, StructType,
)

from esdb_spark.functions import hash_sample_k, l2_norm
from esdb_spark.operators.storedfields import _guard_leg


class _Scorer(NamedTuple):
    """One scorer of :func:`_score_batches`. ``cols`` are its output
    columns ``(name, type)``; the LAST is the rank key. ``prep`` runs
    on the driver over the float query matrix and returns (kept-query
    mask or None, query state); ``rows`` runs per Arrow batch over
    (batch, float vector matrix or None) and returns (kept-row mask or
    None, tuple of per-row arrays); ``score`` maps (row arrays, query
    state) to one ``rows × queries`` matrix per output column."""

    cols: list
    prep: Callable
    rows: Callable
    score: Callable


def _unit_rows(m):
    """(mask of rows with a nonzero norm, those rows L2-normalized)."""
    n = np.linalg.norm(m, axis=1)
    ok = n > 0.0
    return ok, m[ok] / n[ok][:, None]


def _quantize_int8_np(m):
    """Shared numpy face of the int8 codec — mirrors
    ``quantize.quantize_int8`` bit-for-bit (per-op IEEE float64
    arithmetic: scale = max|x|/127, code = sign(v)·floor(|v|+0.5)
    with v = x/scale), so codes match the column-expression codec
    (and the DuckDB replay) exactly. Returns (codes, scales)."""
    scale = np.abs(m).max(axis=1) / 127.0
    v = np.divide(
        m, scale[:, None], out=np.zeros_like(m), where=scale[:, None] > 0
    )
    return np.sign(v) * np.floor(np.abs(v) + 0.5), scale


def _cosine_rows(pdf, m):
    ok, unit = _unit_rows(m)
    return ok, (unit,)


def _int8_rows(pdf, m):
    codes, scales = _quantize_int8_np(m)
    return None, (codes.astype(np.int64), scales)


def _int8_score(rows, q_codes):
    codes, scales = rows
    dots = codes @ q_codes.T  # exact integer matmul
    # one IEEE multiply per pair: int64→float64 conversion is exact
    # here (|dot| ≤ dims·127² ≪ 2⁵³)
    return {"dot": dots, "score": scales[:, None] * dots.astype(np.float64)}


# float cosine: zero-norm queries and rows drop (no defined cosine)
_COSINE = _Scorer(
    [("cos", DoubleType())], _unit_rows, _cosine_rows,
    lambda rows, q_unit: {"cos": rows[0] @ q_unit.T},
)
# exact int8 code dot: zero vectors score 0 against everything
_INT8 = _Scorer(
    [("dot", LongType()), ("score", DoubleType())],
    lambda qm: (None, _quantize_int8_np(qm)[0].astype(np.int64)),
    _int8_rows, _int8_score,
)


def _pq_scorer(books) -> _Scorer:
    """PQ ADC: per query, ``tables[j, c] = <q_sub_j, centroid_{j,c}>``
    on the driver; a row's score is the sum over subspaces of the
    table entry its code selects — O(m) lookups instead of O(dim)
    multiplies."""
    m, _, d_sub = books.shape

    def prep(qm):
        keep, unit = _unit_rows(qm)
        tables = np.stack(
            [unit[:, j * d_sub : (j + 1) * d_sub] @ books[j].T for j in range(m)],
            axis=1,
        )
        return keep, tables

    def rows(pdf, _m):
        codes = np.stack([np.frombuffer(b, dtype=np.uint8) for b in pdf["codes"]])
        return None, (codes,)

    def score(rows, tables):
        jidx = np.arange(m)[None, :]
        sums = [t[jidx, rows[0]].sum(axis=1) for t in tables]
        return {"approx_cos": np.stack(sums, axis=1)}

    return _Scorer([("approx_cos", DoubleType())], prep, rows, score)


def _probe(m, cent, n_probe: int):
    """The one IVF probe rule: each row's ``n_probe`` nearest cells by
    normalized vector · centroid, ties toward the smaller cell id (a
    (sim desc, cell asc) ranking); a zero vector keeps norm 1. With
    ``n_probe=1`` it is ``kmeans_assign``'s argmax."""
    n = np.linalg.norm(m, axis=1)
    n[n == 0.0] = 1.0
    sims = (m / n[:, None]) @ cent.T
    order = np.lexsort(
        (np.arange(cent.shape[0])[None, :].repeat(len(m), 0), -sims), axis=1
    )
    return order[:, :n_probe]


def _vectors(df: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """The all-rows candidate source: ``(id, vec, *extra)`` with NULL
    vectors dropped."""
    return df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), *extra
    ).filter(F.col("vec").isNotNull())


def _ship_queries(
    queries: DataFrame, query_id_col: str, vec_col: str, scorer: _Scorer,
    label_col: str | None = None, cent=None, n_probe: int = 0,
):
    """The one driver-side query shipper: collect ``(query_id, vec
    [, label])`` with NULL vectors dropped (queries are the bounded
    side by contract), let the scorer prepare its query state (and
    drop queries it cannot score), probe each query's ``n_probe``
    cells when ``cent`` is given, and broadcast it all once. Returns
    (broadcast, cell → query-index map, or None without ``cent``)."""
    cols = [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("vec")]
    if label_col is not None:
        cols.append(F.col(label_col).alias("label"))
    q_pd = queries.select(*cols).filter(F.col("vec").isNotNull()).toPandas()
    state = None
    if len(q_pd):
        qm = np.array(q_pd["vec"].tolist(), dtype=np.float64)
        keep, state = scorer.prep(qm)
        if keep is not None:
            q_pd, qm = q_pd[keep], qm[keep]
    cell_q = None
    if cent is not None:
        probes = _probe(qm, cent, n_probe) if len(q_pd) else np.zeros((0, 0))
        cell_q = {
            int(c): np.nonzero((probes == c).any(axis=1))[0]
            for c in np.unique(probes)
        }
    labels = q_pd["label"].to_numpy() if label_col is not None else None
    bc = queries.sparkSession.sparkContext.broadcast(
        (q_pd["query_id"].to_numpy(), labels, state, cell_q, cent)
    )
    return bc, cell_q


def _prune(keep, s, k: int):
    """The one pruning rule: the positions ``keep`` allows whose score
    ``s`` is at or above the k-th best of them — boundary ties kept,
    so the tail's id-asc tie-break over all batches stays exact."""
    cand = np.nonzero(keep)[0]
    if len(cand) > k:
        kth = np.partition(s[cand], len(cand) - k)[len(cand) - k]
        cand = cand[s[cand] >= kth]
    return cand


def _score_batches(
    src: DataFrame, bc, scorer: _Scorer, k: int, qid_type, id_type
) -> DataFrame:
    """The one per-batch scorer loop over a candidate source (``id``
    plus ``vec`` or ``codes``, optional ``label`` and ``cell``): score
    each Arrow batch against the shipped queries — all of them, or per
    cell only the queries that probed it — mask self-matches and
    same-label rows, and keep each query's rows at or above its k-th
    score, boundary ties included."""
    rows_fn, score_fn, key = scorer.rows, scorer.score, scorer.cols[-1][0]

    def run(batches):
        q_ids, q_labels, q_state, cell_q, cent = bc.value
        if len(q_ids) == 0 or (cell_q is not None and not cell_q):
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vec = pdf["vec"].tolist() if "vec" in pdf else None
            m = None if vec is None else np.array(vec, dtype=np.float64)
            ok, rows = rows_fn(pdf, m)
            if ok is not None:
                if not ok.any():
                    continue
                pdf, m = pdf[ok], m[ok]
            ids = pdf["id"].to_numpy()
            labels = pdf["label"].to_numpy() if q_labels is not None else None
            if cell_q is None:
                groups = [(slice(None), slice(None))]
            else:
                cells = (
                    pdf["cell"].to_numpy() if "cell" in pdf
                    else _probe(m, cent, 1)[:, 0]
                )
                groups = [
                    (np.nonzero(cells == c)[0], cell_q[int(c)])
                    for c in np.unique(cells)
                    if int(c) in cell_q
                ]
            for sel, qsel in groups:
                scored = score_fn(tuple(a[sel] for a in rows), q_state[qsel])
                g_ids = ids[sel]
                g_labels = labels[sel] if labels is not None else None
                for j, qi in enumerate(np.arange(len(q_ids))[qsel]):
                    keep = g_ids != q_ids[qi]  # no self-matches
                    if g_labels is not None:
                        keep &= g_labels != q_labels[qi]
                    cand = _prune(keep, scored[key][:, j], k)
                    if len(cand):
                        yield pd.DataFrame(
                            {
                                "query_id": q_ids[qi],
                                "id": g_ids[cand],
                                **{c: v[cand, j] for c, v in scored.items()},
                            }
                        )

    schema = StructType(
        [StructField("query_id", qid_type), StructField("id", id_type)]
        + [StructField(c, t) for c, t in scorer.cols]
    )
    return src.mapInPandas(run, schema)


def _ranked(cands: DataFrame, key: str, k: int) -> DataFrame:
    """The one ranked tail: ``rank`` = row_number per ``query_id`` over
    (``key`` desc, ``id`` asc), kept while ``rank <= k``. The filter
    reads ``rank`` as the window emits it, so Spark plans the partial
    per-partition WindowGroupLimit below the query_id exchange."""
    w = Window.partitionBy("query_id").orderBy(F.col(key).desc(), F.col("id").asc())
    return cands.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _topk(
    src, queries, query_id_col, vec_col, scorer, k, id_type, label_col=None,
    qid_type=None,
) -> DataFrame:
    """Shipper → scorer loop over ``src`` → tail: a broadcast face whose
    candidate source does not depend on the queries."""
    bc, _ = _ship_queries(queries, query_id_col, vec_col, scorer, label_col)
    qid_type = qid_type or queries.schema[query_id_col].dataType
    return _ranked(
        _score_batches(src, bc, scorer, k, qid_type, id_type),
        scorer.cols[-1][0],
        k,
    )


def _drop_ids(src: DataFrame, tombstones: DataFrame, id_col: str) -> DataFrame:
    """Serve-time deletes: one broadcast ANTI probe of the distinct
    tombstone ids (column ``id``, else ``id_col``; extra columns
    ignored) — the delete delta is the build side."""
    rm_col = "id" if "id" in tombstones.columns else id_col
    return src.join(
        F.broadcast(tombstones.select(F.col(rm_col).alias("id")).distinct()),
        "id",
        "left_anti",
    )


def _segment_union(segments, tombstones, caller: str):
    """ANN LSM state as two frames: the union of live segment rows
    ``(id, vec, cell int)`` and the union of tombstone ids (None when
    there are none)."""
    if not segments:
        raise ValueError(f"{caller}: no segments")
    cols = ("id", "vec", F.col("cell").cast("int").alias("cell"))
    live = reduce(DataFrame.unionByName, [s.select(*cols) for s in segments])
    if not tombstones:
        return live, None
    return live, reduce(DataFrame.unionByName, [t.select("id") for t in tombstones])


def _id_guard(per: DataFrame, n_col: str, null_msg: str, dup_msg: str, *more):
    """The keep filter of the store guards over a per-id aggregate,
    ONE CASE whose otherwise IS the predicate (so constraint
    propagation cannot prune a raise arm): a NULL id raises
    ``null_msg``; ``n_col > 1`` raises ``dup_msg``; each extra
    ``(condition, message)`` raises its message. The last two append
    ``"; id: <id>"``."""
    case = F.when(
        F.col("id").isNull(), F.raise_error(F.lit(null_msg)).cast("boolean")
    )
    for cond, msg in [(F.col(n_col) > 1, dup_msg), *more]:
        case = case.when(
            cond,
            F.raise_error(
                F.concat(F.lit(msg + "; id: "), F.col("id").cast("string"))
            ).cast("boolean"),
        )
    return per.filter(case.otherwise(F.lit(True)))


def normalized(df: DataFrame, vec_col: str) -> DataFrame:
    """L2-normalize a vector column (double precision)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(
        vec_col,
        F.transform(v, lambda x: x / F.nullif(l2_norm(v), F.lit(0.0))),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k nearest corpus rows per query row by cosine.

    Returns (query_id, id, cos, rank). Queries are broadcast — the
    corpus never shuffles, which is the property that matters when the
    corpus is the 100 TB side. Self-matches (same id) are excluded when
    both sides share the id column; NULL and zero-norm vectors never
    match. The correctness baseline: cost is |queries| × |corpus|
    pairs, so at 100 TB it is for query batches, not all-pairs.
    """
    return _topk(
        _vectors(corpus, id_col, vec_col), queries, query_id_col or id_col,
        vec_col, _COSINE, k, corpus.schema[id_col].dataType,
    )


def _hyperplane_literals(
    dim: int, bits: int, seed: int
) -> list[list[float]]:
    """``bits`` deterministic pseudo-random hyperplanes as plain Python
    floats (uniform [-1, 1]); baked into the plan as literals."""
    planes = []
    for b in range(bits):
        rng = random.Random(f"esdb:{seed}:{b}")
        planes.append([rng.uniform(-1.0, 1.0) for _ in range(dim)])
    return planes


def _pandas_rotation_buckets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_id: str,
    planes,  # numpy (rotations, bits, dim)
):
    """(out_id, out_id_vec, rot, bucket) rows via one numpy pass.

    Buckets as JVM column expressions bake rotations×bits×dim literals
    into the plan — execution is fine but Catalyst ANALYSIS of the fat
    literal tree cost ~5 s per query call at (8 rot × 4 bits × 64 dim).
    Here the plane tensor ships once as a broadcast and each Arrow
    batch pays one sign(M·Pᵀ) matmul per rotation. Sign on the RAW
    vector is scale-invariant, so no normalization pass either."""
    spark = df.sparkSession
    powers = (2 ** np.arange(planes.shape[1])).astype(np.int64)
    bc = spark.sparkContext.broadcast((planes, powers))
    schema = StructType(
        [
            StructField(out_id, df.schema[id_col].dataType),
            StructField(out_id + "_vec", df.schema[vec_col].dataType),
            StructField("rot", IntegerType()),
            StructField("bucket", LongType()),
        ]
    )

    def gen(batches):
        planes, powers = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            for r in range(planes.shape[0]):
                buckets = ((m @ planes[r].T) > 0.0) @ powers
                yield pd.DataFrame(
                    {
                        out_id: pdf["_id"].to_numpy(),
                        out_id + "_vec": pdf["_vec"].to_numpy(),
                        "rot": r,
                        "bucket": buckets,
                    }
                )

    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(gen, schema)


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimensionality from the first non-null vector; None when
    the DataFrame is empty or holds only nulls (callers short-circuit
    to an empty result instead of crashing on ``first()[0]``)."""
    row = df.select(F.col(vec_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    ).first()
    return len(row[0]) if row is not None else None


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bits: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, vec, bucket): sign-LSH bucket id per row."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    if dim is None:  # empty / all-null input: empty bucket table
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.lit(0).cast("long").alias("bucket"),
        ).limit(0)
    planes = np.array([_hyperplane_literals(dim, bits, seed)])
    return _pandas_rotation_buckets(df, vec_col, id_col, "id", planes).select(
        "id", F.col("id_vec").alias("vec"), "bucket"
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus with k-means, search
    only the ``n_probe`` nearest centroids per query, exact-cosine
    re-rank within the probed cells.

    The index-build (Lloyd's k-means) runs in numpy on a deterministic
    hash-sample of the corpus (``fit_sample`` cap) — at 100 TB you fit
    centroids on a sample, never on the full data, and a driver-side
    BLAS fit on ~100k vectors beats a distributed fit's per-iteration
    job overhead by orders of magnitude. Cell assignment is then one
    broadcast-centroid GEMM argmax per Arrow batch; at query time the
    corpus side is an equi-join on cell id — each query touches
    ~``n_probe / n_centroids`` of the corpus. Deterministic via the
    seed. Recall/latency tune with (n_centroids, n_probe):
    n_probe = n_centroids degenerates to brute force.
    """
    spark = corpus.sparkSession
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    # --- index build + cell assignment: the shared spherical k-means
    # operator (operators/cluster.py — sampled numpy Lloyd's fit, then
    # one broadcast-GEMM argmax per Arrow batch)
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit

    cent = kmeans_fit(c, "vec", "id", n_centroids, iters=20, seed=seed)
    bc = spark.sparkContext.broadcast(cent)
    assigned = kmeans_assign(c, cent, "vec", "id", keep_vec=True).select(
        "id", "vec", F.col("cluster").alias("cell")
    )

    # --- query: probe n_probe nearest cells, exact re-rank -------------
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    n_probe_eff = min(n_probe, len(cent))

    def probe_cells(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf["qvec"].tolist(), dtype=np.float64)
            probes = _probe(m, bc.value, n_probe_eff)
            for j in range(n_probe_eff):
                yield pdf.assign(cell=probes[:, j].astype("int32"))

    q_cells = q.mapInPandas(
        probe_cells,
        StructType(
            [StructField(f.name, f.dataType) for f in q.schema.fields]
            + [StructField("cell", IntegerType())]
        ),
    )

    rerank_schema = StructType(
        [
            StructField("query_id", q.schema["query_id"].dataType),
            StructField("id", c.schema["id"].dataType),
            StructField("cos", DoubleType()),
        ]
    )

    # Per-cell COGROUP rerank instead of a pair-explosion join: an
    # equi-join on cell emits one row per (query, candidate) pair
    # carrying BOTH vectors — queries × avg_cell_size × n_probe
    # vector copies through the shuffle. Cogrouping ships each corpus
    # and query vector across the wire once per probed cell, runs one
    # GEMM per cell, and prunes each query's rows by the scorer loop's
    # rule (self masked, ties at the k-th score kept, so the pruning
    # is lossless) before anything re-shuffles — the
    # intermediate is queries × k × n_probe scored ids, not raw
    # pairs. Both sides can be arbitrarily large (a true KNN join);
    # cell size bounds the task, and k-means cells are roughly
    # balanced by construction.
    def rerank_cell(key, cdf, qdf):
        parts = []
        if len(cdf) and len(qdf):
            cok, m = _unit_rows(np.array(cdf["vec"].tolist(), dtype=np.float64))
            qok, qm = _unit_rows(np.array(qdf["qvec"].tolist(), dtype=np.float64))
            ids = cdf["id"].to_numpy()[cok]
            sims = qm @ m.T  # (nq, nc)
            for row, qid in enumerate(qdf["query_id"].to_numpy()[qok]):
                cand = _prune(ids != qid, sims[row], k)
                parts.append(
                    pd.DataFrame(
                        {"query_id": qid, "id": ids[cand], "cos": sims[row, cand]}
                    )
                )
        if not parts:
            return pd.DataFrame({"query_id": [], "id": [], "cos": []})
        return pd.concat(parts)

    cands = (
        assigned.groupBy("cell")
        .cogroup(q_cells.groupBy("cell"))
        .applyInPandas(rerank_cell, rerank_schema)
    )
    return _ranked(cands, "cos", k)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    bits: int = 8,
    rotations: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share a bucket with the query
    under any of ``rotations`` independent bucketings; exact cosine
    re-ranks within candidates.

    One projection pass per side computes the normalized vector and all
    rotation buckets, then explodes to (rot, bucket) join keys — tiny
    shuffle rows, corpus partitioned by bucket, AQE handles hot buckets.
    """
    dim = _infer_dim(corpus, vec_col)
    if dim is None:  # empty / all-null corpus: no candidates
        return corpus.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).cast("int").alias("rank"),
        ).limit(0)
    planes = np.array(
        [_hyperplane_literals(dim, bits, seed + r) for r in range(rotations)]
    )
    c = _pandas_rotation_buckets(corpus, vec_col, id_col, "id", planes)
    q = _pandas_rotation_buckets(queries, vec_col, id_col, "query_id", planes)
    from esdb_spark.functions import cosine

    cands = (
        c.join(q, ["rot", "bucket"])
        .filter(F.col("id") != F.col("query_id"))
        # cosine on raw vectors, computed only for the few candidates
        .select(
            "query_id",
            "id",
            cosine(F.col("id_vec"), F.col("query_id_vec")).alias("cos"),
        )
        # zero-norm vectors have no defined cosine (functions.cosine
        # yields NULL via its ANSI-safe nullif guard) — no match, the
        # same contract as cosine_topk; without the guard Spark's
        # NaN-sorts-highest rule would rank them #1
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
        .dropDuplicates(["query_id", "id"])
    )
    return _ranked(cands, "cos", k)


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    fit_sample: int = 100_000,
):
    """Product-quantization codebooks: split the (L2-normalized)
    embedding into ``m`` contiguous subvectors and k-means each
    subspace to ``k`` centroids.

    Returns a numpy array of shape (m, k, dim/m) — driver-side
    metadata bounded by m*k*dim floats, independent of corpus size.
    Like :func:`ann_topk_ivf`, the fit runs on a deterministic
    hash-sample: at 100 TB codebooks are trained on ~100k vectors,
    never the corpus.
    """
    # hash_sample_k: above the topKSortFallbackThreshold a bare
    # orderBy+limit would global-sort the corpus (see cluster.kmeans_fit)
    sample_pd = (
        hash_sample_k(
            corpus.select(F.col(vec_col).alias("vec"), F.col(id_col).alias("id")),
            F.col("id"),
            fit_sample,
            str(seed),
        )
        .select("vec")
        .toPandas()
    )
    _, sm = _unit_rows(np.array(sample_pd["vec"].tolist(), dtype=np.float64))
    dim = sm.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, d_sub))
    for j in range(m):
        sub = sm[:, j * d_sub : (j + 1) * d_sub]
        k_eff = min(k, len(sub))
        cent = sub[rng.choice(len(sub), size=k_eff, replace=False)]
        for _ in range(20):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            new = np.vstack(
                [
                    sub[assign == c].mean(axis=0) if (assign == c).any() else cent[c]
                    for c in range(k_eff)
                ]
            )
            if np.allclose(new, cent, atol=1e-12):
                cent = new
                break
            cent = new
        if k_eff < k:  # degenerate tiny corpus: pad with repeats
            cent = np.vstack([cent, np.repeat(cent[:1], k - k_eff, axis=0)])
        books[j] = cent
    return books


def pq_encode(
    corpus: DataFrame, codebooks, vec_col: str, id_col: str
) -> DataFrame:
    """(id, codes binary): each vector L2-normalized and quantized to
    its nearest centroid per subspace — ``m`` bytes per vector (k<=256),
    a 32x compression of a 64-dim float32 embedding. The compressed
    relation is what a 100 TB ANN serves from memory."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    def op(batches):
        books = bc.value
        m, _, d_sub = books.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
            n = np.linalg.norm(vecs, axis=1)
            n[n == 0.0] = 1.0
            vecs = vecs / n[:, None]
            codes = np.empty((len(vecs), m), dtype=np.uint8)
            for j in range(m):
                sub = vecs[:, j * d_sub : (j + 1) * d_sub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "codes": [c.tobytes() for c in codes],
                }
            )

    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return c.mapInPandas(
        op,
        StructType(
            [
                StructField("id", c.schema["id"].dataType),
                StructField("codes", BinaryType()),
            ]
        ),
    )


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    m: int = 8,
    n_centroids: int = 16,
    seed: int = 42,
) -> DataFrame:
    """PQ asymmetric-distance top-k: score = sum over subspaces of the
    query-subvector x centroid inner product looked up by the corpus
    code — O(m) table lookups per (query, vector) instead of O(dim)
    multiplies, over a corpus compressed to m bytes/vector.

    Returns (query_id, id, approx_cos, rank) with rank 1..k per query
    (self-matches excluded; NULL vectors and zero-norm queries drop).
    The ADC tables (n_queries x m x k doubles) are built on the driver
    and broadcast with the queries; the scorer loop prunes per batch
    exactly as in cosine_topk — PQ scores collide whenever codes match,
    so the kept boundary ties matter here. Approximate by construction
    — recall is asserted against the exact ranking in tests, not an
    oracle.
    """
    vecs = _vectors(corpus, id_col, vec_col)
    books = pq_train(vecs, "vec", "id", m, n_centroids, seed)
    id_type = corpus.schema[id_col].dataType
    return _topk(
        pq_encode(vecs, books, "vec", "id"), queries, id_col, vec_col,
        _pq_scorer(books), k, id_type, qid_type=id_type,
    )


def mips_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k maximum-inner-product retrieval over int8-QUANTIZED
    vectors — the score-on-codes path every vector store serves from
    once embeddings are stored quantized (``quantize.quantize_int8``).

    Both sides quantize with the engine-portable int8 codec (scale =
    max|x|/127, code = sign(v)·floor(|v|+0.5) with v = x/scale — floor
    and single IEEE divisions are bit-identical across engines), the
    match score is the integer code dot product (int64, EXACT — 64
    dims × 127² ≈ 2²⁰, nowhere near overflow), and the ranking key is
    ``score = corpus_scale × dot`` — the reconstructed inner product
    with the query's scale dropped (constant per query, so
    rank-invariant) — which is ONE IEEE multiplication of two
    engine-exact values. Every quantity is therefore engine-portable:
    unlike float-cosine ranking, near-ties can never rank-flip in the
    last ulp between engines, so a catalog row built on this leg (the
    vector leg of ``docs_hybrid_rrf``) carries a full value-hash
    oracle.

    Returns (query_id, id, dot, score, rank) — rank 1-based by (score
    desc, id asc), self-matches (same id) excluded, NULL vectors
    dropped, zero vectors score 0 against everything.

    Scale posture (same contract as :func:`cosine_topk`): queries
    broadcast, the corpus — the 100 TB side — never shuffles; scoring
    is one exact int64 matmul per Arrow batch with per-batch top-k
    pruning (boundary ties kept) before the |queries|·k-row window.
    """
    return _topk(
        _vectors(corpus, id_col, vec_col), queries, query_id_col or id_col,
        vec_col, _INT8, k, corpus.schema[id_col].dataType,
    )


def ann_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_id_col: str | None = None,
    centroids=None,
    assigned: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned retrieval over int8-QUANTIZED codes — the serving
    shape a 100 TB vector store actually runs: probe the ``n_probe``
    nearest k-means cells per query (:func:`cluster.kmeans_fit`
    centroids), then score ONLY vectors in probed cells with the
    exact int8 scorer of :func:`mips_topk_int8` (integer code dots
    ranked by one IEEE multiply, boundary-tie-safe per-batch top-k).

    Queries are a BOUNDED batch (mips' contract too — they broadcast)
    and probing happens DRIVER-SIDE, which is what lets the corpus
    pass be a single shuffle-free ``mapInPandas``: each corpus row
    scores only the queries whose probes include its cell. A first
    cut cogrouped corpus and queries by cell — measured 13.6 s vs
    brute's 0.98 s at 1M×32d, because the cogroup re-shuffles the
    corpus per call and the bundled fit re-pays per call; this shape
    replaces it.

    The pay-once index: pass ``centroids`` (a :func:`kmeans_fit`
    array) to skip the fit, and ``assigned`` (a
    ``kmeans_assign(keep_vec=True)`` frame ``(id, vec, cell)``,
    normally ``spark.read.parquet`` of a store written
    ``partitionBy("cell")``) to skip assignment — the probed-cell
    in-filter then PRUNES PARTITIONS, so a query batch reads
    ~n_probe/n_centroids of the corpus instead of scanning it. With
    neither, the fit+assign happen inline (index build and first
    query in one pass — fine for one-shot jobs, wasteful for serving).

    WITHIN probed cells the ranking is exactly
    :func:`mips_topk_int8`'s (same codec, same integer dots, same
    (score desc, id asc) ties — recall-asserted in
    tests/test_similarity.py); what ANN gives up is only cells the
    probe skipped. ``n_probe = n_centroids`` degenerates to the exact
    brute ranking (value-for-value, pytest). Deterministic in (data,
    seed); NULL query/corpus vectors drop; zero vectors score 0; in
    the ``assigned`` path, rows kmeans_assign marked corrupt (NULL
    cell) never match the cell filter and drop from serving.

    ``tombstones`` (a frame of deleted ids, column matching
    ``id_col``'s name in the ``assigned`` path's ``id`` / the corpus
    ``id_col`` otherwise — extra columns ignored) serves DELETES
    without rewriting the store: one broadcast ANTI probe on the
    candidate rows AFTER the cell filter, so partition pruning is
    untouched and the delete delta is the build side. Duplicate
    tombstone ids are harmless (the probe runs on distinct ids);
    GHOST tombstones are structurally invisible here — a pruned
    partition is never read, so serve cannot distinguish "deleted id
    in an unprobed cell" from "never existed" (the same
    serving-vs-audit split as ``keyword_search_segments``);
    :func:`ann_store_delete` is the maintenance-time face whose
    per-id guards see everything.

    Returns (query_id, id, dot, score, rank), rank 1-based per query
    by (score desc, id asc), self-matches excluded.
    """
    from esdb_spark.operators.cluster import kmeans_fit

    query_id_col = query_id_col or id_col
    if assigned is not None and centroids is None:
        # the pay-once path is only correct when the store's cells and
        # the probe come from the same fit: a fresh fit's cell ids would
        # select arbitrary candidates
        raise ValueError(
            "ann_topk_int8: `assigned` requires the `centroids` it was "
            "built with — a fresh inline fit would probe cell ids the "
            "store does not share"
        )
    if centroids is None:
        centroids = kmeans_fit(
            _vectors(corpus, id_col, vec_col), "vec", "id", n_centroids,
            iters=20, seed=seed,
        )
    cent = np.asarray(centroids, dtype=np.float64)
    # probing is the approximate part; scoring inside the cells is
    # what must be exact
    bc, cell_q = _ship_queries(
        queries, query_id_col, vec_col, _INT8, cent=cent,
        n_probe=min(n_probe, len(cent)),
    )
    if assigned is not None:
        # pay-once index: the probed-cell in-filter prunes partitions
        # of a cell-partitioned store — the scan reads
        # ~n_probe/n_centroids of the corpus
        src = _vectors(
            assigned.filter(F.col("cell").isin(sorted(cell_q))),
            "id",
            "vec",
            F.col("cell").cast("int").alias("cell"),
        )
    else:
        # cells assigned inline by the scorer loop (the probe rule
        # with one probe, i.e. kmeans_assign's argmax)
        src = _vectors(corpus, id_col, vec_col)
    if tombstones is not None:
        src = _drop_ids(src, tombstones, id_col)
    scored = _score_batches(
        src, bc, _INT8, k, queries.schema[query_id_col].dataType,
        corpus.schema[id_col].dataType,
    )
    return _ranked(scored, "score", k)


def ann_store_append(
    store: DataFrame | None,
    new_vectors: DataFrame,
    centroids,
    vec_col: str,
    id_col: str,
    guard_overlap: bool = True,
) -> DataFrame:
    """Append face of the pay-once IVF store
    (:func:`ann_topk_int8`'s ``assigned`` path): assign NEW vectors to
    cells under the SAME centroids the store was built with and return
    the delta rows ``(id, vec, cell)`` — write them with
    ``delta.write.mode("append").partitionBy("cell").parquet(path)``,
    which touches only the delta's cell partitions. This is the
    reference's append-updates-state discipline
    (stream/open_stream.go:52-105) applied to the vector store: new
    vectors become servable without re-fitting or rewriting anything.

    Guards (maintenance wants LOUD, the doc-lengths contract): a NULL
    or wrong-dimension vector raises — ``kmeans_assign`` marks those
    NULL-cell and a store append that silently drops an insert is CDC
    divergence (the serving path's drop-corrupt contract is for
    read-only corpora); duplicate ids WITHIN the delta raise (one
    delta-bounded aggregation); with ``guard_overlap`` (default) a
    delta id already present in the store raises via a broadcast SEMI
    probe riding the output as a zero-row union leg — that probe scans
    the store (ids live in every cell), so feeds that guarantee fresh
    ids can disable it and keep appends O(delta); with
    ``guard_overlap=False`` the ``store`` argument may be ``None``
    (the LSM maintainer's per-epoch segment build, where cross-segment
    overlap is instead caught structurally: the fold's prepare step
    raises or pre-compacts, and :func:`compact_ann_segments` audits).

    Centroid drift is the cost of the same-centroids contract: cells
    fit on an old corpus mis-bucket a drifted one and recall decays
    (measured in SCALE.md's drift probe) — re-fit + rebuild the store
    when the appended fraction crosses the policy knee documented
    there.
    """
    from esdb_spark.operators.cluster import kmeans_assign

    delta = kmeans_assign(
        new_vectors, centroids, vec_col, id_col, keep_vec=True
    ).select("id", "vec", F.col("cluster").cast("int").alias("cell"))
    per = delta.groupBy("id").agg(
        F.count("*").alias("_aa_n"),
        F.first("vec").alias("vec"),
        F.first("cell").alias("cell"),
        F.max(F.col("cell").isNull().cast("int")).alias("_aa_bad"),
    )
    guarded = _id_guard(
        per,
        "_aa_n",
        "ann_store_append: NULL id in the delta — equality-keyed guards "
        "and the delete face can never match it",
        "ann_store_append: duplicate id within the delta",
        (
            F.col("_aa_bad") == 1,
            "ann_store_append: NULL or wrong-dimension vector in the "
            "delta (kmeans_assign marked it corrupt)",
        ),
    ).select("id", "vec", "cell")
    if not guard_overlap:
        return guarded
    if store is None:
        raise ValueError(
            "ann_store_append: guard_overlap=True needs the store to "
            "probe — pass the store frame, or guard_overlap=False for "
            "feeds that guarantee fresh ids"
        )
    dup = store.join(
        F.broadcast(new_vectors.select(F.col(id_col).alias("id")).distinct()),
        "id",
        "left_semi",
    ).agg(F.count("*").cast("long").alias("_aa_hit"))
    probe = _guard_leg(
        store.select("id", "vec", "cell"),
        dup,
        F.col("_aa_hit") == 0,
        [
            (
                "ann_store_append: delta re-appends ids already in the "
                "store (count: "
            ),
            F.col("_aa_hit").cast("string"),
            ") — delete them first or compact",
        ],
    )
    return guarded.unionByName(probe)


def ann_store_delete(
    store: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "id",
) -> DataFrame:
    """Delete face of the pay-once IVF store: the SURVIVING
    ``(id, vec, cell)`` rows for a compaction rewrite, under PER-ID
    integrity guards. For serve-time deletes with no rewrite, pass the
    ids to :func:`ann_topk_int8` as ``tombstones=`` instead (an anti
    probe inside the probed cells — O(delta), partition pruning
    intact); this face is the audit that sees every cell: each removed
    id must match EXACTLY ONE store row — 0 is a ghost delete, >1 is
    duplicate store rows. The check is per-id, not an aggregate count
    equality, so a ghost and a duplicate in the same batch cannot
    cancel each other out (the
    :func:`~esdb_spark.operators.search.delete_doc_lengths` contract).

    Plan shape: the survivors are one broadcast ANTI probe of the
    store (the removal batch is the build side — the store never
    shuffles); the guard is a per-id count over the SEMI-matched rows
    (delta-bounded output) left-joined back to the removed ids, riding
    the output as a zero-row union leg
    (:func:`~esdb_spark.operators.storedfields._guard_leg`).
    """
    rm = removed_ids.select(F.col(id_col).alias("id")).distinct()
    kept = store.select("id", "vec", "cell").join(
        F.broadcast(rm), "id", "left_anti"
    )
    cnt = (
        store.join(F.broadcast(rm), "id", "left_semi")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("_ad_n"))
    )
    checked = rm.join(cnt, "id", "left").select(
        "id", F.coalesce(F.col("_ad_n"), F.lit(0)).alias("_ad_n")
    )
    probe = _guard_leg(
        kept,
        checked,
        F.col("_ad_n") == 1,
        [
            "ann_store_delete: removed id matches ",
            F.col("_ad_n").cast("string"),
            (
                " store rows (0 = ghost delete, >1 = duplicate store "
                "rows); id: "
            ),
            F.col("id").cast("string"),
        ],
    )
    return kept.unionByName(probe)


def _dup_rank_guard(out: DataFrame, caller: str) -> DataFrame:
    """The maintained-serving output guard — a duplicate id among one
    query's returned top-k rows raises (a re-appended, un-compacted id
    silently eats ranks). ONE definition shared by
    :func:`ann_search_segments` and :func:`ivf_topk_int8_exact`'s
    assigned path, so the two serving faces cannot drift. Windows the
    tiny ranked output, never the store; the k-boundary-straddle blind
    spot is documented at the faces and audited by
    :func:`compact_ann_segments`."""
    wdup = Window.partitionBy("query_id", "id")
    return (
        out.withColumn("_dr_n", F.count("*").over(wdup))
        .filter(
            F.when(
                F.col("_dr_n") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"{caller}: id ranked twice for one query "
                            "(re-appended without compaction); id: "
                        ),
                        F.col("id").cast("string"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop("_dr_n")
    )


def ann_store_stats(
    store: DataFrame,
    n_probe: int,
    baseline_share: float | None = None,
    refit_factor: float = 1.5,
) -> DataFrame:
    """Occupancy-drift stats of a pay-once ANN store — the face that
    turns SCALE.md's re-fit policy into a computed signal. Under stale
    centroids RECALL does not decay (assignment and probing share the
    centroids — measured, SCALE.md drift probe);
    what decays is PRUNING: drifted growth concentrates into few
    cells, so a fixed ``n_probe`` silently reads a growing share of
    the corpus per query. The signal is the TOP-``n_probe``
    CELL-OCCUPANCY SHARE: compute it at fit time over the fit-time
    store, persist it next to the centroids, and RE-FIT + REBUILD
    when the grown store's share exceeds ``refit_factor`` × that
    baseline (default 1.5 — the measured knee: the SCALE.md scenario
    drifted 0.281 → 0.455 ≈ 1.62× while a fresh re-fit restored
    0.316).

    Returns ONE row: ``(n_vectors, n_cells, top_share)`` plus — when
    ``baseline_share`` is given — ``(baseline_share, share_ratio,
    refit)``. Works on a compacted store, a segment union, or the
    serving net (anything carrying ``cell``); ties in the top-probe
    cut break to the smallest cell id (deterministic).

    Scale posture: one map-side-combined aggregate to |cells| rows,
    then a |cells|-row window — the store itself never shuffles past
    its own cell counts.
    """
    if n_probe < 1:
        raise ValueError("ann_store_stats: n_probe must be >= 1")
    per = store.groupBy("cell").agg(F.count("*").cast("long").alias("_as_n"))
    w = Window.orderBy(F.desc("_as_n"), F.asc("cell"))
    ranked = per.withColumn("_as_rank", F.row_number().over(w))
    out = ranked.agg(
        F.sum("_as_n").cast("long").alias("n_vectors"),
        F.count("*").cast("long").alias("n_cells"),
        (
            F.sum(F.when(F.col("_as_rank") <= n_probe, F.col("_as_n"))
                  .otherwise(0)).cast("double")
            / F.sum("_as_n").cast("double")
        ).alias("top_share"),
    )
    if baseline_share is None:
        return out
    return out.select(
        "n_vectors",
        "n_cells",
        "top_share",
        F.lit(float(baseline_share)).alias("baseline_share"),
        (F.col("top_share") / F.lit(float(baseline_share))).alias(
            "share_ratio"
        ),
        (
            F.col("top_share")
            > F.lit(float(refit_factor)) * F.lit(float(baseline_share))
        ).alias("refit"),
    )


def refit_ann_store(
    segments: list[DataFrame],
    tombstones: list[DataFrame] | None = None,
    k: int = 16,
    n_probe: int = 2,
    iters: int = 20,
    seed: int = 42,
    fit_sample: int = 100_000,
):
    """The RE-FIT ACTION the drift signal points at
    (:func:`ann_store_stats` computes WHEN to re-fit, this face does
    it): fold the live state (segments − id tombstones), fit FRESH
    centroids on the surviving vectors, re-assign every row, and
    return ``(store, centroids, baseline_share)`` — the new
    cell-partitioned store to persist, the centroids to pin next to
    it, and the fit-time top-``n_probe`` occupancy share to persist
    as the NEXT drift baseline (close the loop: the returned share is
    exactly what a later ``ann_store_stats(grown, n_probe,
    baseline_share=...)`` compares against).

    EAGER by contract (the fit samples now, the share computes now) —
    a re-fit is the pay-once rebuild the policy amortizes, not a
    serving-path step. Recall is unchanged by drift (assignment and
    probing share the centroids — the SCALE.md drift probe); what the
    re-fit restores is PRUNING, so the caller persists the store
    ``partitionBy("cell")`` like the original build.

    Scale posture: the fold is one pass (broadcast anti); the fit is
    a bounded hash-sample (``fit_sample``); assignment is the
    shuffle-free broadcast-GEMM face; the live fold and the new store
    are localCheckpointed once each (multi-leg rule — fit + assign
    reference the fold, share + caller reference the store)."""
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit

    live = compact_ann_segments(segments, tombstones).localCheckpoint()
    src = live.select("id", "vec")
    cent = kmeans_fit(
        src, "vec", "id", k, iters=iters, seed=seed, fit_sample=fit_sample
    )
    store = (
        kmeans_assign(src, cent, "vec", "id", keep_vec=True)
        .select("id", "vec", F.col("cluster").cast("int").alias("cell"))
        .localCheckpoint()
    )
    share = ann_store_stats(store, n_probe).first()["top_share"]
    return store, cent, share


def compact_ann_segments(
    segments: list[DataFrame],
    tombstones: list[DataFrame] | None = None,
) -> DataFrame:
    """Merge ANN LSM segments — subtracting id tombstones — into ONE
    ``(id, vec, cell)`` store: the compaction face of the vector-store
    maintenance story (the reference's close-compacts contract,
    stream/open_stream.go:146-201, the third store after the boolean
    and positional indexes to get it).

    EXACT by construction: segment rows carry the cell their insert
    epoch assigned under the store's fixed centroids, and compaction
    only nets rows — ``compact_ann_segments(segs, tombs) ==
    kmeans_assign(∪segs − tombs)`` value-for-value under the same
    centroids (pytest-asserted). Like its index siblings this face is
    the FULL integrity audit — serving's probed-cell filter only sees
    what a query touches, so corruption must surface here: an id in
    more than one live segment raises (re-append without compaction —
    at serve time a duplicate id silently eats top-k slots), a NULL
    live id raises (it would survive every compaction and could never
    be tombstoned), a tombstone id appearing twice raises (double
    delete), a NULL tombstone id raises (it would be silently dropped
    by the anti join's inferred isnotnull pushdown and the row would
    serve forever), and a ghost tombstone (no live segment holds the
    id) raises via :func:`ann_store_delete`'s per-id count — 0 and >1
    both fail, so a ghost and a duplicate cannot cancel.

    Scale posture: segments union without shuffling vectors anywhere
    except the one (id) aggregate this audit IS; the tombstone
    subtraction is :func:`ann_store_delete`'s broadcast anti probe
    (the delete delta is the build side). Write the result
    ``partitionBy("cell")`` to restore the pay-once store's partition
    pruning.
    """
    live, tomb = _segment_union(segments, tombstones, "compact_ann_segments")
    per = live.groupBy("id").agg(
        F.count("*").alias("_ca_n"),
        # only _ca_n == 1 rows survive the guard, so first() is
        # deterministic — it is the sole value in every kept group
        F.first("vec").alias("vec"),
        F.first("cell").alias("cell"),
    )
    folded = _id_guard(
        per,
        "_ca_n",
        "compact_ann_segments: NULL id in a live segment — "
        "equality-keyed guards and the delete face can never match it",
        "compact_ann_segments: id in more than one live segment "
        "(re-append without compaction)",
    ).select("id", "vec", "cell")
    if tomb is None:
        return folded
    rm = _id_guard(
        tomb.groupBy("id").agg(F.count("*").cast("long").alias("_ca_t")),
        "_ca_t",
        "compact_ann_segments: NULL tombstone id — the anti join would "
        "silently drop it and the row would serve forever",
        "compact_ann_segments: duplicate tombstone",
    ).select("id")
    # ghost / exactly-one-match audit + the anti-join subtraction
    return ann_store_delete(folded, rm, id_col="id")


def ann_search_segments(
    segments: list[DataFrame],
    queries: DataFrame,
    centroids,
    vec_col: str = "vec",
    id_col: str = "id",
    k: int = 10,
    n_probe: int = 4,
    query_id_col: str | None = None,
    tombstones: list[DataFrame] | None = None,
) -> DataFrame:
    """:func:`ann_topk_int8` served directly from ANN LSM segments AND
    id tombstones — approximate vector search answers from maintained
    state with deletes visible and no compaction on the query path,
    completing for the vector store what ``keyword_search_segments`` /
    ``phrase_search_segments`` did for the text indexes:
    ``serve(segments ∪ tombstones) == ann_topk_int8(survivors)``
    value-for-value under the same centroids (pytest parity across
    epoch sequences).

    ``centroids`` must be the fit the segments were assigned under
    (:func:`ann_topk_int8`'s same-fit contract — enforced there).
    ``tombstones`` are frames of deleted ids (column ``id``); the
    netting is the serve-time broadcast ANTI probe inside the probed
    cells, so partition pruning over cell-partitioned segment dirs is
    untouched and the delete delta is the build side.

    Serving-vs-audit split (the house division of labor): this face
    guards what the QUERY can see cheaply — a duplicate id among the
    returned top-k rows raises at execution time (a re-appended,
    un-compacted id would silently eat ranks; the guard is a window
    count over the k·|queries| OUTPUT rows, zero extra shuffle of the
    store). A duplicate pair straddling the k boundary shows the id
    once and is invisible here — as is a ghost tombstone in an
    unprobed cell — and both surface at
    :func:`compact_ann_segments`, which sees every row. The streaming
    maintainer (:func:`~esdb_spark.streaming.maintain_ann_store`)
    prevents both structurally (per-epoch overlap prepare +
    compaction cadence), so this guard is defense in depth for
    hand-assembled segment lists.

    Scale posture: segments union lazily; the probed-cell in-filter
    lands below the union, pruning each segment's cell partitions;
    the scoring pass stays ONE shuffle-free mapInPandas
    (:func:`ann_topk_int8`'s shape); the dup guard windows the
    already-tiny ranked output.
    """
    live, tomb = _segment_union(segments, tombstones, "ann_search_segments")
    out = ann_topk_int8(
        # schema-only reference (assigned path never scans it)
        live.select(
            F.col("id").alias(id_col), F.col("vec").alias(vec_col)
        ),
        queries,
        vec_col,
        id_col,
        k=k,
        n_probe=n_probe,
        query_id_col=query_id_col,
        centroids=centroids,
        assigned=live,
        tombstones=tomb,
    )
    return _dup_rank_guard(out, "ann_search_segments")


def _quantize_centroids_literal(centroids: list) -> list:
    """Pre-quantize literal ``[(cell, [floats])]`` centroids in pure
    Python — the codec is per-op IEEE (abs/max/divide/floor all
    correctly rounded), so these codes are bit-identical to
    quantize_int8 / any SQL replay. Shared by the exact IVF faces so
    the serve and assign rows can never drift."""
    import math

    cent_q = []
    for cell, vec in centroids:
        s = max(abs(float(x)) for x in vec) / 127.0
        code = [
            int(math.copysign(math.floor(abs(float(x) / s) + 0.5), x))
            if s > 0
            else 0
            for x in vec
        ]
        cent_q.append((int(cell), code, s))
    return cent_q


def _balanced_sum_sql(terms: list) -> str:
    # pairwise-balanced Add tree (depth log n) instead of the
    # left-deep chain " + ".join would parse to: Catalyst's
    # canonicalization/semanticEquals walks are quadratic in chain
    # DEPTH, measurably slow at 64 terms; integer addition is
    # association-free so exactness is untouched
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})"
            if i + 1 < len(terms)
            else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _dot_lit_sql(code_col: str, coeffs: list) -> str:
    # unrolled Σ element_at(code, i+1) * coeff_i, zero terms
    # skipped — flat integer arithmetic, codegen-able
    terms = [
        f"CAST(element_at({code_col}, {i + 1}) AS BIGINT) * {int(c)}"
        for i, c in enumerate(coeffs)
        if c != 0
    ]
    return _balanced_sum_sql(terms) if terms else "CAST(0 AS BIGINT)"


def _ivf_cell_struct_sqls(cent_q: list, code_col: str) -> list:
    # (score, -cell) structs: max picks the highest score, then
    # the highest negcell = SMALLEST cell — the tie rule,
    # engine-portable because struct comparison is lexicographic
    return [
        f"named_struct('score', CAST('{s!r}' AS DOUBLE) * "
        f"{_dot_lit_sql(code_col, code)}, 'negcell', {-cell})"
        for cell, code, s in cent_q
    ]


def _ivf_cell_sql(structs: list) -> str:
    # the assigned cell: the greatest (score, -cell) struct, negated back
    best = f"greatest({', '.join(structs)})" if len(structs) > 1 else structs[0]
    return f"-(({best}).negcell)"


def ivf_assign_int8_exact(
    df: DataFrame,
    centroids: list,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """ENGINE-EXACT cell assignment under LITERAL centroids — the
    build/append face of the exact IVF pipeline: ``(id, vec, cell)``
    rows where ``cell`` is the argmax over centroids of
    ``cent_scale × integer-code-dot`` (ties to the smaller cell id),
    exactly :func:`ivf_topk_int8_exact`'s assignment arithmetic, so a
    store of these rows serves through that face's ``assigned`` path
    and an external engine replays the whole build bit-for-bit (the
    catalog's maintained-ANN row certifies exactly this). The k-means
    sibling is ``cluster.kmeans_assign`` (float GEMM argmax — fine
    in-engine, not SQL-replayable).

    NULL vectors raise — this is a MAINTENANCE face and a store
    append that silently drops an insert is CDC divergence
    (:func:`ann_store_append`'s contract; the serving path's
    drop-corrupt tolerance is for read-only corpora). Assignment
    happens inside the projection — no explode, no shuffle, no UDF;
    the frame never repartitions.
    """
    from esdb_spark.operators.quantize import quantize_int8

    if not centroids:
        raise ValueError("ivf_assign_int8_exact: no centroids")
    cent_q = _quantize_centroids_literal(centroids)
    cell_sql = _ivf_cell_sql(_ivf_cell_struct_sqls(cent_q, "_ia_code"))
    dim = len(centroids[0][1])
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    guarded = src.filter(
        F.when(
            F.col("vec").isNull() | (F.size("vec") != dim),
            # wrong-dimension is as corrupt as NULL: an over-long
            # vector would quantize under a scale dominated by the
            # tail the assignment dot never reads and mis-bucket
            # silently; a short one would abort with an opaque
            # element_at error
            F.raise_error(
                F.concat(
                    F.lit(
                        "ivf_assign_int8_exact: NULL or wrong-"
                        f"dimension vector (centroids are {dim}-d) in "
                        "the delta — a store append that drops an "
                        "insert is CDC divergence; id: "
                    ),
                    F.col("id").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    return (
        quantize_int8(
            guarded, "vec", out_col="_ia_code", scale_col="_ia_s"
        )
        .withColumn("cell", F.expr(cell_sql))
        .select("id", "vec", "cell")
    )


def ivf_topk_int8_exact(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    vec_col: str,
    id_col: str,
    k: int = 10,
    n_probe: int = 2,
    query_id_col: str | None = None,
    assigned: DataFrame | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned int8 retrieval with LITERAL centroids and
    column-expression-only plumbing — the ANN family's first fully
    ENGINE-EXACT face: every quantity an external engine can replay
    bit-for-bit, so a catalog row built on it carries a complete
    value-hash oracle (probe + quantize + dot + top-k), which
    :func:`ann_topk_int8`'s k-means fit (iterative, numpy GEMM
    tie-break order) structurally cannot.

    ``centroids`` is a small literal table ``[(cell_id, [floats])]``
    fixed in the query text. EVERYTHING downstream is per-op IEEE or
    integer arithmetic, identical in any engine: vectors (and the
    literal centroids) quantize with the portable int8 codec
    (scale = max|x|/127, code = sign·floor(|v|+0.5) — exactly
    ``quantize.quantize_int8``); a row's cell is the argmax over
    centroids of ``cent_scale × integer-code-dot`` (ONE IEEE multiply
    per candidate; ties to the smaller cell id) — inner-product cell
    assignment, the IVF-for-MIPS convention matching this family's
    scoring; each query probes its top ``n_probe`` cells under the
    same rule; in-cell scoring is :func:`mips_topk_int8`'s exact rank
    key (corpus_scale × integer code dot), ties (score desc, id asc),
    self-matches excluded.

    Scale posture: every dot product is an UNROLLED flat expression
    (``Σ element_at(code, i) × coeff_i``, balanced Add tree, zero
    coefficients dropped), assembled as SQL text and parsed with ONE
    ``F.expr`` per expression — the row's real cost is
    DATA-INDEPENDENT plan-side overhead, and each choice here is a
    measured answer to one of its three components (SCALE.md): Column
    objects cost one py4j round-trip per operator node (~25k RPCs ≈
    4 s for a 4×64 literal table — SQL strings make that ~0.5 s); HOF
    ``aggregate``/``zip_with`` lambdas are interpreter-only (never
    codegen'd) so the unrolled form keeps the hot loop compiled; and
    planning time grows with the literal tree, which is why the
    bundled catalog centroids are sparse. Integer addition is
    order-free, so none of this touches exactness. Assignment happens
    inside the projection — no explode, no shuffle, no UDF; the
    corpus never repartitions; vectors must share the centroids'
    dimension (the fixed-dim corpus contract every int8 face already
    assumes). Candidates (corpus rows in probed cells —
    ~n_probe/n_cells of the corpus) flow into one per-query top-k
    window; at true scale :func:`ann_topk_int8`'s per-batch pruned
    mapInPandas is the serving shape — THIS face exists to certify
    the semantics, and stays honest by sharing them exactly (pytest:
    full-probe == mips_topk_int8).

    The pay-once maintained path: ``assigned`` is an
    ``(id, vec, cell)`` frame whose cells came from
    :func:`ivf_assign_int8_exact` under the SAME literal centroids
    (normally a union of LSM segments, or ``spark.read.parquet`` of a
    store written ``partitionBy("cell")``) — the corpus-side quantize
    + assignment are skipped, the probed-cell in-filter prunes the
    store, and the STORED cell is what serving trusts, which is
    exactly what lets a catalog row certify maintained state: the
    oracle recomputes assignment from the surviving corpus, so
    serve(segments ∪ tombstones) == rebuild(survivors) rides one
    value hash. ``tombstones`` (a frame of deleted ids, column ``id``
    or ``id_col``) nets via one broadcast ANTI probe on the store
    rows — partition pruning untouched, delete delta on the build
    side. In this path a duplicate id among the returned top-k rows
    raises (the :func:`ann_search_segments` output guard — a
    re-appended id silently eats ranks); the base path is left
    untouched, plan-for-plan.

    Returns (query_id, id, dot, score, rank) like the other ANN faces.
    """
    query_id_col = query_id_col or id_col
    if not centroids:
        raise ValueError("ivf_topk_int8_exact: no centroids")
    n_probe_eff = min(n_probe, len(centroids))
    dim = len(centroids[0][1])

    cent_q = _quantize_centroids_literal(centroids)

    # The expressions below are assembled as SQL STRINGS and parsed
    # with ONE F.expr call each: building them as Column objects costs
    # one py4j round-trip per operator node (~25k RPCs ≈ 4 s of pure
    # gateway chatter for a 4×64 centroid table, cProfile-measured) —
    # the same plan for free when the JVM parses a string.
    # (_balanced_sum_sql / _dot_lit_sql / _ivf_cell_struct_sqls are
    # module-level so ivf_assign_int8_exact shares them exactly.)
    def _dot_col_sql(a, b):
        # unrolled column×column dot over the shared fixed dimension
        return _balanced_sum_sql(
            [
                f"CAST(element_at({a}, {i + 1}) AS BIGINT) * "
                f"CAST(element_at({b}, {i + 1}) AS BIGINT)"
                for i in range(dim)
            ]
        )

    def _quantized(df, idc, out_id, vcol=vec_col, *extra):
        # (out_id, *extra, _iv_code, _iv_s) over the non-NULL vectors
        from esdb_spark.operators.quantize import quantize_int8

        return quantize_int8(
            df.select(
                F.col(idc).alias(out_id), F.col(vcol).alias("_iv_vec"), *extra
            ).filter(F.col("_iv_vec").isNotNull()),
            "_iv_vec",
            out_col="_iv_code",
            scale_col="_iv_s",
        ).drop("_iv_vec")

    structs = _ivf_cell_struct_sqls(cent_q, "_iv_code")
    if assigned is not None:
        # maintained store: trust the STORED cell (that trust is the
        # thing the catalog row's oracle certifies), re-derive only
        # the codes — the codec is deterministic in vec
        cq = _quantized(
            assigned, "id", "id", "vec", F.col("cell").cast("int").alias("cell")
        )
        if tombstones is not None:
            cq = _drop_ids(cq, tombstones, id_col)
    else:
        if tombstones is not None:
            raise ValueError(
                "ivf_topk_int8_exact: tombstones only apply to the "
                "`assigned` maintained-store path — for a plain corpus "
                "filter the rows out instead"
            )
        cq = _quantized(corpus, id_col, "id").withColumn(
            "cell", F.expr(_ivf_cell_sql(structs))
        )
    qq = _quantized(queries, query_id_col, "query_id").withColumn(
        "_iv_probes",
        F.expr(
            f"transform(slice(sort_array(array({', '.join(structs)}), "
            f"false), 1, {n_probe_eff}), sc -> -sc.negcell)"
        ),
    )
    qprobe = qq.select(
        "query_id",
        F.col("_iv_code").alias("_iv_qcode"),
        F.explode("_iv_probes").alias("cell"),
    )
    cand = cq.join(F.broadcast(qprobe), "cell").filter(
        F.col("id") != F.col("query_id")
    )
    # compute the O(dim) integer dot ONCE per candidate and derive the
    # score from the column (no expression-tree duplication)
    scored = cand.select(
        "query_id",
        "id",
        F.expr(_dot_col_sql("_iv_code", "_iv_qcode")).alias("dot"),
        "_iv_s",
    ).select(
        "query_id",
        "id",
        "dot",
        (F.col("_iv_s") * F.col("dot").cast("double")).alias("score"),
    )
    ranked = _ranked(scored, "score", k).withColumn(
        "rank", F.col("rank").cast("long")
    )
    if assigned is None:
        return ranked
    # maintained path only: the shared output guard (a duplicate id
    # among the top-k means a re-append without compaction)
    return _dup_rank_guard(ranked, "ivf_topk_int8_exact")


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the ``k`` most-cosine-similar corpus rows with a DIFFERENT label —
    the near-misses that make the strongest negatives.

    Same scale contract as :func:`cosine_topk`: anchors broadcast (the
    training batch is the small side by construction), the corpus
    never shuffles, one float64 GEMM per Arrow batch with the label
    mask applied before top-k. Returns (query_id, id, cos, rank).
    """
    return _topk(
        _vectors(corpus, id_col, vec_col, F.col(label_col).alias("label")),
        anchors, id_col, vec_col, _COSINE, k, corpus.schema[id_col].dataType,
        label_col,
    )
