"""Similarity search tests: brute-force exactness + LSH recall."""

import math

import pytest
from pyspark.sql import functions as F

from esdb_spark.operators import similarity as sim
from esdb_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk,
    hyperplane_buckets,
    normalized,
)
from esdb_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def _numpy_topk(pdf, query_ids, k):
    import numpy as np

    mat = np.array(pdf["embedding"].tolist(), dtype="float64")
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid in query_ids:
        qi = int(np.where(ids == qid)[0][0])
        sims = mat @ mat[qi]
        order = sorted(
            [(s, i) for s, i in zip(sims, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )
        out[qid] = [i for _, i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = cosine_topk(emb, queries, "embedding", "vec_id", k=5)
    got_map = {}
    for r in got.orderBy("query_id", "rank").collect():
        got_map.setdefault(r.query_id, []).append(r.id)
    want = _numpy_topk(emb.toPandas(), list(range(5)), 5)
    assert got_map == want


def test_cosine_topk_excludes_self(spark, emb):
    out = cosine_topk(emb, emb.limit(3), "embedding", "vec_id", k=3)
    assert out.filter(F.col("query_id") == F.col("id")).count() == 0


def test_hyperplane_buckets_deterministic(spark, emb):
    b1 = hyperplane_buckets(emb, "embedding", "vec_id", bits=8).collect()
    b2 = hyperplane_buckets(emb, "embedding", "vec_id", bits=8).collect()
    assert {(r.id, r.bucket) for r in b1} == {(r.id, r.bucket) for r in b2}
    buckets = {r.bucket for r in b1}
    assert len(buckets) > 4  # spreads across buckets


def test_ann_lsh_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "embedding", "vec_id", k=10)
    approx = ann_topk_lsh(
        emb, queries, "embedding", "vec_id", k=10, bits=4, rotations=8
    )
    e = {(r.query_id, r.id) for r in exact.collect()}
    a = {(r.query_id, r.id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # Uniformly random 64-d vectors are sign-LSH's worst case (neighbor
    # cosine barely above 0): 4 bits × 8 rotations measured ~0.6 recall
    # here; real embedding corpora cluster and do far better. Assert
    # well above chance (10/500 = 2%).
    assert recall > 0.4, f"recall {recall}"


def test_normalized_unit_length(spark, emb):
    from esdb_spark.functions import l2_norm

    norms = (
        normalized(emb.limit(20), "embedding")
        .select(l2_norm(F.col("embedding")).alias("n"))
        .collect()
    )
    assert all(abs(r.n - 1.0) < 1e-9 for r in norms)


def test_ann_ivf_recall_beats_chance(spark, emb):
    from esdb_spark.operators.similarity import ann_topk_ivf

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "embedding", "vec_id", k=10)
    ivf = ann_topk_ivf(
        emb, queries, "embedding", "vec_id", k=10, n_centroids=8, n_probe=3
    )
    e = {(r.query_id, r.id) for r in exact.collect()}
    a = {(r.query_id, r.id) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    # probing 3/8 cells on uniform random vectors: recall tracks the
    # probed corpus fraction; assert clearly above chance (2%)
    assert recall > 0.3, f"recall {recall}"
    # each query returns exactly k rows (corpus cells are never empty
    # at 500 rows / 8 cells)
    counts = ivf.groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in counts)


def test_ann_ivf_full_probe_equals_exact(spark, emb):
    from esdb_spark.operators.similarity import ann_topk_ivf

    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, queries, "embedding", "vec_id", k=5)
    full = ann_topk_ivf(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=4, n_probe=4
    )
    e = {(r.query_id, r.id, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.id, r.rank) for r in full.collect()}
    assert e == f  # probing every cell degenerates to brute force


def test_ann_pq_recall_and_shape(spark, emb):
    from esdb_spark.operators.similarity import ann_topk_pq, cosine_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, "embedding", "vec_id", k=10)
    pq = ann_topk_pq(
        emb, queries, "embedding", "vec_id", k=10, m=16, n_centroids=16
    )
    rows = pq.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(range(10))
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, 11))
    e = {(r.query_id, r.id) for r in exact.collect()}
    a = {(r.query_id, r.id) for r in rows}
    recall = len(e & a) / len(e)
    # 16 subspaces x 16 centroids on uniform random 64-d vectors (PQ's
    # hardest case — no cluster structure): measured ~0.5 recall; real
    # embeddings do far better. Assert clearly above chance (2%).
    assert recall > 0.35, f"recall {recall}"


def test_pq_encode_compresses_and_is_deterministic(spark, emb):
    from esdb_spark.operators.similarity import pq_encode, pq_train

    books = pq_train(emb, "embedding", "vec_id", m=8, k=16)
    assert books.shape == (8, 16, 8)  # 64-dim / 8 subspaces
    enc1 = pq_encode(emb, books, "embedding", "vec_id").collect()
    enc2 = pq_encode(emb, books, "embedding", "vec_id").collect()
    assert {(r.id, bytes(r.codes)) for r in enc1} == {
        (r.id, bytes(r.codes)) for r in enc2
    }
    assert all(len(bytes(r.codes)) == 8 for r in enc1)  # m bytes/vector


def test_hard_negatives_labels_differ(spark, emb):
    from esdb_spark.operators.similarity import hard_negatives

    anchors = emb.filter(F.col("vec_id") < 5)
    out = hard_negatives(emb, anchors, "embedding", "vec_id", "label", k=5)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    per_q = {}
    for r in rows:
        assert labels[r.id] != labels[r.query_id]  # negative by label
        assert r.id != r.query_id
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(range(5))
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ann_lsh_zero_vectors_never_match(spark):
    """Zero-norm vectors have no defined cosine: NaN would rank above
    every real score under Spark's ordering, so they must be dropped."""
    from esdb_spark.operators.similarity import ann_topk_lsh

    rows = [(i, [float(i % 3 + 1), float(i % 5)]) for i in range(1, 30)]
    rows.append((99, [0.0, 0.0]))  # zero vector in the corpus
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ann_topk_lsh(
        df, df.filter(F.col("vec_id") <= 3), "embedding", "vec_id", k=5
    ).collect()
    assert len(out) > 0
    assert all(r["id"] != 99 for r in out)  # never surfaces
    assert all(not (r["cos"] != r["cos"]) for r in out)  # no NaN


def test_ann_lsh_empty_corpus_returns_empty(spark):
    from esdb_spark.operators.similarity import ann_topk_lsh, hyperplane_buckets

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ann_topk_lsh(empty, empty, "embedding", "vec_id", k=3).count() == 0
    assert hyperplane_buckets(empty, "embedding", "vec_id").count() == 0


def test_mips_topk_int8_matches_numpy_model(spark):
    # quantized max-inner-product: int8 codes, integer dot, one IEEE
    # multiply as the rank key — verify against a literal numpy replay
    import numpy as np

    from esdb_spark.operators.similarity import mips_topk_int8

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype(np.float32)
    vecs[5] = 0.0  # zero vector: scale 0, scores 0 against everything
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = mips_topk_int8(
        df, df.filter("vec_id = 3"), "embedding", "vec_id", k=5
    ).collect()

    m = vecs.astype(np.float64)
    scale = np.abs(m).max(axis=1) / 127.0
    v = np.divide(m, scale[:, None], out=np.zeros_like(m),
                  where=scale[:, None] > 0)
    codes = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    dots = codes @ codes[3]
    scores = scale * dots.astype(np.float64)
    order = sorted(
        (i for i in range(30) if i != 3),
        key=lambda i: (-scores[i], i),
    )[:5]
    got = sorted(out, key=lambda r: r["rank"])
    assert [r["id"] for r in got] == order
    for r in got:
        assert r["dot"] == int(dots[r["id"]])
        assert r["score"] == scores[r["id"]]  # bit-exact
    assert all(r["id"] != 3 for r in out)  # self-match excluded


def test_mips_topk_int8_agrees_with_duckdb_replay(spark):
    # the engine-portability claim itself: the same quantization +
    # integer dot + single multiply replayed in DuckDB SQL produces
    # the identical ranking (this is what lets hybrid-RRF rows carry
    # full value-hash oracles)
    import duckdb
    import numpy as np

    from esdb_spark.operators.similarity import mips_topk_int8

    rng = np.random.RandomState(11)
    vecs = rng.randn(25, 6).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = [
        (r["id"], r["dot"], r["score"])
        for r in mips_topk_int8(
            df, df.filter("vec_id = 0"), "embedding", "vec_id", k=6
        ).orderBy("rank").collect()
    ]
    # register as a real float32 arrow table — an SQL literal would
    # round-trip through DECIMAL parsing and perturb the float32s,
    # which is exactly the class of drift the operator eliminates
    import pyarrow as pa

    arrow = pa.table(
        {
            "vec_id": pa.array(range(25), pa.int32()),
            "embedding": pa.array(
                [vecs[i].tolist() for i in range(25)],
                pa.list_(pa.float32()),
            ),
        }
    )
    con = duckdb.connect()
    con.register("e", arrow)
    want = con.execute("""
        WITH q AS (
          SELECT vec_id,
                 list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
                 embedding
          FROM e
        ),
        c AS (
          SELECT vec_id, s,
                 CASE WHEN s > 0 THEN list_transform(embedding, x -> CAST(
                     sign(CAST(x AS DOUBLE) / s)
                     * floor(abs(CAST(x AS DOUBLE) / s) + 0.5) AS BIGINT))
                 ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
                 END AS code
          FROM q
        )
        SELECT a.vec_id,
               CAST(list_sum(list_transform(list_zip(a.code, b.code),
                    p -> p[1] * p[2])) AS BIGINT) AS dot,
               a.s * CAST(list_sum(list_transform(list_zip(a.code, b.code),
                    p -> p[1] * p[2])) AS DOUBLE) AS score
        FROM c a JOIN c b ON b.vec_id = 0 AND a.vec_id != 0
        ORDER BY score DESC, a.vec_id ASC LIMIT 6
    """).fetchall()
    assert got == [(v, d, s) for v, d, s in want]


def test_ann_int8_recall_vs_exact_mips(spark, emb):
    # the round-8 composition: IVF cell pruning over int8 code scoring —
    # recall measured against the EXACT quantized ranking it serves
    from esdb_spark.operators.similarity import ann_topk_int8, mips_topk_int8

    queries = emb.filter(F.col("vec_id") < 10)
    exact = mips_topk_int8(emb, queries, "embedding", "vec_id", k=10)
    ann = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=10, n_centroids=8, n_probe=3
    )
    e = {(r.query_id, r.id) for r in exact.collect()}
    a = {(r.query_id, r.id) for r in ann.collect()}
    recall = len(e & a) / len(e)
    # probing 3/8 cells on uniform random vectors tracks the probed
    # fraction; assert clearly above chance (2%)
    assert recall > 0.3, f"recall {recall}"
    counts = ann.groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in counts)


def test_ann_int8_full_probe_equals_exact_mips(spark, emb):
    # n_probe = n_centroids degenerates to the exact quantized ranking
    # VALUE-for-value: same codec, same integer dots, same one-multiply
    # score, same (score desc, id asc) ties
    from esdb_spark.operators.similarity import ann_topk_int8, mips_topk_int8

    queries = emb.filter(F.col("vec_id") < 3)
    exact = mips_topk_int8(emb, queries, "embedding", "vec_id", k=5)
    full = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=4, n_probe=4
    )
    e = sorted(tuple(r) for r in exact.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert e == f and e  # dot, score, AND rank all identical


def test_ann_int8_prebuilt_index_matches_inline(spark, emb, tmp_path):
    # the pay-once serving path: prebuilt centroids + cell-partitioned
    # assignment must serve the SAME results as the inline fit+assign
    # (same probes, same in-cell scoring), with the probed-cell
    # in-filter pruning the store's partitions
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit
    from esdb_spark.operators.similarity import ann_topk_int8

    queries = emb.filter(F.col("vec_id") < 5)
    inline = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=8, n_probe=3
    )
    c = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cent = kmeans_fit(c, "vec", "id", 8, iters=20, seed=42)
    store_path = str(tmp_path / "ivf")
    (
        kmeans_assign(c, cent, "vec", "id", keep_vec=True)
        .filter(F.col("cluster").isNotNull())
        .select("id", "vec", F.col("cluster").alias("cell"))
        .write.partitionBy("cell")
        .parquet(store_path)
    )
    served = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=8, n_probe=3,
        centroids=cent, assigned=spark.read.parquet(store_path),
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, served.collect())
    )
    # partition pruning reaches the store scan: the probed-cell
    # in-filter appears as a PartitionFilter
    plan = served._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert _re.search(
        r"PartitionFilters: \[[^\]]*cell#\d+[^\]]* IN \(", plan
    ), plan  # tolerate the partition-type cast some sessions add


def test_ann_int8_tombstones_serve_deletes(spark, emb):
    # serve-time deletes: full probe + tombstones == exact MIPS over
    # the surviving corpus, value-for-value (same codec/dots/ties)
    from esdb_spark.operators.similarity import ann_topk_int8, mips_topk_int8

    queries = emb.filter(F.col("vec_id") < 3)
    rm = emb.filter((F.col("vec_id") % 5 == 4) & (F.col("vec_id") >= 3))
    survivors = emb.join(
        rm.select("vec_id"), "vec_id", "left_anti"
    )
    served = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=4,
        n_probe=4, tombstones=rm.select(F.col("vec_id").alias("id")),
    )
    direct = mips_topk_int8(survivors, queries, "embedding", "vec_id", k=5)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_ann_store_append_and_delete_faces(spark, emb, tmp_path):
    # the pay-once store maintains: append new vectors under the SAME
    # centroids, delete by id — serving from the maintained store
    # equals inline serving over the current corpus
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit
    from esdb_spark.operators.similarity import (
        ann_store_append,
        ann_store_delete,
        ann_topk_int8,
    )

    old = emb.filter(F.col("vec_id") % 10 != 0)
    growth = emb.filter(F.col("vec_id") % 10 == 0)
    c = old.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cent = kmeans_fit(c, "vec", "id", 8, iters=20, seed=42)
    store_path = str(tmp_path / "ivf")
    (
        kmeans_assign(c, cent, "vec", "id", keep_vec=True)
        .filter(F.col("cluster").isNotNull())
        .select("id", "vec", F.col("cluster").alias("cell"))
        .write.partitionBy("cell")
        .parquet(store_path)
    )
    store = spark.read.parquet(store_path)
    # append face: the delta lands in the delta's cells only
    delta = ann_store_append(store, growth, cent, "embedding", "vec_id")
    delta.write.mode("append").partitionBy("cell").parquet(store_path)
    grown_store = spark.read.parquet(store_path)
    queries = emb.filter(F.col("vec_id") < 4)
    served = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=8,
        n_probe=3, centroids=cent, assigned=grown_store,
    )
    inline = ann_topk_int8(
        emb, queries, "embedding", "vec_id", k=5, n_centroids=8,
        n_probe=3, centroids=cent,
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )
    # append guards: re-append raises; duplicate delta id raises
    with pytest.raises(Exception, match="re-appends"):
        ann_store_append(
            grown_store, growth.limit(1), cent, "embedding", "vec_id"
        ).collect()
    dup = growth.limit(1).unionByName(growth.limit(1))
    with pytest.raises(Exception, match="duplicate id within the delta"):
        ann_store_append(
            store, dup, cent, "embedding", "vec_id", guard_overlap=False
        ).collect()
    # delete face: survivors for a compaction rewrite, per-id guards
    rm = grown_store.select("id").filter(F.col("id") % 7 == 1).limit(20)
    kept = ann_store_delete(grown_store, rm)
    n_rm = rm.count()
    assert kept.count() == grown_store.count() - n_rm
    ghost = spark.createDataFrame([(99999999,)], "id bigint")
    with pytest.raises(Exception, match="ghost delete"):
        ann_store_delete(grown_store, ghost).collect()
    # ghost + duplicate cannot cancel (per-id check, the r8 ADVICE)
    corrupt = grown_store.limit(1).unionByName(grown_store.limit(1))
    both = corrupt.select("id").unionByName(ghost)
    with pytest.raises(Exception, match="matches 0|matches 2"):
        ann_store_delete(
            corrupt.unionByName(grown_store.limit(0)), both
        ).collect()


def test_ivf_topk_int8_exact_full_probe_equals_mips(spark, emb):
    # the engine-exact literal-centroid face: probing every cell must
    # reproduce mips_topk_int8 value-for-value (same codec, same
    # integer dots, same one-multiply rank key, same ties)
    from esdb_spark.operators.similarity import (
        ivf_topk_int8_exact,
        mips_topk_int8,
    )

    dim = len(emb.select("embedding").first()[0])
    cents = [
        (0, [1.0 if i % 4 == 0 else 0.1 for i in range(dim)]),
        (1, [-1.0 if i % 4 == 1 else 0.2 for i in range(dim)]),
        (2, [0.5 if i % 4 == 2 else -0.3 for i in range(dim)]),
        (3, [-0.5 if i % 4 == 3 else 0.4 for i in range(dim)]),
    ]
    queries = emb.filter(F.col("vec_id") < 3)
    full = ivf_topk_int8_exact(
        emb, queries, cents, "embedding", "vec_id", k=5, n_probe=4
    )
    exact = mips_topk_int8(emb, queries, "embedding", "vec_id", k=5)
    got = sorted(map(tuple, full.collect()))
    want = sorted(
        (r["query_id"], r["id"], r["dot"], r["score"], r["rank"])
        for r in exact.collect()
    )
    assert got == want and got
    # pruned probing returns k rows per query and is a subset-ranking
    pruned = ivf_topk_int8_exact(
        emb, queries, cents, "embedding", "vec_id", k=5, n_probe=2
    )
    counts = pruned.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in counts)
    with pytest.raises(ValueError, match="no centroids"):
        ivf_topk_int8_exact(emb, queries, [], "embedding", "vec_id")


def _dyadic_corpus(spark, n=20, dim=8, seed=5):
    """``n`` rows with four ±1 entries each, some scaled by 3 (norm 2 or
    6): every normalized entry is ±0.5, so every cosine — and every PQ
    table entry and ADC sum over these exact subvectors — is a multiple
    of 1/4, exact in any summation order. Few distinct values make many
    exact ties, including at the k-th score."""
    import numpy as np

    rng = np.random.RandomState(seed)
    vecs = np.zeros((n, dim))
    for i in range(n):
        pos = rng.choice(dim, 4, replace=False)
        vecs[i, pos] = rng.choice([-1.0, 1.0], 4) * (3.0 if i % 4 == 0 else 1.0)
    rows = [(i, [float(x) for x in vecs[i]], i % 3) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(3)
    return df, vecs


def _tie_aware_topk(vecs, labels, qids, k):
    """(query_id, id, cos, rank) by (cos desc, id asc), self and — when
    ``labels`` is given — same-label rows excluded; returns the rows and
    whether any query ties at its k-th score."""
    import numpy as np

    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out, boundary_tie = [], False
    for q in qids:
        cands = sorted(
            (
                (float(unit[q] @ unit[i]), i)
                for i in range(len(vecs))
                if i != q and (labels is None or labels[i] != labels[q])
            ),
            key=lambda t: (-t[0], t[1]),
        )
        boundary_tie |= len(cands) > k and cands[k - 1][0] == cands[k][0]
        out += [(q, i, s, r) for r, (s, i) in enumerate(cands[:k], 1)]
    return out, boundary_tie


def test_hard_negatives_and_pq_match_tie_aware_model(spark):
    # value-level pin of two scorers: exact (score, rank) rows against
    # a numpy model on a corpus where several rows tie at the k-th
    # score, so the per-batch pruning must keep boundary ties and the
    # tail must break them by id asc
    from esdb_spark.operators.similarity import ann_topk_pq, hard_negatives

    df, vecs = _dyadic_corpus(spark)
    queries = df.filter(F.col("vec_id") < 5)
    labels = [i % 3 for i in range(len(vecs))]

    want, tie = _tie_aware_topk(vecs, labels, range(5), 3)
    assert tie  # the corpus exercises the k-th-score tie rule
    got = hard_negatives(df, queries, "embedding", "vec_id", "label", k=3)
    assert sorted(map(tuple, got.collect())) == sorted(want)

    # n_centroids >= rows: every codebook entry is a corpus subvector,
    # so PQ is lossless here and its ADC score is the exact cosine
    want, tie = _tie_aware_topk(vecs, None, range(5), 3)
    assert tie
    got = ann_topk_pq(
        df, queries, "embedding", "vec_id", k=3, m=4, n_centroids=32
    )
    assert sorted(map(tuple, got.collect())) == sorted(want)


_BROADCAST_FACES = {
    "cosine_topk": lambda c, q: sim.cosine_topk(c, q, "embedding", "vec_id", k=5),
    "hard_negatives": lambda c, q: sim.hard_negatives(
        c, q, "embedding", "vec_id", "label", k=5
    ),
    "mips_topk_int8": lambda c, q: sim.mips_topk_int8(
        c, q, "embedding", "vec_id", k=5
    ),
    "ann_topk_int8": lambda c, q: sim.ann_topk_int8(
        c, q, "embedding", "vec_id", k=5, n_centroids=4, n_probe=2
    ),
    "ann_topk_pq": lambda c, q: sim.ann_topk_pq(
        c, q, "embedding", "vec_id", k=5, m=8, n_centroids=8
    ),
}


@pytest.mark.parametrize("face", sorted(_BROADCAST_FACES))
def test_broadcast_faces_drop_null_vectors_and_serve_empty_queries(
    spark, emb, face
):
    # every face on the one query shipper and all-rows source drops a
    # NULL corpus vector and a NULL query vector (the same rows as
    # without them), and an empty query frame yields zero rows
    run = _BROADCAST_FACES[face]
    corpus = emb.filter(F.col("vec_id") < 80)
    queries = corpus.filter(F.col("vec_id") < 4)
    assert run(corpus, queries.limit(0)).count() == 0
    null = spark.createDataFrame([(10_000, None, 1)], emb.schema)
    want = sorted(map(tuple, run(corpus, queries).collect()))
    got = run(
        corpus.unionByName(null),
        queries.unionByName(null.withColumn("vec_id", F.lit(10_001).cast("long"))),
    )
    assert sorted(map(tuple, got.collect())) == want
    assert len(want) == 4 * 5
