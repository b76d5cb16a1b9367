"""Stored-fields store: the maintained ``doc → (text, metadata…)``
side table that completes the search stack's independence from the
corpus.

The reference's whole serving competence is STORED PAYLOADS looked up
by index — a scan returns the event bytes themselves, not just
pointers (space.go:62-108; event.go:16-21 — the payload is the
value). Our retrieval faces serve doc IDs from maintained state, but
before this module the result PAGE (snippets, more-like-this, field
filters) had to re-scan the corpus frame for text and metadata. The
stored-fields store is the ``doc_lengths`` discipline generalized to
arbitrary columns: build once, append deltas, delete by id, serve by
bounded id lookups — so ``field:value`` operands and KWIC snippets
answer from maintained state on every face.

Layout: one row per document, ``doc`` plus the stored columns. All
stored columns must be ATOMIC types (string / numeric / boolean /
date / timestamp) — the execution-time guard legs
(:func:`_guard_leg`) derive their columns from an exploded probe
value via casts (NULL literals would let a consumer's pushed
``isnotnull`` fold the raise leg away), and only atomic types cast
from the probe's string. Binary payloads belong in the multimodal
tables, not here.

Maintenance faces (the reference's append-updates-tails /
close-compacts split, stream/open_stream.go:52-105, 146-201):

- batch: :func:`build_stored_fields` → :func:`update_stored_fields`
  (union + broadcast re-append guard — the state never shuffles) →
  :func:`delete_stored_fields` (broadcast anti + per-id ghost/dup
  audit).
- LSM: segments are per-epoch :func:`build_stored_fields` outputs,
  tombstones are DOC IDS ONLY (a doc is one row — key-only deletes
  are legal, like the ANN store); serve with
  :func:`stored_fields_segments`, compact with
  :func:`compact_stored_segments`, both through :func:`_keyed_net`
  (the id-keyed net the maintained spell store shares, keyed by
  ``token`` there). The streaming maintainer is
  ``streaming.maintain_stored_fields``, an LSM step of the shared
  epoch shell with the id-keyed ordering contract
  (``streaming._id_keyed_prepare``: cross-epoch re-insert self-heals
  via pre-compaction, same-batch delete+insert of a stored id
  raises).

Scale posture: rows carry one document each (no skew cell by
construction); serving is a broadcast semi of the requested ids — a
page fetch reads k rows of an arbitrarily large store when the store
is persisted bucketed/sorted by doc; tombstones net as one broadcast
anti; the only O(store) passes are the audit faces (compaction), by
design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

_ATOMIC_PREFIXES = (
    "string",
    "int",
    "bigint",
    "smallint",
    "tinyint",
    "float",
    "double",
    "boolean",
    "date",
    "timestamp",
    "decimal",
)


def _check_atomic(df: DataFrame, cols: list[str], caller: str) -> None:
    for name, dtype in df.select(*cols).dtypes:
        if not dtype.startswith(_ATOMIC_PREFIXES):
            raise ValueError(
                f"{caller}: stored column {name!r} has non-atomic type "
                f"{dtype} — the guard probe legs derive typed columns "
                "from a cast, which only atomic types support; store "
                "nested/binary payloads in their own table"
            )


def build_stored_fields(
    df: DataFrame,
    id_col: str = "doc_id",
    cols: list[str] | None = None,
) -> DataFrame:
    """One row per document: ``(doc, <cols…>)``. ``cols`` defaults to
    every column except ``id_col``. The build face itself adds no
    guards (a clean bulk corpus is the contract, matching
    :func:`~esdb_spark.operators.search.build_doc_lengths`); the
    update/delete/serve faces guard duplicates, ghosts, and NULL ids
    at execution time."""
    names = cols if cols is not None else [
        c for c in df.columns if c != id_col
    ]
    if not names:
        raise ValueError("build_stored_fields: no columns to store")
    _check_atomic(df, names, "build_stored_fields")
    return df.select(F.col(id_col).alias("doc"), *[F.col(c) for c in names])


def _guard_leg(like: DataFrame, probe: DataFrame, ok, msg_cols) -> DataFrame:
    """The zero-row guard leg every maintenance and net face unions onto
    its output: zero rows in ``like``'s schema when ``ok`` holds on
    every ``probe`` row, otherwise a raise whose message concatenates
    ``msg_cols`` on the failing probe row: each part is a literal str
    or a string Column, and a NULL Column part renders as ``"NULL"``
    so a NULL id cannot blank the whole message.

    Each probe row explodes an empty string array when healthy, and
    every output column DERIVES from the exploded value: a cast for
    atomic columns, ``array(cast)`` of the element type for array
    columns. NULL literals would not do: a consumer joining or
    filtering on a column makes Catalyst push ``isnotnull`` into the
    leg, which folds to false over a literal and prunes the raise
    away; over a column-dependent cast the explode must run first.
    Riding as a union leg (not a filter on kept rows) also means a
    face whose output is empty still trips the guard. Cost: one pass
    over ``probe``, which every caller keeps delta- or aggregate-sized."""
    g = F.col("_g")
    # casts take type STRINGS: a DataType object costs a JVM parse per
    # cast on the driver
    cols = [
        (
            F.array(g.cast(f.dataType.elementType.simpleString()))
            if isinstance(f.dataType, T.ArrayType)
            else g.cast(f.dataType.simpleString())
        ).alias(f.name)
        for f in like.schema.fields
    ]
    null = F.lit("NULL")
    return probe.select(
        F.explode(
            F.when(ok, F.array().cast("array<string>")).otherwise(
                F.raise_error(
                    F.concat(*[
                        F.lit(c) if isinstance(c, str) else F.coalesce(c, null)
                        for c in msg_cols
                    ])
                ).cast("array<string>")
            )
        ).alias("_g")
    ).select(*cols)


def update_stored_fields(
    store: DataFrame,
    docs_new: DataFrame,
    id_col: str = "doc_id",
    cols: list[str] | None = None,
) -> DataFrame:
    """Append face: fold NEW documents' rows in — an append IS the
    update (per-doc facts), so the fold is a union plus guards, the
    :func:`~esdb_spark.operators.search.update_doc_lengths` shape:
    a delta id already stored raises via a broadcast probe expressed
    as a FILTER (the state never shuffles); duplicate or NULL ids
    WITHIN the delta raise via one delta-bounded aggregate riding the
    output as a zero-row probe leg."""
    names = cols if cols is not None else [
        c for c in store.columns if c != "doc"
    ]
    delta = build_stored_fields(docs_new, id_col, names)
    dup_ids = F.broadcast(
        docs_new.select(F.col(id_col).alias("doc")).distinct()
    )
    marked = store.join(
        dup_ids.withColumn("_us_dup", F.lit(True)), "doc", "left"
    ).filter(
        F.when(
            F.col("_us_dup").isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "update_stored_fields: delta re-appends a doc "
                        "already stored: "
                    ),
                    F.col("doc").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    ).select(*store.columns)
    agg = docs_new.groupBy(F.col(id_col).alias("doc")).agg(
        F.count("*").alias("_us_c")
    )
    probe = _guard_leg(
        store,
        agg.select(
            F.when(F.col("doc").isNull(), F.lit("null"))
            .when(F.col("_us_c") > 1, F.lit("dup"))
            .otherwise(F.lit("ok"))
            .alias("_us_kind"),
            F.col("doc").cast("string").alias("_us_doc"),
        ),
        F.col("_us_kind") == "ok",
        [
            (
                "update_stored_fields: NULL or duplicate doc id within "
                "the delta (equality-keyed guards and the delete face "
                "could never match a NULL; a duplicate would store two "
                "versions); kind: "
            ),
            F.col("_us_kind"),
            ", doc: ",
            F.col("_us_doc"),
        ],
    )
    return marked.unionByName(delta).unionByName(probe)


def delete_stored_fields(
    store: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "doc_id",
    guard_missing: bool = True,
) -> DataFrame:
    """Delete face: drop the removed ids' rows — one broadcast ANTI
    probe (the state never shuffles). With ``guard_missing`` a
    removed id matching anything but exactly one stored row raises
    (0 = ghost delete, >1 = duplicate state rows), per-id so a ghost
    and a duplicate in one batch cannot cancel (the
    :func:`~esdb_spark.operators.search.delete_doc_lengths`
    contract); the guard rides as a zero-row union leg so a delete
    that empties the store still trips it."""
    rm = removed_ids.select(F.col(id_col).alias("doc")).distinct()
    kept = store.join(F.broadcast(rm), "doc", "left_anti")
    if not guard_missing:
        return kept
    cnt = (
        store.join(F.broadcast(rm), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("_ds_n"))
    )
    checked = rm.join(cnt, "doc", "left").select(
        "doc", F.coalesce(F.col("_ds_n"), F.lit(0)).alias("_ds_n")
    )
    probe = _guard_leg(
        store,
        checked,
        F.col("_ds_n") == 1,
        [
            "delete_stored_fields: removed id matches ",
            F.col("_ds_n").cast("string"),
            (
                " stored rows (0 = ghost delete, >1 = duplicate state "
                "rows); doc: "
            ),
            F.col("doc").cast("string"),
        ],
    )
    return kept.unionByName(probe)


def _keyed_net(
    segments: list[DataFrame],
    tombstones: list[DataFrame] | None,
    caller: str,
    key: str,
    unique_by: list[str],
    bound=None,
    audit: bool = False,
) -> DataFrame:
    """The LSM net of every id-keyed store (stored fields keyed by
    ``doc``, the spell store keyed by ``token``): the union of the live
    ``segments`` minus every row whose ``key`` a tombstone names, in
    the segments' own schema. Tombstone frames carry a ``key`` column.

    ``bound`` limits every leg to the keys a caller touches, before
    anything shuffles: a Python list/tuple/set becomes a literal
    in-filter that lands below the union and prunes each segment
    scan's row groups; a frame with a ``key`` column becomes a
    broadcast semi (rows stay out of flight, the scan is not pruned).
    A caller that bounds by another column filters each segment before
    the call; Catalyst pushes such a filter into each scan the same
    way.

    Guards, all at execution time:

    - a ``unique_by`` group live more than once across the touched
      rows raises (re-insert without pre-compaction; segments hold
      disjoint keys by contract). A window count, so every column
      survives the guard;
    - a NULL tombstone key raises (equality-keyed netting can never
      match it), via a zero-row :func:`_guard_leg`;
    - with ``audit`` (the compaction faces, which see every key) a
      tombstone no live segment holds raises (ghost delete). Serving
      faces skip the sweep and stay O(touched rows).

    Scale posture: tombstones are the delete delta and net as one
    broadcast anti; the guard window partitions by ``unique_by``, so
    predicates on those columns push below it into the scans; only the
    audit pass reads the whole store."""
    if not segments:
        raise ValueError(f"{caller}: no segments")
    live = None
    for s in segments:
        live = s if live is None else live.unionByName(s)
    rm = None
    for t in tombstones or []:
        r = t.select(key)
        rm = r if rm is None else rm.unionByName(r)
    if isinstance(bound, (list, tuple, set)):
        wanted = sorted(set(bound))
        live = live.filter(F.col(key).isin(wanted))
        if rm is not None:
            rm = rm.filter(F.col(key).isin(wanted))
    elif bound is not None:
        want = F.broadcast(bound.select(key).distinct())
        live = live.join(want, key, "left_semi")
        if rm is not None:
            rm = rm.join(want, key, "left_semi")
    w = Window.partitionBy(*unique_by)
    guarded = (
        live.withColumn("_kn_n", F.count("*").over(w))
        .filter(
            F.when(
                F.col("_kn_n") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"{caller}: {key} stored more than once across "
                            "live segments (re-insert without "
                            f"pre-compaction); {key}: "
                        ),
                        F.col(key).cast("string"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        .drop("_kn_n")
    )
    if rm is None:
        return guarded
    rm = rm.distinct()
    out = guarded.join(F.broadcast(rm), key, "left_anti")
    # coalesce: a bounded serve can filter rm to EMPTY, and sum() over
    # zero rows is NULL, which would take the raise arm
    nulls = rm.agg(
        F.coalesce(
            F.sum(F.when(F.col(key).isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("_kn_null")
    )
    named = "doc id" if key == "doc" else key
    out = out.unionByName(
        _guard_leg(
            guarded,
            nulls,
            F.col("_kn_null") == 0,
            [
                (
                    f"{caller}: NULL {named} in a tombstone — equality-"
                    "keyed netting can never match it; count: "
                ),
                F.col("_kn_null").cast("string"),
            ],
        )
    )
    if audit:
        ghosts = (
            rm.filter(F.col(key).isNotNull())
            .join(live.select(key).distinct(), key, "left_anti")
            .agg(F.count("*").cast("long").alias("_kn_ghost"))
        )
        out = out.unionByName(
            _guard_leg(
                guarded,
                ghosts,
                F.col("_kn_ghost") == 0,
                [
                    (
                        f"{caller}: tombstone for a {key} no live segment "
                        "holds (ghost delete); count: "
                    ),
                    F.col("_kn_ghost").cast("string"),
                ],
            )
        )
    return out


def stored_fields_segments(
    segments: list[DataFrame],
    tombstones: list[DataFrame] | None = None,
    ids=None,
) -> DataFrame:
    """Serve the store from LSM segments + doc-id tombstones — no
    compaction on the fetch path: ``serve(segments ∪ tombstones) ==
    build_stored_fields(survivors)`` value-for-value
    (pytest-asserted; the catalog row's oracle rebuilds from the
    surviving corpus). ``ids`` bounds the fetch to the requested
    documents — pass a PYTHON LIST for a driver-bounded page (a
    literal in-filter that pushes into every segment scan's row
    groups: the store persisted sorted by doc reads O(k) rows per
    segment), or a DataFrame with a ``doc`` column when the id set is
    itself distributed (a broadcast semi — zero shuffle of the store,
    but the scan is not pruned). Integrity guards fire for corruption
    the fetch TOUCHES (ghost tombstones whose ids you never ask for
    are :func:`compact_stored_segments`' job)."""
    return _keyed_net(
        segments, tombstones, "stored_fields_segments", "doc", ["doc"], ids
    )


def compact_stored_segments(
    segments: list[DataFrame],
    tombstones: list[DataFrame] | None = None,
) -> DataFrame:
    """Fold segments − tombstone ids into ONE store (the reference's
    close-compacts contract) under the FULL integrity sweep: the
    per-doc disjointness guard over every row plus the ghost-tombstone
    audit. EXACT: ``compact(segs, tombs) == build(survivors)``."""
    return _keyed_net(
        segments, tombstones, "compact_stored_segments", "doc", ["doc"],
        audit=True,
    )
