"""Archive maintenance: statistics and compaction.

The reference's per-space ``Flush`` (writer.go:62-68) maps to
per-partition appends, which accumulate small files; the reference's
own answer is the write-once finalize. At cluster scale the equivalent
hygiene is periodic compaction (OPTIMIZE-style rewrite) — without it a
100 TB archive of micro-appends collapses scan throughput (per-file
open/footer costs dominate).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from esdb_spark.db import Db
from esdb_spark.writer import WRITTEN_MARKER, write_archive


def archive_stats(db: Db):
    """Per-space statistics: rows, groupings, ts range, file count.
    The DataFrame half is one aggregation; file counts come from the
    directory listing (the moral equivalent of reading the footer)."""
    agg = (
        db.df.groupBy("space")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("grouping").alias("n_groupings"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("space")
    )
    from esdb_spark.db import _unescape_partition

    files: dict[str, int] = {}
    from esdb_spark import fs

    if db.path:
        for entry, is_dir in fs.list_dir(db.spark, db.path):
            if is_dir and entry.startswith("space="):
                # same percent-unescaping as Db.spaces so keys line up
                # with the aggregation's space values
                space = _unescape_partition(entry.split("=", 1)[1])
                full = os.path.join(db.path, entry)
                files[space] = sum(
                    1
                    for name, _ in fs.list_dir(db.spark, full)
                    if name.endswith(".parquet")
                )
    rows = []
    for r in agg.collect():
        rows.append(
            {
                **r.asDict(),
                "n_files": files.get(str(r["space"])),
            }
        )
    return rows



def _rewrite_archive(db: Db, df, tmp_suffix: str, tasks_per_space: int) -> Db:
    """Rewrite the archive as ``df`` through :func:`write_archive` (the
    writer's salted, cluster-sorted partitioned write with
    ``tasks_per_space`` files per space) into a temp directory, then
    swap it in atomically, preserving the sealed marker. One
    implementation for compaction, reindex and retention."""
    spark = db.spark
    tmp = db.path + tmp_suffix
    write_archive(df, tmp, "overwrite", tasks_per_space)
    from esdb_spark import fs

    was_written = fs.exists(spark, os.path.join(db.path, WRITTEN_MARKER))
    fs.replace_dir(spark, tmp, db.path)
    if was_written:
        fs.touch(spark, os.path.join(db.path, WRITTEN_MARKER))
    return Db.open(spark, db.path)


def compact_archive(db: Db, target_files_per_space: int = 1) -> Db:
    """Rewrite the archive with ~``target_files_per_space`` files per
    space, restoring the write-time cluster sort. Safe for the
    write-once archive lifecycle: readers of the old Db handle should
    re-open after compaction.

    At cluster scale this is the OPTIMIZE job you run after heavy
    `flush()` ingestion; locally it also heals the many-small-appends
    pattern from row-at-a-time writers. The earlier
    ``repartition(n, "space")`` implementation set the TOTAL partition
    count — the default funneled the whole archive through ONE task
    (the exact hazard writer.py salts against) and could never yield
    more than one file per space; the salted rewrite gives each space
    ``target_files_per_space`` writer tasks.
    """
    if db.path is None:
        raise ValueError("cannot compact an in-memory Db")
    return _rewrite_archive(
        db, db.df, ".compact.tmp", target_files_per_space
    )


def materialize_index(db: Db, name: str) -> Db:
    """Rewrite the archive with the secondary index ``name``
    additionally stored as a plain ``_idx_<name>`` column — post-hoc
    reindexing of an existing archive (the write-time equivalent is
    ``Writer(materialize_indexes=[...])``; the reference builds its
    index blocks only at write time, so adding one later means a
    rewrite there too — index_writer.go's blocks are baked into the
    finalized layout).

    Same one-shuffle rewrite + atomic directory swap as
    :func:`compact_archive`, preserving the salted write fan-out and
    the (grouping, ts desc, seq asc) cluster order, so index scans on
    the new column row-group-prune exactly like a write-time
    materialized index. Idempotent: re-materializing an existing name
    just rewrites the same column.
    """
    if db.path is None:
        raise ValueError("cannot materialize an index on an in-memory Db")
    col = f"_idx_{name}"
    base = db.df.drop(col) if col in db.df.columns else db.df
    enriched = base.withColumn(col, F.col("indexes")[name])
    k = max(db.spark.sparkContext.defaultParallelism // 4, 1)
    return _rewrite_archive(db, enriched, ".reindex.tmp", k)


def expire_events(db: Db, older_than) -> Db:
    """Retention: rewrite the archive without events whose ``ts`` is
    strictly older than ``older_than`` (timestamp or ISO string). The
    reference's archives are immutable forever (esdb.go — no delete
    path); at 100 TB retention is an operational requirement, so this
    is the OPTIMIZE-shaped answer: filter + rewrite + atomic swap, the
    same lifecycle-safe pattern as :func:`compact_archive`.

    The filter is a pushed parquet predicate, so row groups wholly
    newer than the cutoff are copied without decoding row-by-row
    filtering work, and row groups wholly older are skipped at the
    scan. Spaces left empty disappear (their partition directory is
    simply not rewritten). Returns the re-opened Db.
    """
    if db.path is None:
        raise ValueError("cannot expire an in-memory Db")
    cutoff = F.lit(older_than).cast("timestamp")
    kept = db.df.filter(F.col("ts") >= cutoff)
    if kept.limit(1).count() == 0:
        # a total purge would swap in a directory with NO parquet files
        # and destroy the archive before Db.open ever errors — refuse;
        # deleting an archive is an explicit fs.delete, not a retention
        # sweep
        raise ValueError(
            "expire_events: cutoff would delete every event — refusing "
            "to destroy the archive; delete the directory explicitly if "
            "that is intended"
        )
    k = max(db.spark.sparkContext.defaultParallelism // 4, 1)
    return _rewrite_archive(db, kept, ".expire.tmp", k)
