"""Batch archive writer — reference parity for the `.esdb` write path.

Reference surface (/root/reference): ``New`` (writer.go:26-39, O_EXCL
create), ``Add`` (writer.go:43-57), ``Flush`` (writer.go:62-68),
``Write`` (writer.go:72-140). The reference buffers events per space in
memory, stable-sorts ts-descending, packs 4KB snappy blocks and writes
SSTable indexes. Here the *entire* physical layer is Parquet:

- ``partitionBy("space")`` reproduces the space point-lookup layout
  (two-level SSTable offsets → Hive partition pruning);
- ``sortWithinPartitions(grouping, ts desc, seq asc)`` reproduces the
  grouping-clustered, ts-desc stable order (event_block_writer.go:14-16)
  so Parquet row-group min/max stats skip non-matching groupings;
- every file is written through :func:`store_writer` as Parquet v2
  data pages (see there for the encodings).

:func:`write_archive` is the one archive write: ``Writer`` and the
rewrites of :mod:`esdb_spark.maintenance` (compaction, post-hoc index
materialization, retention) all go through it, so the clustering
contract and the encoding live in one place.

Two ingest paths:

- ``Writer.add(...)`` row-at-a-time buffering, mirroring the reference
  API (the reference also buffers on the writing host). Good for tests
  and small archives.
- ``Writer.add_dataframe(df)`` / ``write_events(df, path)`` — the bulk
  path for cluster-scale ingest: no driver materialization, the rows
  stay distributed end-to-end. At 100 TB this is the only path; the
  row API exists for API parity.

Scale note (|space| cardinality): Hive partitioning is right while the
number of distinct spaces is moderate (≤ ~10k). For millions of tiny
spaces, pass ``layout="clustered"`` — a single non-partitioned dataset
sorted by (space, grouping, ts desc) where row-group stats provide the
pruning instead of directories (avoids the small-files problem).
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Mapping

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, functions as F

from esdb_spark.errors import DbExistsError, ImmutableError
from esdb_spark.schema import EVENTS_COLUMNS, EVENTS_SCHEMA

#: marker file written by ``Writer.write()``; its presence makes the
#: archive immutable (parity with the reference's `written` flag,
#: writer.go:44-46) and lets ``Db.open`` distinguish a finalized archive.
WRITTEN_MARKER = "_ESDB_WRITTEN"


def _to_ts(timestamp) -> _dt.datetime:
    """Accept reference-style int epoch-seconds or datetime."""
    if isinstance(timestamp, _dt.datetime):
        return timestamp
    return _dt.datetime.fromtimestamp(int(timestamp), tz=_dt.timezone.utc).replace(
        tzinfo=None
    )


class Writer:
    """Write-once archive builder (reference ``esdb.New`` → ``Write``)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        layout: str = "partitioned",
        materialize_indexes: list[str] | None = None,
        tasks_per_space: int | None = None,
    ):
        """``materialize_indexes``: secondary-index names to additionally
        store as plain ``_idx_<name>`` columns. A predicate on a map
        element (``indexes['city'] = 'x'``) is NOT pushed into the
        Parquet scan (only IsNotNull reaches it — verified), so plain
        index scans decode every row of the space. A materialized column
        gets real pushdown + dictionary/row-group skipping — the Spark
        equivalent of the reference's secondary index pointer lists
        (index_block_writer.go). ``Space.scan_index`` uses the column
        automatically when present."""
        from esdb_spark import fs

        if fs.exists(spark, path):
            # Parity: reference New() is O_EXCL (writer.go:26-39) —
            # checked through the Hadoop FileSystem API so it holds on
            # cluster filesystems, not only local disk.
            raise DbExistsError(f"esdb archive already exists at {path}")
        if layout not in ("partitioned", "clustered"):
            raise ValueError(f"unknown layout {layout!r}")
        self._spark = spark
        self._path = path
        self._layout = layout
        self._tasks_per_space = tasks_per_space
        self._materialize = list(materialize_indexes or [])
        self._rows: list[tuple] = []
        self._bulk: list[DataFrame] = []
        self._persisted: list[DataFrame] = []
        self._seq = 0
        self._written = False
        self._flushed_spaces: set[str] = set()

    # -- ingest -----------------------------------------------------------

    def add(
        self,
        space: str,
        data: str,
        timestamp,
        grouping: str = "",
        indexes: Mapping[str, str] | None = None,
    ) -> None:
        """Buffer one event (reference Add, writer.go:43-57)."""
        self._check_mutable()
        self._rows.append(
            (
                str(space),
                grouping,
                _to_ts(timestamp),
                self._seq,
                data,
                dict(indexes or {}),
            )
        )
        self._seq += 1

    def add_dataframe(self, df: DataFrame, assign_seq: bool = True) -> None:
        """Bulk-buffer a distributed DataFrame of events.

        ``df`` must have columns (space, grouping, ts, data, indexes)
        and optionally ``seq``. With ``assign_seq`` a DENSE id is
        assigned in the DataFrame's partition order (= file order for a
        freshly-read source, matching the reference CSV loader's
        insertion order, testdata/build.go:47-60), continuing from the
        writer's running counter — so repeated bulk calls and the
        row-level ``add`` API share one seq space and the documented
        insertion-order tie-break stays deterministic across batches
        (monotonically_increasing_id alone restarts near 0 per batch
        and collides). Dense assignment runs one counts job at call
        time and persists the batch until ``write()`` (MEMORY_AND_DISK).
        """
        self._check_mutable()
        required = {"space", "grouping", "ts", "data", "indexes"}
        missing = required - set(df.columns)
        if missing:
            raise ValueError(
                f"events DataFrame is missing columns {sorted(missing)}; "
                f"expected {sorted(required)} (+ optional seq). "
                "Use esdb_spark.sources.ingest.events_from_columns to shape "
                "arbitrary inputs."
            )
        if assign_seq or "seq" not in df.columns:
            df = self._assign_dense_seq(df)
        self._bulk.append(df.select(*EVENTS_COLUMNS))

    def _assign_dense_seq(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        src = df.withColumn("_pid", F.spark_partition_id()).persist()
        self._persisted.append(src)
        counts = src.groupBy("_pid").count().collect()
        offsets: dict[int, int] = {}
        acc = 0
        for row in sorted(counts, key=lambda r: r["_pid"]):
            offsets[row["_pid"]] = acc
            acc += row["count"]
        base = self._seq
        self._seq = base + acc
        if not acc:
            return df.withColumn("seq", F.lit(0).cast("long"))
        off_map = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
        return src.withColumn(
            "seq",
            (
                F.lit(base) + off_map[F.col("_pid")] + F.row_number().over(w) - F.lit(1)
            ).cast("long"),
        ).drop("_pid")

    # -- output -----------------------------------------------------------

    def flush(self, space: str) -> None:
        """Write one space's buffered events now (reference Flush,
        writer.go:62-68 — caps writer memory)."""
        self._check_mutable()
        keep, out = [], []
        for row in self._rows:
            (out if row[0] == str(space) else keep).append(row)
        self._rows = keep
        if out:
            self._write_rows(out, mode="append")
            self._flushed_spaces.add(str(space))

    def write(self) -> None:
        """Finalize the archive (reference Write, writer.go:72-140)."""
        self._check_mutable()
        mode = "append" if self._flushed_spaces else "errorifexists"
        if self._rows or self._bulk or not self._flushed_spaces:
            df = self._build_df()
            self._write_df(df, mode=mode)
        # Marker = the reference's footer: flips the archive immutable.
        from esdb_spark import fs

        fs.mkdirs(self._spark, self._path)
        fs.touch(self._spark, os.path.join(self._path, WRITTEN_MARKER))
        self._rows, self._bulk = [], []
        for cached in self._persisted:
            cached.unpersist()
        self._persisted = []
        self._written = True

    # -- internals ----------------------------------------------------------

    def _check_mutable(self) -> None:
        if self._written:
            # Parity: "db already written" (writer.go:44-46).
            raise ImmutableError("esdb archive already written")

    def _build_df(self) -> DataFrame:
        parts = list(self._bulk)
        if self._rows or not parts:
            parts.append(
                self._spark.createDataFrame(self._rows, schema=EVENTS_SCHEMA)
            )
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        return df

    def _write_rows(self, rows: list[tuple], mode: str) -> None:
        self._write_df(
            self._spark.createDataFrame(rows, schema=EVENTS_SCHEMA), mode=mode
        )

    def _write_df(self, df: DataFrame, mode: str) -> None:
        for name in self._materialize:
            df = df.withColumn(f"_idx_{name}", F.col("indexes")[name])
        k = self._tasks_per_space or self._spark.sparkContext.defaultParallelism
        write_archive(df, self._path, mode, k, layout=self._layout)


def store_writer(df: DataFrame) -> DataFrameWriter:
    """``df.write`` for a Parquet file in one of the engine's own stores:
    the archive, event streams and maintained state. Every such write
    goes through here.

    It selects Parquet v2 data pages (``parquet.writer.version=v2``):
    an int64 column whose dictionary does not pay (``seq``, ids) is
    DELTA_BINARY_PACKED instead of PLAIN, strings are RLE_DICTIONARY,
    and pages are DataPageV2. The codec stays the session's (snappy
    under ``get_spark``), and row-group min/max statistics are kept, so
    pruning and every read path are unchanged. A store may hold v1
    files written earlier beside v2 ones; Spark and pyarrow read both,
    and DuckDB reads the v2 archive.

    User-facing exports (``sources.training_sink``,
    ``operators.versioning``, ``sources.bucketed``, ``sources.ingest``)
    keep Spark's default format for whatever reads them next."""
    return df.write.option("parquet.writer.version", "v2")


def write_archive(
    df: DataFrame,
    path: str,
    mode: str,
    tasks_per_space: int,
    layout: str = "partitioned",
) -> None:
    """Write events to an archive directory in its clustered order.

    Within each file the rows are sorted by (space, grouping, ts desc,
    seq asc), so scans read them in emit order and row-group stats
    prune groupings. The sort is LED BY the partition column: without
    it the dynamic-partition writer plans its own non-stable sort on
    ``space`` and destroys the clustering.

    ``partitioned``: one directory per space. Write parallelism must
    not be bounded by |space|: ``repartition("space")`` would funnel
    each hot space through ONE task. The shuffle key is salted with a
    hash of ``grouping``, so every space fans out over up to
    ``tasks_per_space`` writer tasks (files) while each grouping still
    lands wholly in one file (the salt is a pure function of grouping).

    ``clustered``: one non-partitioned dataset for very high |space|
    cardinality, range-partitioned by (space, grouping) whatever
    ``tasks_per_space``; row-group min/max stats on ``space`` stand in
    for directory pruning.
    """
    partitioned = layout == "partitioned"
    if partitioned:
        k = max(int(tasks_per_space), 1)
        salt = F.pmod(F.xxhash64("grouping"), F.lit(k))
        df = df.repartition(F.col("space"), salt.alias("_salt"))
    else:
        df = df.repartitionByRange("space", "grouping")
    out = store_writer(
        df.sortWithinPartitions(
            "space", "grouping", F.col("ts").desc(), F.col("seq").asc()
        )
    ).mode(mode)
    if partitioned:
        out = out.partitionBy("space")
    out.parquet(path)


def write_events(
    df: DataFrame,
    path: str,
    layout: str = "partitioned",
    assign_seq: bool = False,
    materialize_indexes: list[str] | None = None,
    tasks_per_space: int | None = None,
) -> None:
    """One-shot bulk archive build from a distributed DataFrame."""
    spark = df.sparkSession
    writer = Writer(
        spark,
        path,
        layout=layout,
        materialize_indexes=materialize_indexes,
        tasks_per_space=tasks_per_space,
    )
    writer.add_dataframe(df, assign_seq=assign_seq)
    writer.write()
