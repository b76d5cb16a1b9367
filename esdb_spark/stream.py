"""Append-able event streams — parity for the reference `stream` package.

Reference surface (/root/reference/stream/): ``New``/``Open``
(stream.go:45-72), ``Write`` (open_stream.go:52-105), ``First``
(open_stream.go:107-115, closed_stream.go:52-67), ``ScanIndex``
newest→oldest with continuation offsets (stream.go:74-90), ``Iterate``
oldest→newest (stream.go:92-124), ``Close`` (open_stream.go:146-201),
``Merge`` (merge.go:7-34).

Spark mapping:

- the on-disk backward-linked-list + tail-pointer machinery
  (open_stream.go:52-105) exists only because the reference appends to
  a flat file; in Spark the stream is an append-only Parquet dataset
  and every index scan is a pushed predicate + ``ORDER BY seq DESC``;
- the in-memory tail map (``tails[name:value] = offset``) becomes an
  arg-max aggregate (``max_by(struct(*), seq)``), see :meth:`tails`;
- continuation *offsets* (stream/event.go:23-25, opaque int64 file
  positions) become keyset cursors on ``seq``: resume a newest→oldest
  index scan with ``seq < cursor``, an oldest→newest iterate with
  ``seq > cursor``. "Cursor is None" = exhausted, matching the
  reference's 0-offset sentinel;
- ``Close`` compacts the append log into sorted Parquet and drops a
  marker, after which writes raise (closed_stream write test parity);
  this mirrors the reference's open→closed lifecycle and is also the
  small-files answer at scale;
- crash recovery (open_stream.go:219-241) is subsumed by Parquet's
  atomic task commits: a torn append simply never becomes a committed
  file, so reopen sees exactly the committed prefix.

The stream schema is (seq BIGINT, data STRING, indexes MAP) — the
reference's stream events carry no timestamp; append order is the only
time axis (stream/event.go).

Scale note: ``write()`` writes one small file per event and is for
tests. Real ingest goes through :meth:`append_dataframe` (micro-batch,
e.g. from ``foreachBatch``) and periodic :meth:`compact`. An append is
one cached pass over the batch and one write: 2 Spark jobs, no shuffle.

- The first job counts rows per source partition by collecting each
  row's partition id, and its data length when AQE coalescing is on,
  as JVM-built Arrow: 4 to 8 bytes of driver memory per row.
- ``seq = start + offset(partition) + row index within the partition``,
  so seqs are dense and follow partition order, then the order within
  each partition. A partition may hold at most 2^33 - 1 rows.
- With AQE coalescing on, a batch writes ceil(data bytes /
  ``spark.sql.adaptive.coalescePartitions.minPartitionSize``) files, at
  most one per non-empty partition; with it off, one per partition.
- Every file is written as Parquet v2 data pages
  (:func:`~esdb_spark.writer.store_writer`), so a file's dense ``seq``
  run is DELTA_BINARY_PACKED: a stream of 5,800 sf0.1 events in nine
  appends stores its ``seq`` column in 424 bytes (24,383 as v1 PLAIN).
"""

from __future__ import annotations

import os
import re
from typing import Iterable, Mapping

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T
from pyspark.errors import AnalysisException

from esdb_spark import fs
from esdb_spark.errors import (
    DbExistsError,
    PartitionTooLargeError,
    StreamClosedError,
)
from esdb_spark.writer import store_writer

STREAM_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("data", T.StringType(), True),
        T.StructField("indexes", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: parity with the `closedESDBstream` footer magic (stream/stream.go:64-71)
CLOSED_MARKER = "_ESDB_STREAM_CLOSED"

#: rows one source partition may hold in an append: the row index lives
#: in the low 33 bits of ``monotonically_increasing_id``
_PARTITION_ROWS = 1 << 33

_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}


def _aqe_coalescing(spark: SparkSession) -> bool:
    """Whether AQE would coalesce a shuffle's partitions in this session."""
    return all(
        spark.conf.get(key).strip().lower() == "true"
        for key in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    )


def _min_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.adaptive.coalescePartitions.minPartitionSize`` in bytes
    (Spark byte-string syntax: ``1MB``, ``512k``, ``1048576``)."""
    raw = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", raw.lower())
    if not m:
        raise ValueError(f"minPartitionSize: cannot parse {raw!r}")
    return max(1, int(m.group(1)) * _BYTE_UNITS[m.group(2)])


class EventStream:
    """One append-able event log (reference ``stream.Stream``)."""

    def __init__(self, spark: SparkSession, path: str):
        self._spark = spark
        self._path = path
        self._next_seq: int | None = None  # lazy, like open_stream.go:203-241

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def new(cls, spark: SparkSession, path: str) -> "EventStream":
        """Create a new stream (stream.go:45-52; errors if exists).
        Existence/creation go through the Hadoop FileSystem API so the
        O_EXCL parity holds on cluster filesystems, not just local
        disk."""
        if fs.exists(spark, path):
            raise DbExistsError(f"stream already exists at {path}")
        fs.mkdirs(spark, path)
        stream = cls(spark, path)
        stream._next_seq = 0
        return stream

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "EventStream":
        """Open an existing stream; open vs closed is auto-detected from
        the marker, like the footer sniff in stream.go:54-72."""
        if not fs.exists(spark, path):
            raise FileNotFoundError(f"no stream at {path}")
        return cls(spark, path)

    @property
    def closed(self) -> bool:
        return fs.exists(self._spark, os.path.join(self._path, CLOSED_MARKER))

    # -- write path ----------------------------------------------------------

    def write(self, data: str, indexes: Mapping[str, str] | None = None) -> int:
        """Append one event; returns its seq (reference Write returns the
        event's offset, open_stream.go:52-105). Test-scale only — real
        ingest batches via :meth:`append_dataframe`."""
        return self.write_batch([(data, indexes or {})])

    def write_batch(
        self, events: Iterable[tuple[str, Mapping[str, str]]]
    ) -> int:
        """Append a batch of (data, indexes) pairs; returns last seq."""
        self._check_open()
        start = self._seq_start()
        rows = [
            (start + i, data, dict(indexes or {}))
            for i, (data, indexes) in enumerate(events)
        ]
        if not rows:
            return start - 1
        df = self._spark.createDataFrame(rows, schema=STREAM_SCHEMA)
        store_writer(df.coalesce(1)).mode("append").parquet(self._path)
        self._next_seq = rows[-1][0] + 1
        return rows[-1][0]

    def append_dataframe(self, df: DataFrame) -> None:
        """Micro-batch append (the ``foreachBatch`` target). ``df`` needs
        (data, indexes); seq is assigned monotonically after the current
        tail, preserving the batch's partition order."""
        self._check_open()
        end = self._write_seqed(df, self._path)
        self._next_seq = end

    def stage_dataframe(self, df: DataFrame, stage_path: str) -> int:
        """Write a seq-assigned batch to ``stage_path`` WITHOUT
        publishing it to the log — the prepare half of the two-phase
        append that ``streaming.stream_into`` uses for exactly-once
        delivery. Seqs continue from the current tail, but the tail
        itself does not advance until :meth:`promote_staged` moves the
        files in. Returns the next seq after the staged batch."""
        self._check_open()
        return self._write_seqed(df, stage_path)

    def promote_staged(self, stage_path: str, next_seq: int | None = None) -> None:
        """Publish a staged batch: rename each staged parquet file into
        the stream directory. Idempotent — a file whose destination
        already exists (a replay after a crash mid-promote) is skipped,
        so promoting the same staged dir twice can never duplicate
        events. Parquet part-file names embed a per-write UUID, so a
        staged name can only collide with its own earlier promotion.

        ``next_seq`` (returned by :meth:`stage_dataframe`) advances the
        cached tail without a job; omit it on a crash-replay (where the
        staging ran in a previous process) and the next append re-scans
        ``max(seq)`` instead."""
        self._check_open()
        for name, is_dir in fs.list_dir(self._spark, stage_path):
            if is_dir or not name.endswith(".parquet"):
                continue  # _STAGED_OK marker, _SUCCESS, .crc files
            src = f"{stage_path}/{name}"
            dst = f"{self._path}/{name}"
            if fs.exists(self._spark, dst):
                continue  # already promoted before the crash
            if not fs.rename(self._spark, src, dst):
                raise IOError(f"promote_staged: rename {src} -> {dst} failed")
        if next_seq is not None:
            self._next_seq = next_seq
        else:
            self._next_seq = None  # force a tail re-scan on next append

    def _write_seqed(self, df: DataFrame, dest: str) -> int:
        """Assign dense seqs after the current tail and write parquet to
        ``dest``; returns the next seq after the batch. Does NOT advance
        ``self._next_seq``: callers decide when the write is published.

        One cached pass and one write (2 jobs, no shuffle). The pass
        returns ``_pid``, plus ``octet_length(data)`` when AQE coalescing
        is on, as JVM-built Arrow: 4 or 8 bytes of driver memory per row.
        The file count follows the rule in the module's scale note.
        ``df.select("data", "indexes")`` is persisted with each row's
        ``spark_partition_id()`` (``_pid``) and
        ``monotonically_increasing_id()`` (``_mid``), so the rows counted
        are the rows written even when ``df`` is non-deterministic.
        ``_mid - (_pid << 33)`` is the row's index within its partition,
        and ``seq = offsets[_pid] + _mid - (_pid << 33)`` with ``start``
        folded into the map literal ``offsets``: a map literal reaches
        generated code by reference, so batches of the same shape reuse
        the compiled write. A partition of 2^33 rows or more raises
        :class:`PartitionTooLargeError` before anything is written.
        """
        start = self._seq_start()
        coalescing = _aqe_coalescing(self._spark)
        src = df.select(
            "data",
            "indexes",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        ).persist()
        try:
            cols = [F.col("_pid")]
            if coalescing:
                cols.append(F.octet_length("data").alias("_len"))
            sizes = src.select(*cols).toArrow()
            counts = {
                c["values"]: c["counts"]
                for c in pc.value_counts(sizes.column("_pid")).to_pylist()
            }
            if not counts:
                return start
            offsets, acc = {}, start
            for pid in sorted(counts):
                if counts[pid] >= _PARTITION_ROWS:
                    raise PartitionTooLargeError(
                        f"partition {pid} holds {counts[pid]} rows; a stream "
                        f"append assigns seqs to at most {_PARTITION_ROWS - 1}"
                        " rows per partition"
                    )
                offsets[pid] = acc
                acc += counts[pid]
            off_map = F.create_map(
                *[
                    c
                    for pid, off in offsets.items()
                    for c in (F.lit(pid), F.lit(off).cast("long"))
                ]
            )
            out = src.select(
                (
                    off_map[F.col("_pid")]
                    + F.col("_mid")
                    - F.shiftleft(F.col("_pid").cast("long"), 33)
                ).alias("seq"),
                "data",
                "indexes",
            )
            if coalescing:
                data_bytes = pc.sum(sizes.column("_len")).as_py() or 0
                per_file = _min_partition_bytes(self._spark)
                files = max(1, -(-data_bytes // per_file))
                out = out.coalesce(min(len(counts), files))
            store_writer(out).mode("append").parquet(dest)
            return acc
        finally:
            src.unpersist()

    # -- read path -----------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The raw stream as a DataFrame (empty if nothing committed).

        Only the expected nothing-committed-yet AnalysisException maps
        to empty; any other read failure (permissions, transient IO)
        propagates — swallowing it would silently restart seq at 0 and
        corrupt the log."""
        try:
            return self._spark.read.schema(STREAM_SCHEMA).parquet(self._path)
        except AnalysisException:
            return self._spark.createDataFrame([], schema=STREAM_SCHEMA)

    def first(self, name: str, value: str) -> Row | None:
        """Newest event carrying index name=value (reference First,
        open_stream.go:107-115 — tail map lookup; closed_stream.go:52-67
        — SSTable lookup). Arg-max on seq replaces both."""
        rows = (
            self.df.filter(F.col("indexes")[name] == value)
            .orderBy(F.col("seq").desc())
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def scan_index(
        self, name: str, value: str, cursor: int | None = None
    ) -> DataFrame:
        """Newest→oldest over one index entry (stream.go:74-90). A
        ``cursor`` (a previously-seen seq) resumes strictly after it."""
        df = self.df.filter(F.col("indexes")[name] == value)
        if cursor is not None:
            df = df.filter(F.col("seq") < cursor)
        return df.orderBy(F.col("seq").desc())

    def iterate(self, cursor: int | None = None) -> DataFrame:
        """Oldest→newest full-log scan (stream.go:92-124)."""
        df = self.df
        if cursor is not None:
            df = df.filter(F.col("seq") > cursor)
        return df.orderBy(F.col("seq").asc())

    def scan_index_page(
        self, name: str, value: str, cursor: int | None = None, limit: int = 100
    ) -> tuple[list[Row], int | None]:
        """One page of a newest→oldest index scan plus the continuation
        cursor (None = exhausted — the reference's 0 offset,
        stream/event.go:23-25). ``limit`` must be at least 1."""
        _check_limit(limit)
        rows = self.scan_index(name, value, cursor).limit(limit + 1).collect()
        has_more = len(rows) > limit
        rows = rows[:limit]
        return rows, (rows[-1]["seq"] if has_more and rows else None)

    def iterate_page(
        self, cursor: int | None = None, limit: int = 100
    ) -> tuple[list[Row], int | None]:
        """One page of the oldest→newest log scan plus continuation.

        Matches reference Iterate's returned resume offset
        (stream.go:92-124): the cursor stays valid across appends, so it
        is returned even at the current end of the log. ``limit`` must be
        at least 1.
        """
        _check_limit(limit)
        rows = self.iterate(cursor).limit(limit).collect()
        if not rows:
            return rows, cursor
        return rows, rows[-1]["seq"]

    def tails(self) -> DataFrame:
        """Newest seq per (index name, value) — the reference's in-memory
        tail map / closed-stream SSTable (open_stream.go:96-99) as an
        aggregate: explode the map, arg-max by seq."""
        exploded = self.df.select(
            "seq", "data", F.explode_outer("indexes").alias("name", "value")
        ).filter(F.col("name").isNotNull())
        return exploded.groupBy("name", "value").agg(
            F.max("seq").alias("seq"),
            F.max_by("data", "seq").alias("data"),
        )

    # -- close / compact -------------------------------------------------------

    def compact(self) -> None:
        """Rewrite the append log as few sorted files (small-file
        hygiene; the open→closed rewrite without sealing). The write to
        the tmp dir materializes the snapshot while the source files are
        still intact; then the directories swap atomically-enough for a
        single-writer stream (the reference is single-writer too)."""
        tmp = self._path + ".compact.tmp"
        ordered = self.df.orderBy("seq").coalesce(1)
        store_writer(ordered).mode("overwrite").parquet(tmp)
        closed = self.closed
        fs.replace_dir(self._spark, tmp, self._path)
        if closed:  # preserve the seal across the rewrite
            self._touch_marker()

    def close(self) -> None:
        """Seal the stream (open_stream.go:146-201): compact to sorted
        Parquet + drop the closed marker; later writes raise."""
        if self.closed:
            return
        self.compact()
        self._touch_marker()

    # -- internals ---------------------------------------------------------

    def _touch_marker(self) -> None:
        fs.touch(self._spark, os.path.join(self._path, CLOSED_MARKER))

    def _check_open(self) -> None:
        if self.closed:
            # Parity: write-after-close errors (closed_stream_test.go:154-161).
            raise StreamClosedError(f"stream at {self._path} is closed")

    def _seq_start(self) -> int:
        if self._next_seq is None:
            # Reopen rebuild — the reference re-scans the log to find the
            # tail (open_stream.go:203-241); we ask Parquet for max(seq).
            row = self.df.agg(F.max("seq")).collect()[0]
            self._next_seq = (row[0] + 1) if row[0] is not None else 0
        return self._next_seq


def _check_limit(limit: int) -> None:
    """A page of fewer than one row could not tell "exhausted" from
    "more rows remain", nor advance a cursor."""
    if limit < 1:
        raise ValueError(f"page limit must be at least 1, got {limit}")


def merge_streams(
    spark: SparkSession, destination: str, paths: list[str]
) -> EventStream:
    """Concatenate streams into a new *closed* stream (merge.go:7-34).

    Order is stream order then per-stream append order — NOT
    timestamp-interleaved (merge_stream_test.go:59): the reference
    replays each source's Iterate into the destination sequentially.
    seq is re-assigned densely across the concatenation.
    """
    dest = EventStream.new(spark, destination)
    offset = 0
    for path in paths:
        src = EventStream.open(spark, path).df
        mm = src.agg(
            F.count("*").alias("n"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
            # distinctness matters: duplicates+gaps can fake lo==0 and
            # hi==n-1 (e.g. [0,1,1,3]) and would corrupt the dense
            # fast-path's re-assignment
            F.countDistinct("seq").alias("nd"),
        ).collect()[0]
        if mm["n"]:
            if mm["lo"] == 0 and mm["hi"] == mm["n"] - 1 and mm["nd"] == mm["n"]:
                # Streams assign seq densely from 0 (write/_seq_start),
                # so renumbering is plain arithmetic: a shuffle-free
                # projection over the unordered source, since
                # ``dest.close()`` sorts the result by seq.
                renumbered = src.select(
                    (F.col("seq") + offset).alias("seq"), "data", "indexes"
                )
            else:
                # Defensive fallback for a non-dense source (not
                # produced by this library): rank by seq. Single-task,
                # but only ever hit on foreign data.
                renumbered = src.select(
                    (F.row_number().over(_seq_window()) + offset - 1).alias(
                        "seq"
                    ),
                    "data",
                    "indexes",
                )
            store_writer(renumbered).mode("append").parquet(dest._path)
            offset += mm["n"]
    dest._next_seq = offset
    dest.close()
    return dest


def _seq_window():
    from pyspark.sql import Window

    return Window.orderBy(F.col("seq").asc())



