"""Structured Streaming integration — the reference `stream` package's
live half (SURVEY §2.3, §3.3).

The reference's open stream is an appendable log with an in-memory
tail map (stream/open_stream.go:52-105). In Spark that maps to:

- a **streaming source** over the stream directory
  (:func:`read_event_stream`) — any committed micro-batch append
  becomes visible to the streaming query;
- **foreachBatch appends** (:func:`stream_into`) — the write half:
  an incoming streaming DataFrame is appended to an
  :class:`~esdb_spark.stream.EventStream` with monotone seq, exactly
  the reference's Write loop at micro-batch granularity;
- **live tails** (:func:`tails_query`) — a continuously-updated
  arg-max aggregate replacing the in-memory tail map. The bundled
  helper uses `complete` mode into the memory sink (the sink holds
  the whole map, which IS the tails contract and is bounded by
  distinct index pairs); at scale point the same aggregate at a keyed
  idempotent sink in `update` mode so each batch writes only
  re-written tails;
- **windowed event-rate** (:func:`windowed_counts`) — watermarked
  tumbling-window aggregation, the standard late-data-tolerant rollup
  the reference lacks (its "late" events are simply stored in arrival
  order; with a watermark we get the same permissiveness with bounded
  state).

It also keeps eight **maintained stores** current from change-feed
streams, all under one commit protocol. A store's ``state_path`` holds
parquet directories (``seg-*`` live segments, ``tomb-*`` tombstones)
and one ``manifest-<epoch>`` text file per published epoch, listing
the directories current as of that epoch. The manifest is the commit
point: it is published atomically (temp + rename), a directory no
manifest references is invisible, and readers read the newest
manifest (or the newest at or below ``as_of_epoch``). One epoch shell
(:func:`_maintain`) runs every store: it short-circuits an epoch that
is already published, hands the store's step the predecessor
manifest's entries, publishes what the step returns and sweeps
manifests and directories beyond ``keep_versions``.

- **Snapshot stores** (:func:`maintain_aggregate`,
  :func:`maintain_inverted_index`, :func:`maintain_doc_lengths`) fold
  each batch into the whole previous state and publish it as the
  manifest's one live segment; read them with
  :func:`read_maintained_aggregate` and its two aliases.
- **LSM stores** (:func:`maintain_inverted_index_lsm`,
  :func:`maintain_positional_index_lsm`,
  :func:`maintain_stored_fields`, :func:`maintain_ann_store`,
  :func:`maintain_spell_index`) write each batch as a live segment
  plus a tombstone and compact past ``compact_above`` entries; read
  them with :func:`read_maintained_index_segments`.
"""

from __future__ import annotations

import posixpath
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from esdb_spark import fs as _fs
from esdb_spark.stream import STREAM_SCHEMA, EventStream
from esdb_spark.writer import store_writer


def _instant(events: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks/event-time require an instant-typed TIMESTAMP; parquet
    naive timestamps arrive as TIMESTAMP_NTZ. Interpret the naive wall
    clock AS UTC via epoch micros (truly session-tz independent);
    no-op otherwise.

    NB: ``to_utc_timestamp(ntz, 'UTC')`` would NOT do this — the NTZ
    input is first implicitly cast using the session timezone, making
    the shift an identity and the resulting instants (and thus window
    boundaries) session-tz dependent. ``timestampdiff`` against the
    NTZ epoch is pure wall-clock arithmetic: no timezone enters the
    computation at all (verified identical under UTC and
    America/New_York sessions)."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        us = F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{ts_col}`)"
        )
        return events.withColumn(ts_col, F.timestamp_micros(us))
    return events


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming view of a stream directory (new parquet appends become
    micro-batches)."""
    return (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(path)
    )


def stream_into(
    source: DataFrame, stream: EventStream, checkpoint: str
):
    """Continuously append a streaming DataFrame of (data, indexes)
    into an EventStream via foreachBatch.

    foreachBatch alone is at-least-once: a crash between the parquet
    commit and the streaming checkpoint replays the epoch. The handler
    records each applied epoch in an ``_applied_epochs`` ledger inside
    the CHECKPOINT directory — keyed to this query's epoch numbering,
    so a fresh checkpoint (whose epochs restart at 0) starts a fresh
    ledger instead of silently skipping new data, and a second query
    with its own checkpoint appends independently. The ledger also
    survives ``stream.compact()`` (which rewrites the stream dir).

    Exactly-once via two-phase append: each epoch is (1) STAGED — seqs
    assigned, parquet written to ``<checkpoint>/_staged/<epoch>/``, a
    completion marker written last; (2) PROMOTED — each staged file is
    renamed into the stream dir (idempotent: a destination that already
    exists is skipped); (3) LEDGERED; (4) the staged dir is removed. A
    crash in any window replays safely: before the marker the partial
    stage is discarded and rebuilt from the (deterministic) replayed
    batch; after the marker the replay skips straight to the idempotent
    promote, so replaying an epoch whose append committed but whose
    ledger line did not re-runs file renames that no-op instead of
    appending again. Single writer per stream assumed (the reference's
    contract, open_stream.go)."""
    import os

    spark = stream._spark
    ledger = os.path.join(checkpoint, "_applied_epochs")
    _fs.mkdirs(spark, checkpoint)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # ledger IO goes through the Hadoop FS API (the checkpoint may
        # live on HDFS/S3); one line per epoch, rewritten whole — tiny
        applied: set[str] = set()
        if _fs.exists(spark, ledger):
            applied = {
                line.strip()
                for line in _fs.read_text(spark, ledger).splitlines()
                if line.strip()
            }
        staged = os.path.join(checkpoint, "_staged", str(epoch_id))
        if str(epoch_id) in applied:
            # replayed epoch → already committed; clear any staging
            # remnant from a crash between ledger write and cleanup
            if _fs.exists(spark, staged):
                _fs.delete(spark, staged)
            return
        marker = os.path.join(staged, "_STAGED_OK")
        next_seq = None
        if _fs.exists(spark, marker):
            # crash after staging completed: the staged files already
            # carry their seqs — do NOT restage (the tail may have
            # moved if some files were promoted before the crash)
            pass
        else:
            if _fs.exists(spark, staged):
                _fs.delete(spark, staged)  # partial stage → rebuild
            next_seq = stream.stage_dataframe(batch_df, staged)
            _fs.touch(spark, marker, "ok")
        stream.promote_staged(staged, next_seq)
        applied.add(str(epoch_id))
        _fs.touch(spark, ledger, "\n".join(sorted(applied)) + "\n")
        _fs.delete(spark, staged)

    return _start(source, handle, None, checkpoint, "append")


def tails_query(source: DataFrame, query_name: str = "tails"):
    """Live tail map: newest seq per (index name, value), continuously
    updated — the streaming replacement for open_stream.go:96-99's
    in-memory map. Results land in the in-memory table ``query_name``."""
    exploded = source.select(
        "seq", "data", F.explode_outer("indexes").alias("name", "value")
    ).filter(F.col("name").isNotNull())
    agg = exploded.groupBy("name", "value").agg(
        F.max("seq").alias("seq"), F.max_by("data", "seq").alias("data")
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def sessionize_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
):
    """Custom stateful operator: cross-batch sessionization via
    ``applyInPandasWithState`` (the engine's example of a streaming
    operator Spark's built-ins can't express — reference parity target
    'custom stateful operators' in the north star).

    Emits one row per *closed* session (a new event further than
    ``gap_seconds`` after the previous one closes the open session).
    The open session per key survives between micro-batches in the
    state store: (start_us, last_us, n_events).

    Returns the transformed streaming DataFrame; attach a sink and
    start it from the caller.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: "GroupState"):
        (k,) = key
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        # collect every Arrow chunk of the group BEFORE sorting — a
        # per-chunk sort would process a multi-chunk group out of time
        # order and mis-split sessions
        chunks = [
            pd.to_datetime(pdf["_ts"]).astype("int64") // 1000 for pdf in pdfs
        ]
        if chunks:
            ts_us = pd.concat(chunks).sort_values()
            for t in ts_us:
                t = int(t)
                if last_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > gap_us:
                    closed.append((k, start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
                else:
                    # events are sorted within a batch but not across
                    # batches: a late event must never move last_us
                    # BACKWARD (a regressed tail would let the next
                    # on-time event falsely close the session) — clamp
                    # both edges and absorb the late event
                    start_us = min(start_us, t)
                    last_us = max(last_us, t)
                    n += 1
        state.update((start_us, last_us, n))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["key", "session_start_us", "session_end_us", "n_events"],
            )

    prepared = events.select(
        F.col(key_col).cast("long").alias("key"), F.col(ts_col).alias("_ts")
    )
    return prepared.groupBy("key").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def session_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Per-key activity sessions via native ``session_window`` (gap
    closes a session): start/end/event-count (+ value sum when given).

    Works in batch and streaming from the same code path; pass
    ``watermark`` when streaming (append mode emits a session once the
    watermark passes its close). Complement to
    :func:`sessionize_stream`, which shows the applyInPandasWithState
    formulation for logic session_window can't express.

    Boundary note: ``session_window`` windows are half-open
    ``[t, t+gap)``, so two events spaced EXACTLY ``gap`` apart start
    separate sessions, whereas a lag-based ``gap > threshold``
    formulation keeps them together — equal on any data without
    exact-gap spacing (microsecond real timestamps), divergent on
    contrived exact boundaries.
    """
    ev = _instant(events, ts_col)
    if watermark:
        ev = ev.withWatermark(ts_col, watermark)
    aggs = [F.count("*").alias("n_events")]
    out_cols = ["n_events"]
    if value_col and value_col in events.columns:
        aggs.append(F.sum(value_col).alias(f"total_{value_col}"))
        out_cols.append(f"total_{value_col}")
    return (
        ev.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(*aggs)
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *out_cols,
        )
    )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair left rows with
    right rows sharing ``on`` whose ``right_ts`` falls in
    [left_ts, left_ts + within].

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so Spark can expire buffered state — the
    requirement that makes a stream-stream join runnable forever
    (unbounded state otherwise). Right columns come back suffixed
    ``_r``. Outer joins emit null-extended rows only after the
    watermark closes the match window.
    """
    l = _instant(left, left_ts).withWatermark(left_ts, watermark).alias("l")
    r = (
        _instant(right, right_ts)
        .withWatermark(right_ts, watermark)
        .select(
            [F.col(c).alias(c + "_r") for c in right.columns]
        )
        .alias("r")
    )
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}_r"))
        & (F.col(f"r.{right_ts}_r") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}_r")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return l.join(r, cond, how)


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop events whose ``key_cols`` were seen
    within the watermark horizon. State is bounded by the watermark
    (dropDuplicatesWithinWatermark), so it runs forever — the streaming
    face of operators/dedup.dedup_exact."""
    return _instant(events, ts_col).withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(key_cols)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str | None = "value",
) -> DataFrame:
    """Watermarked tumbling-window counts — the standard streaming
    rollup (append-mode safe: emits a window once the watermark passes
    it). ``value_col`` is summed when present; frames without it (e.g.
    the stream schema) get counts only."""
    aggs = [F.count("*").alias("n")]
    if value_col and value_col in events.columns:
        aggs.append(F.sum(value_col).alias(f"total_{value_col}"))
    return (
        _instant(events, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(*aggs)
    )


def ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.25,
):
    """Streaming twin of ``grouped.ewma_per_key``: the per-key EWMA
    recurrence continued across micro-batches via
    ``applyInPandasWithState`` — the state store carries one double
    (the running average) per key, so arbitrarily long-lived keys cost
    O(1) state.

    Emits one row per input event: (key, ts_us, value, ewma). Events
    are processed in event-time order WITHIN each micro-batch (sorted
    here); a late event arriving after a later-timestamped event has
    been smoothed is absorbed in arrival order — the recurrence never
    rewrites emitted history (append mode). Batch/stream parity on
    in-order input is asserted in test_streaming.py against the batch
    operator.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    if not 0 < alpha <= 1:
        raise ValueError("ewma_stream: alpha must be in (0, 1]")
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("ewma", T.DoubleType())])
    a = float(alpha)

    def fn(key, pdfs, state: "GroupState"):
        (k,) = key
        prev = state.get[0] if state.exists else None
        chunks = [
            pd.DataFrame(
                {
                    "ts_us": pd.to_datetime(pdf["_ts"]).astype("int64")
                    // 1000,
                    "value": pdf["_v"].astype("float64"),
                }
            )
            for pdf in pdfs
        ]
        if not chunks:
            return
        batch = pd.concat(chunks).sort_values("ts_us", ignore_index=True)
        e = prev
        out = []
        for t, x in zip(batch["ts_us"], batch["value"]):
            x = float(x)
            # same multiply-add order as the batch operator / oracle
            e = x if e is None else a * x + (1.0 - a) * e
            out.append((k, int(t), x, e))
        state.update((e,))
        yield pd.DataFrame(out, columns=["key", "ts_us", "value", "ewma"])

    prepared = events.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


_LSM_MANIFEST = "manifest-"


def _manifest_path(state_path: str, epoch: int) -> str:
    return posixpath.join(state_path, f"{_LSM_MANIFEST}{epoch:012d}")


def _lsm_manifests(spark: SparkSession, state_path: str) -> list[int]:
    if not _fs.exists(spark, state_path):
        return []
    out = []
    for n, is_dir in _fs.list_dir(spark, state_path):
        if is_dir or not n.startswith(_LSM_MANIFEST):
            continue
        suffix = n[len(_LSM_MANIFEST):]
        if suffix.isdigit():
            out.append(int(suffix))
    return sorted(out)


def _lsm_read_manifest(
    spark: SparkSession, state_path: str, epoch: int
) -> list[tuple[str, str]]:
    """[(kind, dirname)] with kind ∈ {'live', 'tomb'}."""
    out = []
    for line in _fs.read_text(
        spark, _manifest_path(state_path, epoch)
    ).splitlines():
        line = line.strip()
        if line:
            kind, name = line.split(" ", 1)
            out.append((kind, name))
    return out


def _newest_manifest(
    spark: SparkSession, state_path: str, before: int, caller: str
) -> list[tuple[str, str]]:
    """Entries of the newest manifest whose epoch is below ``before``
    (``[]`` when none is). The fold reads its predecessor through this
    and every reader its snapshot.

    The sweep may delete a listed manifest before it is read. It
    deletes the OLDEST manifests, so when the newest listed one is gone
    every older listed one is gone too, and walking back through the
    stale listing would return an empty store; a newer manifest exists
    instead, so the lookup re-lists. Only a vanished manifest retries:
    one that exists but fails to read is an IO error and surfaces."""
    for _attempt in range(5):
        epochs = [e for e in _lsm_manifests(spark, state_path) if e < before]
        if not epochs:
            return []
        try:
            return _lsm_read_manifest(spark, state_path, epochs[-1])
        except Exception:
            if _fs.exists(spark, _manifest_path(state_path, epochs[-1])):
                raise
    raise IOError(
        f"{caller}: newest manifest kept vanishing across 5 re-listings — "
        "sweep churn outpaces the reader (raise keep_versions) or the "
        "store is unstable"
    )


def _frames(
    spark: SparkSession, state_path: str, entries, kind: str
) -> list[DataFrame]:
    """One lazy parquet frame per manifest entry of ``kind``."""
    return [
        spark.read.parquet(posixpath.join(state_path, n))
        for k, n in entries
        if k == kind
    ]


def _lsm_sweep(
    spark: SparkSession, state_path: str, keep_versions: int
) -> None:
    """Drop manifests beyond the keep window, then segment dirs no
    kept manifest references (a dir referenced by ANY kept manifest —
    incl. the predecessor a replay would need — survives)."""
    kept = _lsm_manifests(spark, state_path)
    old = kept[:-keep_versions] if keep_versions > 0 else []
    for e in old:
        _fs.delete(spark, _manifest_path(state_path, e))
    referenced = set()
    for e in kept[len(old):]:
        referenced.update(
            n for _, n in _lsm_read_manifest(spark, state_path, e)
        )
    for n, is_dir in _fs.list_dir(spark, state_path):
        if is_dir and n not in referenced and (
            n.startswith("seg-") or n.startswith("tomb-")
        ):
            _fs.delete(spark, posixpath.join(state_path, n))


def _lsm_publish(
    spark: SparkSession,
    state_path: str,
    epoch_id: int,
    entries: list[tuple[str, str]],
    keep_versions: int,
    caller: str,
) -> None:
    """Publish an epoch's manifest — the commit point of every
    maintained store — then sweep versions beyond the keep window.

    The manifest is published ATOMICALLY via temp + rename, never
    created in place: fs.touch makes the file visible (empty) before
    its content lands, so a reader racing the write, or a crash
    mid-write, would otherwise see a torn or empty manifest as
    committed state and silently drop segments. The ".tmp" suffix
    fails the manifest listing's isdigit() check, so an orphaned temp
    is invisible; a replay overwrites it. The target cannot exist
    here: the shell short-circuits a published epoch and the stream is
    the single writer, so the rename never needs a delete-first (whose
    gap would strand a racing reader). rename reports failure as a
    BOOLEAN; ignoring it would lose the epoch silently AND let the
    same-epoch sweep collect the freshly written segment dirs (no
    manifest references them) while the streaming checkpoint commits
    the batch as done, so a failed rename raises and the replay
    re-publishes.
    """
    mpath = _manifest_path(state_path, epoch_id)
    _fs.mkdirs(spark, state_path)
    tmp = mpath + ".tmp"
    _fs.touch(
        spark, tmp, "".join(f"{kind} {n}\n" for kind, n in entries)
    )
    if not _fs.rename(spark, tmp, mpath):
        raise IOError(
            f"{caller}: manifest publish failed (rename {tmp} -> {mpath})"
        )
    _lsm_sweep(spark, state_path, keep_versions)


def _write_state_dir(spark, df, out: str, partition_by) -> bool:
    """Write a state frame to ``out`` (partitioned by ``partition_by``
    when the frame has those columns) and return whether it holds
    rows: the one parquet write of every LSM store. The emptiness
    probe reads back under the WRITER's schema: that runs no
    schema-inference job, and it reads a partitioned write of an empty
    frame, which leaves no files at all. An empty PARTITIONED result is
    rewritten flat, so the dir stays schema-readable when a manifest
    references it (a compaction that deletes everything is legal
    state)."""
    w = store_writer(df).mode("overwrite")
    partitioned = partition_by and set(partition_by) <= set(df.columns)
    if partitioned:
        w = w.partitionBy(*partition_by)
    w.parquet(out)
    non_empty = bool(
        spark.read.schema(df.schema).parquet(out).limit(1).count()
    )
    if partitioned and not non_empty:
        # a schema-only empty frame: rewriting from `df` would
        # re-execute the whole fold plan just to produce zero rows
        store_writer(spark.createDataFrame([], df.schema)).mode(
            "overwrite"
        ).parquet(out)
    return non_empty


def _require_keep_versions(keep_versions: int, caller: str) -> None:
    """0 keeps every version; otherwise the keep window must hold at
    least the newest manifest's predecessor, which a reader that listed
    it just before a publish, or an ``as_of_epoch`` read, still
    needs."""
    if keep_versions != 0 and keep_versions < 2:
        raise ValueError(
            f"{caller}: keep_versions must be >= 2 (or 0 to keep every "
            "version) — a reader still holding the superseded manifest, "
            "or an as_of_epoch read of it, needs its segments"
        )


def _start(stream: DataFrame, fold, query_name, checkpoint, mode="update"):
    """Start ``fold`` as ``stream``'s foreachBatch sink: the one start
    site of every maintainer and of :func:`stream_into`."""
    writer = stream.writeStream.foreachBatch(fold).outputMode(mode)
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _maintain(
    stream: DataFrame,
    state_path: str,
    caller: str,
    keep_versions: int,
    step,
    query_name: str,
    checkpoint: str | None,
):
    """The epoch shell every maintained store runs in; returns the
    started StreamingQuery. Per micro-batch it owns the whole commit
    protocol (see the module docstring):

    - an epoch whose manifest is already published (the crash landed
      between the manifest rename and the checkpoint commit) skips the
      recompute and only re-runs the sweep, so no referenced directory
      is ever rewritten under a reader;
    - otherwise ``step(spark, batch, epoch_id, entries)`` gets the
      predecessor manifest's entries and returns the epoch's own,
      having written every directory they name that is new;
    - :func:`_lsm_publish` commits them and sweeps.

    Replays of an unpublished epoch recompute from the same
    predecessor and overwrite only directories no manifest references
    yet, so foreachBatch's at-least-once delivery cannot double-apply
    a batch."""
    _require_keep_versions(keep_versions, caller)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if _fs.exists(spark, _manifest_path(state_path, epoch_id)):
            _lsm_sweep(spark, state_path, keep_versions)
            return
        entries = _newest_manifest(spark, state_path, epoch_id, caller)
        _lsm_publish(
            spark, state_path, epoch_id,
            step(spark, batch_df, epoch_id, entries), keep_versions, caller,
        )

    return _start(stream, fold, query_name, checkpoint)


def _op_guard(op_col: str, caller: str, id_col: str | None = None,
              text_col: str | None = None):
    """The one change-feed validation CASE: a bad op raises; with
    ``id_col``, a NULL id raises (it would bypass every equality-keyed
    guard downstream and can never be deleted); with ``text_col``, a
    row with NULL text raises — a key-only delete cannot subtract
    postings, so the doc would keep serving forever with no guard
    able to see it (an EMPTY string stays legal: deleting a
    legitimately token-less doc is a correct no-op). All arms live in
    one CASE whose otherwise is True, so no sibling conjunct can
    constraint-propagate a raise arm away."""
    # Callers MUST pass a NON-NULLABLE op column (the _null_safe_op
    # coalesce helper), and split insert/delete on that SAME column.
    # Guarding the raw column cannot work however it is spelled: the
    # downstream `op = 'insert'` split filters make
    # InferFiltersFromConstraints derive isnotnull(op) and push it to
    # the SCAN, below any guard filter, so a NULL-op row would be
    # dropped before the guard ever saw it. Over the coalesced column
    # the sentinel fails isin and raises like any bad op.
    guard = F.when(
        ~F.col(op_col).isin("insert", "delete"),
        F.raise_error(
            F.concat(
                F.lit(f"{caller}: bad op (expected insert/delete): "),
                F.col(op_col).cast("string"),
            )
        ).cast("boolean"),
    )
    if id_col is not None:
        guard = guard.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit(
                    f"{caller}: NULL {id_col} in the change feed — "
                    "equality-keyed guards and the delete face can "
                    "never match it"
                )
            ).cast("boolean"),
        )
    if text_col is not None:
        # NULL text is rejected on BOTH ops, not only deletes: a
        # NULL-text insert is a legal corpus shape elsewhere, but its
        # faithful delete would carry NULL text and then be
        # indistinguishable from a key-only delete of a doc that HAS
        # postings; an asymmetric guard would wedge the stream on that
        # lifecycle. The index change-feed contract is therefore:
        # every row carries text, and an empty document is '' (which
        # indexes nothing and deletes as a correct no-op).
        guard = guard.when(
            F.col(text_col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{caller}: NULL {text_col} in the change feed — "
                        "the index needs every row's text (a key-only "
                        "delete cannot subtract postings, and a "
                        "NULL-text insert could then never be deleted); "
                        "represent an empty document as ''; "
                        f"{id_col or 'doc'}: "
                    ),
                    (
                        F.col(id_col).cast("string")
                        if id_col
                        else F.lit("?")
                    ),
                )
            ).cast("boolean"),
        )
    return guard.otherwise(F.lit(True))


def _null_safe_op(df: DataFrame, op_col: str) -> DataFrame:
    """Rewrite ``op_col`` as ``coalesce(op, 'NULL')`` so a row missing
    its op reaches :func:`_op_guard` and raises as a bad op instead of
    being dropped by scan-pushed inferred isnotnull filters (see
    _op_guard's contract note). 'NULL' is safe as a sentinel: a feed
    genuinely carrying the string 'NULL' raises identically."""
    return df.withColumn(
        op_col, F.coalesce(F.col(op_col), F.lit("NULL"))
    )


def _snapshot_step(state_path: str, apply):
    """The epoch step of a snapshot store: ``apply(prev, batch)``
    returns the whole new state (``prev`` is None before the first
    publish), written to ``seg-<epoch>`` and published as the
    manifest's one live entry."""

    def step(spark, batch_df, epoch_id, entries):
        prev = _frames(spark, state_path, entries, "live")
        seg = f"seg-{epoch_id:012d}"
        # a plain write: an empty unpartitioned state still leaves a
        # schema-readable file, so no emptiness probe is needed
        store_writer(apply(prev[0] if prev else None, batch_df)).mode(
            "overwrite"
        ).parquet(posixpath.join(state_path, seg))
        return [("live", seg)]

    return step


def maintain_aggregate(
    changes,
    state_path: str,
    keys: list[str],
    measures: list[str],
    op_col: str = "op",
    checkpoint: str | None = None,
    query_name: str = "maintain_aggregate",
    keep_versions: int = 10,
    track_minmax: bool = False,
    allow_negative: bool = False,
    track_distinct: list[str] | None = None,
):
    """Streaming face of :mod:`esdb_spark.operators.incremental`: keep
    a sum/count aggregate continuously maintained from a change-feed
    STREAM, never rescanning any base table.

    A snapshot store (see the module docstring): each micro-batch
    reads the state its predecessor manifest names, folds the batch in
    with ``apply_changes``, and publishes the whole new aggregate as
    its epoch's one segment. A replay of a published epoch is a no-op
    and a replay of an unpublished one recomputes from the same
    predecessor, so a crash cannot double-apply a delta; readers only
    ever see published state. Versions beyond the newest
    ``keep_versions`` are swept (a long-running stream would otherwise
    accumulate one full |keys|-row snapshot per micro-batch forever).

    Returns the started StreamingQuery; the newest state is
    ``read_maintained_aggregate(spark, state_path)``.
    """
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    def apply(prev, batch_df):
        if prev is None:
            # typed empty state derived from the batch itself
            prev = snapshot_aggregate(
                batch_df.filter(F.lit(False)), keys, measures,
                track_minmax=track_minmax, track_distinct=track_distinct,
            )
        return apply_changes(
            prev, batch_df, keys, measures, op_col,
            allow_negative=allow_negative, track_minmax=track_minmax,
            track_distinct=track_distinct,
        )

    return _maintain(
        changes, state_path, "maintain_aggregate", keep_versions,
        _snapshot_step(state_path, apply), query_name, checkpoint,
    )


def read_maintained_aggregate(
    spark: SparkSession, state_path: str, as_of_epoch: int | None = None
):
    """Newest published state of a snapshot store
    (:func:`maintain_aggregate`, :func:`maintain_inverted_index`,
    :func:`maintain_doc_lengths`); None if nothing is published yet.
    ``as_of_epoch`` time-travels: the newest published version with
    epoch ≤ that id — the same read-at-version contract
    ``versioning.read_release`` gives corpus releases."""
    bound = (1 << 62) if as_of_epoch is None else as_of_epoch + 1
    entries = _newest_manifest(
        spark, state_path, bound, "read_maintained_aggregate"
    )
    live = _frames(spark, state_path, entries, "live")
    return live[0] if live else None


def maintain_inverted_index(
    docs,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
    query_name: str = "maintain_inverted_index",
    keep_versions: int = 10,
    guard_overlap: bool = True,
):
    """Streaming face of ``search.update_inverted_index``: keep a text
    inverted index continuously maintained from a document-append
    STREAM — the reference's live append-updates-tails contract
    (stream/open_stream.go:52-105) for the corpus index, as a snapshot
    store with :func:`maintain_aggregate`'s crash safety.

    Each micro-batch tokenizes ONLY its own documents and folds them
    into the predecessor's index (the first batch builds from
    scratch). Probe-measured: a 1% fold costs ~4× less than a rebuild
    at 100k docs, and the gap widens with corpus size (SCALE.md). Read
    the newest published index with :func:`read_maintained_index`; it
    serves ``search.keyword_search_indexed`` directly.

    ``guard_overlap`` (default on) makes a re-delivered document id
    raise instead of double-counting — whole-batch replays are already
    absorbed by the epoch shell, and the guard catches UPSTREAM
    duplicates.
    """
    from esdb_spark.operators.search import (
        build_inverted_index,
        update_inverted_index,
    )

    def apply(prev, batch_df):
        if prev is None:
            return build_inverted_index(batch_df, text_col, id_col)
        return update_inverted_index(
            prev, batch_df, text_col, id_col, guard_overlap=guard_overlap
        )

    return _maintain(
        docs, state_path, "maintain_inverted_index", keep_versions,
        _snapshot_step(state_path, apply), query_name, checkpoint,
    )


def maintain_doc_lengths(
    changes,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str = "op",
    checkpoint: str | None = None,
    query_name: str = "maintain_doc_lengths",
    keep_versions: int = 10,
):
    """Streaming maintenance for the BM25 doc-lengths side table, the
    lookup state ``bm25_search_indexed`` needs next to the index for
    N/avgdl: the reference's close-compacts contract seals ALL lookup
    state, not just postings (stream/open_stream.go:146-201). A
    snapshot store like :func:`maintain_aggregate`.

    ``changes`` is a document change STREAM carrying ``text_col``,
    ``id_col``, and ``op_col`` ∈ {'insert', 'delete'} (an unknown op
    raises at execution time — ``search.update_doc_lengths`` /
    ``delete_doc_lengths`` do the folding, so a re-appended insert and
    a ghost delete each raise too, per their guards). An id under
    BOTH ops in one batch is CDC-resolved: if the doc is in the
    previous state it is REPLACED (delete folds first, then the
    insert), and if it is brand-new the pair NETS TO ABSENT; it must
    be exactly one insert and one delete, else it raises. Read with
    :func:`read_maintained_doc_lengths`; pytest asserts the
    maintained index + maintained lengths serve ``bm25_search_indexed``
    bit-exact vs the from-corpus path across an epoch sequence with
    appends AND deletes.

    Scale posture: each fold tokenizes the batch's INSERT rows only
    (one pass over the delta); the delete face is two broadcast
    probes of the state (never a state shuffle); the state parquet
    rewrite is the per-epoch floor every snapshot store pays.
    """
    from esdb_spark.operators.search import (
        build_doc_lengths,
        delete_doc_lengths,
        update_doc_lengths,
    )

    def apply(prev, batch_df):
        batch = _null_safe_op(batch_df, op_col).filter(
            _op_guard(op_col, "maintain_doc_lengths", id_col=id_col)
        )
        ins = batch.filter(F.col(op_col) == "insert")
        rm = batch.filter(F.col(op_col) == "delete").select(
            F.col(id_col).alias("doc")
        )
        # Same-batch ids appearing under BOTH ops split two ways (an
        # insert-then-delete order would wedge the common CDC update
        # shape — delete old + re-insert same doc in one batch — on
        # update_doc_lengths' overlap guard, raising on every replay):
        #   id ∈ prev state  → REPLACE: the delete applies to prev
        #                      first, then the insert folds in
        #   id ∉ prev state  → NET TO ABSENT: an insert+delete pair of
        #                      a brand-new doc drops out entirely
        # Single-op ids keep their guards: an insert of an existing,
        # un-deleted id raises (re-append); a delete of an absent,
        # un-inserted id raises (ghost). All probe frames below are
        # delta-bounded; `prev` is only ever the broadcast-probe side,
        # never shuffled.
        # A both-ops id must be exactly ONE insert + ONE delete. It is
        # guarded HERE because the net-to-absent branch would otherwise
        # anti-join duplicated rows away before update_doc_lengths'
        # duplicate-in-delta guard could see them, and a feed
        # delivering the same insert twice would commit silently.
        both = (
            ins.groupBy(F.col(id_col).alias("doc"))
            .agg(F.count("*").alias("_mb_i"))
            .join(rm.groupBy("doc").agg(F.count("*").alias("_mb_d")), "doc")
            .filter(
                F.when(
                    (F.col("_mb_i") > 1) | (F.col("_mb_d") > 1),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "maintain_doc_lengths: an id under both "
                                "ops in one batch must be exactly one "
                                "insert + one delete; got "
                            ),
                            F.col("_mb_i").cast("string"),
                            F.lit(" inserts / "),
                            F.col("_mb_d").cast("string"),
                            F.lit(" deletes for doc: "),
                            F.col("doc").cast("string"),
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
            .select("doc")
        )
        if prev is None:
            net_absent = both
        else:
            present = prev.join(F.broadcast(both), "doc", "left_semi")
            net_absent = both.join(F.broadcast(present), "doc", "left_anti")
        rm_eff = rm.join(F.broadcast(net_absent), "doc", "left_anti")
        ins_eff = ins.join(
            F.broadcast(net_absent.withColumnRenamed("doc", id_col)),
            id_col,
            "left_anti",
        )
        # deletes fold FIRST so a replaced doc is gone before its
        # re-insert meets the overlap guard; an empty removal batch
        # anti-joins nothing and the guard compares 0 == 0 (a local
        # emptiness probe is NOT free on a lazy frame)
        if prev is None:
            # the FIRST batch folds through the update face too (empty
            # base): build_doc_lengths is a plain select with no
            # duplicate-in-delta guard, so a feed delivering the same
            # single-op insert twice in epoch 0 would otherwise commit
            # two rows silently, which every later epoch rejects
            empty = build_doc_lengths(ins.limit(0), text_col, id_col)
            state = update_doc_lengths(empty, ins_eff, text_col, id_col)
            return delete_doc_lengths(state, rm_eff, "doc")
        state = delete_doc_lengths(prev, rm_eff, "doc")
        return update_doc_lengths(state, ins_eff, text_col, id_col)

    return _maintain(
        changes, state_path, "maintain_doc_lengths", keep_versions,
        _snapshot_step(state_path, apply), query_name, checkpoint,
    )


def read_maintained_doc_lengths(
    spark: SparkSession, state_path: str, as_of_epoch: int | None = None
):
    """Newest published lengths version written by
    :func:`maintain_doc_lengths` (None if nothing is published yet);
    ``as_of_epoch`` time-travels. This IS
    :func:`read_maintained_aggregate`: every snapshot store reads its
    manifest the same way."""
    return read_maintained_aggregate(spark, state_path, as_of_epoch)


def read_maintained_index(
    spark: SparkSession, state_path: str, as_of_epoch: int | None = None
):
    """Newest published index version written by
    :func:`maintain_inverted_index` (None if nothing is published
    yet); ``as_of_epoch`` time-travels. This IS
    :func:`read_maintained_aggregate`: every snapshot store reads its
    manifest the same way."""
    return read_maintained_aggregate(spark, state_path, as_of_epoch)


def _lsm_step(
    state_path: str,
    caller: str,
    op_col: str | None,
    id_col: str,
    text_col: str | None,
    compact_above: int,
    build_live,
    build_tombstone,
    compact,
    id_key: str | None = None,
    partition_by: list[str] | None = None,
):
    """The epoch step of an LSM store. The store-specific pieces plug
    in:

    - ``build_live(ins)`` → the epoch's live segment DataFrame
    - ``build_tombstone(rm)`` → the epoch's tombstone DataFrame
    - ``compact(live_frames, tomb_frames_or_None)`` → one folded
      segment, written (and published as the only live entry) once
      the entries outnumber ``compact_above``
    - ``id_key``: the tombstone/segment id column of an ID-KEYED store,
      whose ordering contract :func:`_id_keyed_prepare` enforces
      before the segment write (None for the content-keyed boolean
      index)

    ``op_col=None`` treats every row as an insert; otherwise
    :func:`_op_guard` validates each row (``text_col`` adds its text
    contract). ``partition_by`` partitions segment and compaction
    writes by the named columns WHEN the frame has them (the ANN
    store's cell-partitioned segments; its tombstones are bare ids and
    write flat), preserving partition pruning across maintenance.
    """
    prepare = None if id_key is None else _id_keyed_prepare(
        state_path, caller, id_col, id_key, compact, build_tombstone,
        partition_by,
    )

    def step(spark, batch_df, epoch_id, entries):
        if op_col is None:
            ins, rm = batch_df, None
        else:
            batch = _null_safe_op(batch_df, op_col).filter(
                _op_guard(op_col, caller, id_col=id_col, text_col=text_col)
            )
            ins = batch.filter(F.col(op_col) == "insert")
            rm = batch.filter(F.col(op_col) == "delete")
        # intra-batch duplicate inserts AND NULL ids, one delta-bounded
        # job: build_live's (token, doc) aggregate would silently MERGE
        # two versions of a doc delivered in one batch, and with
        # op_col=None _op_guard never runs, so a NULL-id insert would
        # land in a segment where no tombstone can ever match it and
        # the compaction audit would fail every replay. Checking NULL
        # first keeps a two-NULL batch diagnosed as a corrupt feed
        # rather than as a "duplicate insert for doc None".
        bad = (
            ins.groupBy(F.col(id_col).alias("_lf_doc"))
            .agg(F.count("*").alias("_lf_c"))
            .filter(F.col("_lf_doc").isNull() | (F.col("_lf_c") > 1))
            .limit(1)
            .collect()
        )
        if bad:
            if bad[0]["_lf_doc"] is None:
                raise ValueError(
                    f"{caller}: NULL {id_col} in the change feed — "
                    "equality-keyed guards and the delete face can "
                    "never match it"
                )
            raise ValueError(
                f"{caller}: duplicate insert for doc "
                f"{bad[0]['_lf_doc']} within one batch — the segment "
                "build would merge both versions into one row"
            )
        if prepare is not None:
            ins, entries = prepare(spark, ins, rm, entries, epoch_id)
        new_entries = list(entries)

        def write(df: DataFrame, dirname: str) -> bool:
            # write unconditionally and derive emptiness from the
            # WRITTEN parquet (a footer-level probe): a limit(1).count()
            # pre-check would re-scan the micro-batch and re-run the op
            # guard as an extra job per epoch. An empty dir stays on
            # disk unreferenced until the sweep.
            return _write_state_dir(
                spark, df, posixpath.join(state_path, dirname), partition_by
            )

        seg_dir = f"seg-{epoch_id:012d}"
        if write(build_live(ins), seg_dir):
            new_entries.append(("live", seg_dir))
        if rm is not None:
            tomb_dir = f"tomb-{epoch_id:012d}"
            if write(build_tombstone(rm), tomb_dir):
                new_entries.append(("tomb", tomb_dir))
        if len(new_entries) > compact_above:
            cdir = f"seg-{epoch_id:012d}-c"
            tomb = _frames(spark, state_path, new_entries, "tomb")
            write(
                compact(
                    _frames(spark, state_path, new_entries, "live"),
                    tomb or None,
                ),
                cdir,
            )
            # referenced even when EMPTY (delete-everything is legal
            # state; the write leaves an empty dir schema-readable)
            new_entries = [("live", cdir)]
        return new_entries

    return step


def _id_keyed_prepare(
    state_path: str,
    caller: str,
    id_col: str,
    key: str,
    compact_fn,
    build_tombstone,
    partition_by: list[str] | None = None,
):
    """The prepare step of every store whose tombstones are ID-KEYED
    (positional index, stored fields, ANN store, spell store): it
    enforces the ordering contract those tombstones impose. An
    id-keyed tombstone nets its id from EVERY segment in the serving
    union, so a live segment written AFTER a tombstone must never
    contain that id: the re-inserted rows would be netted too and the
    row would silently vanish. (The boolean index needs none of this:
    its tombstones are content-keyed and cancel only the old rows.)

    - CROSS-EPOCH re-insert (the common CDC update: delete in N,
      insert in N+1) SELF-HEALS: when any insert id sits in a current
      tombstone, the prior state folds through ``compact_fn`` first
      (``seg-<epoch>-pre``) — compaction subtracts the tombstones
      from exactly the segments they were written against, after
      which this epoch appends against a tombstone-free state. The
      probe is one delta-bounded broadcast semi count; the compaction
      is the close-compacts payment the re-insert requires anyway.
      (Raising instead would be a permanent poison pill: the replayed
      batch would re-raise forever and no public API could force the
      compaction.)
    - Tombstones with NO live segments means every tombstone is a
      ghost (deletes of never-inserted ids) — a corrupted feed, which
      fail-stops with that diagnosis instead of compaction's opaque
      "no segments". Integrity violations stop the stream BY DESIGN;
      only legal CDC shapes self-heal.
    - SAME-BATCH delete+insert splits two ways: a BRAND-NEW id nets
      to absent by construction (its only rows are this epoch's,
      which its own tombstone subtracts — the
      :func:`maintain_doc_lengths` convention); an id already in a
      live segment must raise — one id-keyed tombstone cannot net the
      old rows without also netting the new ones, so the update must
      split across two epochs (where the pre-compaction above heals
      it).

    ``key`` is the tombstone/segment id column; the same-batch check
    takes the batch's tombstoned ids from ``build_tombstone`` itself,
    so a store's exemptions (the positional index does not tombstone
    token-less docs) hold here without a second copy.
    ``partition_by`` keeps the pre-compaction write partitioned like
    the store's segments.
    """

    def ids(frames):
        return reduce(
            DataFrame.unionByName, [f.select(key) for f in frames]
        ) if frames else None

    def prepare(spark, ins, rm, entries, epoch_id):
        tomb = _frames(spark, state_path, entries, "tomb")
        if tomb:
            hit = (
                ins.select(F.col(id_col).alias(key))
                .join(F.broadcast(ids(tomb)), key, "left_semi")
                .limit(1)
                .count()
            )
            if hit:
                live = _frames(spark, state_path, entries, "live")
                if not live:
                    raise ValueError(
                        f"{caller}: state holds only ghost tombstones "
                        f"(deletes of {key}s no live segment ever "
                        "held) and the batch re-inserts one of them — "
                        "the feed is corrupt"
                    )
                pre = f"seg-{epoch_id:012d}-pre"
                # unreferenced by any manifest yet, so no reader can
                # hold it and a replay's overwrite is safe; referenced
                # even when the fold nets to EMPTY (a lone
                # insert-delete-reinsert id folds its prior state to
                # zero rows, and the write keeps that dir readable)
                _write_state_dir(
                    spark,
                    compact_fn(live, tomb),
                    posixpath.join(state_path, pre),
                    partition_by,
                )
                entries = [("live", pre)]
        if rm is not None:
            both = (
                ins.select(F.col(id_col).alias(key))
                .distinct()
                .join(build_tombstone(rm), key, "left_semi")
            )
            live = (
                _frames(spark, state_path, entries, "live")
                if both.limit(1).count()
                else []
            )
            if live:
                poison = both.join(
                    ids(live).distinct(), key, "left_semi"
                ).select(F.col(key).alias("_pl_tid"))
                ins = (
                    ins.join(
                        F.broadcast(
                            poison.withColumn("_pl_bad", F.lit(True))
                        ),
                        F.col(id_col) == F.col("_pl_tid"),
                        "left",
                    )
                    .filter(
                        F.when(
                            F.col("_pl_bad").isNotNull(),
                            F.raise_error(
                                F.concat(
                                    F.lit(
                                        f"{caller}: same-batch "
                                        "delete+insert of a stored "
                                        f"{key} — an id-keyed "
                                        "tombstone would net the "
                                        "new rows too; split the "
                                        "update across two epochs; "
                                        f"{key}: "
                                    ),
                                    F.col(id_col).cast("string"),
                                )
                            ).cast("boolean"),
                        ).otherwise(F.lit(True))
                    )
                    .drop("_pl_tid", "_pl_bad")
                )
        return ins, entries

    return prepare


def maintain_inverted_index_lsm(
    changes,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str | None = None,
    checkpoint: str | None = None,
    query_name: str = "maintain_inverted_index_lsm",
    keep_versions: int = 10,
    compact_above: int = 16,
):
    """The LSM streaming face of the text index — per-epoch cost
    O(delta), not O(index): where :func:`maintain_inverted_index`
    MERGES every micro-batch into one index (rewriting the whole
    index per epoch however small the batch), this face writes each
    batch as a SEGMENT — insert rows become a live segment
    (``build_inverted_index`` over just the batch), delete rows a
    TOMBSTONE segment over their text — and compacts only when the
    segment count crosses ``compact_above`` (default 16: SCALE.md's
    measured knee — serve latency is flat through ~16 segments and
    ~3× the floor at 64). That is the reference's exact economics:
    appends update tails in O(append), close compacts
    (stream/open_stream.go:52-105, 146-201).

    ``op_col=None`` treats every row as an insert (append-only
    stream); with ``op_col``, rows are 'insert'/'delete' (anything
    else raises at execution time). Serving reads the newest
    published manifest (:func:`read_maintained_index_segments`) and
    answers through ``search.keyword_search_segments(live,
    tombstones=tomb)`` — deletes are visible immediately, no
    compaction on the query path; its integrity guards (ghost /
    duplicate / mismatched tombstone, re-append across live segments)
    apply as-is, so deleting a never-indexed doc or re-appending a
    deleted one without an intervening compaction raises at serve or
    compact time rather than corrupting counts.

    Compaction epochs fold all current segments through
    ``search.compact_segments`` into one ``seg-<epoch>-c`` dir and
    publish a manifest listing only it; constituent segments stay on
    disk until they fall out of the ``keep_versions`` manifest window
    (a crash between compact-publish and sweep can therefore never
    double-count — old manifests still see the old world, the new one
    only the compacted segment).
    """
    from esdb_spark.operators.search import (
        build_inverted_index,
        compact_segments,
    )

    caller = "maintain_inverted_index_lsm"
    step = _lsm_step(
        state_path, caller, op_col, id_col, text_col, compact_above,
        build_live=lambda ins: build_inverted_index(ins, text_col, id_col),
        # a tombstone is the index of the removed docs' text — the
        # content-keyed delete marker the serving union subtracts
        build_tombstone=lambda rm: build_inverted_index(
            rm, text_col, id_col
        ),
        compact=compact_segments,
    )
    return _maintain(
        changes, state_path, caller, keep_versions, step, query_name,
        checkpoint,
    )


def read_maintained_index_segments(
    spark: SparkSession, state_path: str, as_of_epoch: int | None = None
):
    """(live_frames, tombstone_frames) from the newest published
    manifest of an LSM store (``as_of_epoch`` time-travels; ``([],
    [])`` if nothing is published). For a
    :func:`maintain_inverted_index_lsm` store, serve with
    ``search.keyword_search_segments(live, tombstones=tomb or None)``
    and compact by hand with ``search.compact_segments``; for a
    :func:`maintain_positional_index_lsm` store serve with
    ``search.phrase_search_segments`` and compact with
    ``search.compact_positional_segments`` (there the tombstone frames
    carry doc ids, not postings); for a :func:`maintain_ann_store`
    store serve with ``similarity.ann_search_segments`` (same
    ``centroids`` the store was built with) and compact with
    ``similarity.compact_ann_segments`` (tombstones carry ids).

    The returned DataFrames are LAZY plans over the manifest's segment
    directories — consume them (or ``localCheckpoint()`` first) while
    that manifest is still inside the ``keep_versions`` window: if the
    stream advances ``keep_versions`` more epochs while a caller holds
    the result, the sweep deletes the referenced seg-/tomb- dirs and a
    later action on the stale plan fails (the manifest lookup's
    re-listing protects only the manifest READ, not later scans)."""
    bound = (1 << 62) if as_of_epoch is None else as_of_epoch + 1
    entries = _newest_manifest(
        spark, state_path, bound, "read_maintained_index_segments"
    )
    return (
        _frames(spark, state_path, entries, "live"),
        _frames(spark, state_path, entries, "tomb"),
    )


def maintain_positional_index_lsm(
    changes,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    op_col: str | None = None,
    checkpoint: str | None = None,
    query_name: str = "maintain_positional_index_lsm",
    keep_versions: int = 10,
    compact_above: int = 16,
):
    """The LSM streaming face of the POSITIONAL index — phrase serving
    stays maintained under appends AND deletes, like the boolean index
    (:func:`maintain_inverted_index_lsm`; the reference's
    append-updates-state + close-compacts discipline,
    stream/open_stream.go:52-105, 146-201). Per-epoch cost is
    O(delta): insert rows become a live segment
    (``search.build_positional_index`` over just the batch — the FLAT
    (token, doc, positions) layout, so no per-token megarow ever
    builds), delete rows a tombstone of DOC IDS ONLY — positional
    deletes are cheaper than boolean ones because a doc's occurrences
    live wholly in its own rows and segments hold disjoint docs, so
    subtraction is an anti-join on doc, no position algebra and no
    tombstone text stored. Compaction folds everything through
    ``search.compact_positional_segments`` above ``compact_above``
    segments (the measured 16-segment knee, SCALE.md).

    The change feed carries the SAME contract as the boolean
    maintainer (``op_col`` ∈ {'insert','delete'}, text on every row,
    NULL id/text raise): the delete row's text is not STORED, but it
    decides whether the doc had any postings — a token-less doc
    ('' text) deletes as a correct no-op instead of writing a ghost
    tombstone that compaction's integrity sweep would (rightly) raise
    on. ``op_col=None`` treats every row as an insert.

    Doc-keyed tombstones impose the id-keyed ordering contract
    (:func:`_id_keyed_prepare`): a CROSS-EPOCH re-insert (the CDC
    update shape: delete in N, insert in N+1) SELF-HEALS via
    pre-compaction; a SAME-BATCH delete+insert of an indexed doc
    raises (split it across two epochs), while a same-batch
    insert+delete of a brand-new doc nets to absent, matching
    :func:`maintain_doc_lengths`'s convention.

    Serving reads the newest published manifest
    (:func:`read_maintained_index_segments`) and answers through
    ``search.phrase_search_segments(live, phrase, tombstones=tomb)``:
    deletes are visible immediately, no compaction on the query path,
    and the integrity guards (re-append across live segments,
    duplicate tombstone, NULL tombstone id; ghost deletes at
    compaction) apply as-is.
    """
    from esdb_spark.functions import tokens
    from esdb_spark.operators.search import (
        build_positional_index,
        compact_positional_segments,
    )

    caller = "maintain_positional_index_lsm"
    step = _lsm_step(
        state_path, caller, op_col, id_col, text_col, compact_above,
        build_live=lambda ins: build_positional_index(ins, text_col, id_col),
        # ids only — but only of docs that HAVE postings: a token-less
        # doc indexed nothing, so tombstoning it would plant a
        # guaranteed ghost for the compaction sweep
        build_tombstone=lambda rm: (
            rm.filter(F.size(tokens(text_col)) > 0)
            .select(F.col(id_col).alias("doc"))
            .distinct()
        ),
        compact=compact_positional_segments,
        id_key="doc",
    )
    return _maintain(
        changes, state_path, caller, keep_versions, step, query_name,
        checkpoint,
    )


def maintain_stored_fields(
    changes,
    state_path: str,
    cols: list[str] | None = None,
    id_col: str = "doc_id",
    op_col: str | None = None,
    checkpoint: str | None = None,
    query_name: str = "maintain_stored_fields",
    keep_versions: int = 10,
    compact_above: int = 16,
):
    """The LSM streaming face of the STORED-FIELDS store
    (:mod:`~esdb_spark.operators.storedfields`) — the reference's
    core competence, serving stored payloads by index
    (space.go:62-108), kept maintained under appends AND deletes. With
    it the whole search stack — boolean/phrase/NEAR matching,
    ``field:value`` operands, KWIC snippets, the result page — serves
    without ever re-scanning the corpus frame.

    Per-epoch cost is O(delta): insert rows become a live segment
    (``build_stored_fields`` over just the batch — one row per doc,
    ``cols`` defaulting to every non-id column of the feed minus
    ``op_col``); delete rows become a tombstone of IDS ONLY (a doc is
    one row — key-only deletes are legal here, like the ANN store).
    Compaction folds everything through
    ``storedfields.compact_stored_segments`` above ``compact_above``
    segments (the measured 16-segment knee, SCALE.md).

    Id-keyed tombstones impose the ordering contract of
    :func:`_id_keyed_prepare`: a CROSS-EPOCH re-insert (the CDC
    update shape) SELF-HEALS via pre-compaction; a SAME-BATCH
    delete+insert of a stored id raises (split it across two epochs);
    a same-batch insert+delete of a brand-new id nets to absent; a
    re-insert against ghost-only state fail-stops.

    Serving reads the newest published manifest
    (:func:`read_maintained_index_segments`) and answers through
    ``storedfields.stored_fields_segments(live, tombstones=tomb or
    None, ids=page_ids)`` — a page fetch reads O(k) rows per segment;
    deletes are visible immediately.
    """
    from esdb_spark.operators.storedfields import (
        build_stored_fields,
        compact_stored_segments,
    )

    def build_live(ins):
        names = cols if cols is not None else [
            c for c in ins.columns if c not in (id_col, op_col)
        ]
        return build_stored_fields(ins, id_col, names)

    caller = "maintain_stored_fields"
    step = _lsm_step(
        state_path, caller, op_col, id_col,
        None,  # deletes are key-only — no text contract
        compact_above,
        build_live=build_live,
        build_tombstone=lambda rm: (
            rm.select(F.col(id_col).alias("doc")).distinct()
        ),
        compact=compact_stored_segments,
        id_key="doc",
    )
    return _maintain(
        changes, state_path, caller, keep_versions, step, query_name,
        checkpoint,
    )


def maintain_ann_store(
    changes,
    state_path: str,
    centroids,
    vec_col: str = "vec",
    id_col: str = "doc_id",
    op_col: str | None = None,
    checkpoint: str | None = None,
    query_name: str = "maintain_ann_store",
    keep_versions: int = 10,
    compact_above: int = 16,
):
    """The LSM streaming face of the pay-once ANN store — approximate
    vector search stays maintained under appends AND deletes (the
    reference's append-updates-state + close-compacts discipline,
    stream/open_stream.go:52-105, 146-201, applied to the vector
    store). Per-epoch cost is O(delta): insert rows are
    assigned to cells under the store's FIXED ``centroids`` via
    ``kmeans_assign`` with
    :func:`~esdb_spark.operators.similarity.ann_store_append`-
    equivalent projection-level guards — NULL ids and NULL/wrong-
    dimension vectors raise (a store append that silently drops an
    insert is CDC divergence); duplicate ids are caught by the fold's
    own delta probe, so the append face's aggregate never re-runs
    here — and written as a live segment ``partitionBy("cell")``
    so the probed-cell filter keeps pruning partitions across
    maintenance; delete rows become a tombstone of IDS ONLY (a doc's
    vector is one row, so subtraction is an anti probe — key-only
    deletes are legal here, unlike the text indexes where a delete
    needs the text to decide no-op-ness). Compaction folds everything
    through
    :func:`~esdb_spark.operators.similarity.compact_ann_segments`
    above ``compact_above`` segments (the measured 16-segment knee,
    SCALE.md).

    The change feed carries ``id_col``, ``vec_col`` and optionally
    ``op_col`` ∈ {'insert','delete'}; NULL ids raise; ``op_col=None``
    treats every row as an insert. Id-keyed tombstones impose the
    ordering contract of :func:`_id_keyed_prepare`: a
    CROSS-EPOCH re-insert (the CDC update shape) SELF-HEALS via
    pre-compaction; a SAME-BATCH delete+insert of a stored id raises
    (split it across two epochs); a same-batch insert+delete of a
    brand-new id nets to absent; a re-insert against ghost-only state
    fail-stops with the corrupt-feed diagnosis.

    Serving reads the newest published manifest
    (:func:`read_maintained_index_segments`) and answers through
    ``similarity.ann_search_segments(live, queries, centroids,
    tombstones=tomb or None)``: deletes are visible immediately, no
    compaction on the query path, partition pruning intact, and the
    serving/compaction guards (top-k duplicate, ghost tombstone,
    cross-segment re-append) apply as-is. CENTROIDS NEVER CHANGE under
    maintenance — that is the pay-once contract; what drifts is
    pruning efficiency, not recall (measured, SCALE.md's drift probe),
    and the re-fit policy there says when to rebuild the store from a
    fresh fit instead of appending further.
    """
    from esdb_spark.operators.cluster import kmeans_assign
    from esdb_spark.operators.similarity import compact_ann_segments

    def build_live(ins):
        # a projection-level guard, NOT ann_store_append's aggregate:
        # the step's duplicate-insert probe has already guaranteed one
        # row per id and _op_guard raised on NULL ids, so re-grouping
        # the delta here would add a second shuffling aggregation to
        # every insert epoch for an unreachable arm. What remains
        # per-row: kmeans_assign marks NULL/wrong-dim vectors with a
        # NULL cell — a store append that silently drops an insert is
        # CDC divergence, so it raises.
        assigned = kmeans_assign(ins, centroids, vec_col, id_col,
                                 keep_vec=True)
        return assigned.filter(
            F.when(
                F.col("id").isNull(),
                # with op_col=None _op_guard never runs, so the NULL-id
                # ingest guard must live HERE: a NULL-id row would
                # serve forever (no tombstone can match it) and fail
                # the first compaction's audit on every replay
                F.raise_error(
                    F.lit(
                        "maintain_ann_store: NULL id in the change "
                        "feed — equality-keyed guards and the delete "
                        "face can never match it"
                    )
                ).cast("boolean"),
            )
            .when(
                F.col("cluster").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "maintain_ann_store: NULL or wrong-"
                            "dimension vector in the delta "
                            "(kmeans_assign marked it corrupt); id: "
                        ),
                        F.col("id").cast("string"),
                    )
                ).cast("boolean"),
            )
            .otherwise(F.lit(True))
        ).select("id", "vec", F.col("cluster").cast("int").alias("cell"))

    caller = "maintain_ann_store"
    step = _lsm_step(
        state_path, caller, op_col, id_col,
        None,  # no text contract — vec integrity is build_live's guard
        compact_above,
        build_live=build_live,
        build_tombstone=lambda rm: (
            rm.select(F.col(id_col).alias("id")).distinct()
        ),
        compact=compact_ann_segments,
        id_key="id",
        partition_by=["cell"],
    )
    return _maintain(
        changes, state_path, caller, keep_versions, step, query_name,
        checkpoint,
    )


def maintain_spell_index(
    changes,
    state_path: str,
    token_col: str = "token",
    freq_col: str = "term_freq",
    max_dist: int = 2,
    op_col: str | None = None,
    checkpoint: str | None = None,
    query_name: str = "maintain_spell_index",
    keep_versions: int = 10,
    compact_above: int = 16,
):
    """The LSM streaming face of the SPELL INDEX — "did you mean"
    stays maintained under vocabulary growth AND shrink: the variant
    expansion is paid once per delta instead of over the whole
    vocabulary per serve.

    The change feed is TOKEN-KEYED vocab CDC: insert rows carry
    ``(token_col, freq_col)`` where the frequency is the token's NEW
    TOTAL; delete rows carry the token (key-only — a token's variant
    rows all die together). Produce the feed from document deltas
    with :func:`~esdb_spark.operators.search.spell_index_upserts`
    against :func:`~esdb_spark.operators.search.spell_segments_vocab`
    of the current state — a frequency CHANGE is the CDC update
    shape: delete the token in epoch N, insert the new total in
    epoch N+1 (the id-keyed contract of :func:`_id_keyed_prepare`:
    cross-epoch re-inserts SELF-HEAL via pre-compaction; a same-batch
    delete+insert of a stored token raises; a same-batch
    insert+delete of a brand-new token nets to absent).

    Per-epoch cost is O(delta tokens × L²): insert tokens expand to
    their deletion variants
    (:func:`~esdb_spark.operators.search.build_spell_index` over just
    the batch) as a live segment; deletes become a token tombstone.
    Compaction folds through
    :func:`~esdb_spark.operators.search.compact_spell_segments` above
    ``compact_above`` segments. Serving reads the newest published
    manifest (:func:`read_maintained_index_segments`) and answers
    through ``search.suggest_terms_segments(live, term,
    tombstones=tomb or None)``: the query word's own variants land as
    a sargable ``vh`` in-filter below the segment union, deletes are
    visible immediately, no compaction and NO re-expansion on the
    query path.
    """
    from esdb_spark.operators.search import (
        build_spell_index,
        compact_spell_segments,
    )

    def build_live(ins):
        vocab = ins.select(
            F.col(token_col).alias("token"),
            F.col(freq_col).cast("long").alias("term_freq"),
        )
        # NULL tokens raise inside build via an execution-time guard:
        # with op_col=None _op_guard never runs, and a NULL-token row
        # could never be tombstoned (as in maintain_ann_store)
        vocab = vocab.filter(
            F.when(
                F.col("token").isNull(),
                F.raise_error(
                    F.lit(
                        "maintain_spell_index: NULL token in the "
                        "change feed — equality-keyed guards and the "
                        "delete face can never match it"
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
        return build_spell_index(vocab, max_dist=max_dist)

    caller = "maintain_spell_index"
    step = _lsm_step(
        state_path, caller, op_col, token_col,
        None,  # key-only deletes — no text contract
        compact_above,
        build_live=build_live,
        build_tombstone=lambda rm: (
            rm.select(F.col(token_col).alias("token")).distinct()
        ),
        compact=compact_spell_segments,
        id_key="token",
    )
    return _maintain(
        changes, state_path, caller, keep_versions, step, query_name,
        checkpoint,
    )
