"""The benchmark's workloads. Each is a closed loop: a client sends its
next call only after the previous one returns, as library callers do.

- ``archive_lookup``: one client issues the reference's four read
  shapes against an archive built at set-up. Loads ``db``, Catalyst
  planning and the per-job fixed cost; the stream and streaming layers
  idle.
- ``stream_ingest``: one client appends batches of events to an
  ``EventStream`` and reads each batch back at once, beside page reads
  of older events. Loads ``stream``'s seq-assigning append and its
  index page scans; ``db`` and ``writer`` idle.

Traced runs add a phase after the measured window, for the layers no
untraced workload can afford in a run: ``archive_lookup`` passes of the
catalog rows ``doc_pagerank``, ``dedup_minhash_docs`` and
``customer_name_typo_pairs`` (:class:`BatchPhase`: ``operators.graph``,
``dedup``, ``linkage``), and ``stream_ingest`` one compaction cycle of
a positional LSM index maintained by a streaming query, with fresh
phrase reads (:class:`LsmPhase`: ``streaming`` and segment search).

Every workload reads the ``sf0.1`` tables read-only; the seed picks
keys, batches and batch contents, never the data.

A workload object is built once per run and driven by ``run.py``:
``build()`` (state build, repeated for the set-up median), ``warm()``
(a fixed number of ops, so every run measures the same JIT state),
``measure(seconds)``, ``check()``, ``end_to_end()`` and
``layers(stats)``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
from spans import JobStats, median, percentile, supported_percentile


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``, not counting
    Spark's ``.crc`` side files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def layer_ops(ops, layer, kind=None, stage="measure"):
    return [o for o in ops if o.layer == layer and o.stage == stage
            and (kind is None or o.kind == kind)]


def phase_ms(ops, name):
    return median(o.phase_s(name) * 1000.0 for o in ops)


def in_threads(n: int, fn) -> float:
    """Run ``fn(i)`` for each ``i < n`` in its own thread, all released
    together; returns the seconds until the last one ends and re-raises
    the first error."""
    start = threading.Barrier(n + 1)
    errors: list[BaseException] = []

    def run(i: int):
        start.wait()
        try:
            fn(i)
        except BaseException as e:  # re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    start.wait()
    t0 = time.perf_counter()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return time.perf_counter() - t0


def tail_percentile(name: str, ms: list[float]) -> dict[str, float]:
    """The highest percentile with ten samples beyond it, if above p50."""
    q = supported_percentile(len(ms))
    return {f"{name}_p{q}_ms": percentile(ms, q)} if q > 50 else {}


def mean(values, default: float = 0.0) -> float:
    values = list(values)
    return sum(values) / len(values) if values else default


def spark_layer(ops, stats: dict[int, JobStats]) -> dict[str, float]:
    """The ``spark.*`` per-op metrics over ``ops``."""
    js = [stats[o.op_id] for o in ops if o.op_id in stats]
    return {
        "spark.jobs_per_op": mean(len(s.jobs) for s in js),
        "spark.stages_per_op": mean(len(s.stages) for s in js),
        "spark.tasks_per_op": mean(s.tasks for s in js),
        "spark.shuffle_read_bytes_per_op": mean(
            s.sum("shuffleRemoteBytesRead") + s.sum("shuffleLocalBytesRead")
            for s in js),
        "spark.shuffle_write_bytes_per_op": mean(
            s.sum("shuffleWriteBytes") for s in js),
        "spark.spill_bytes_per_op": mean(
            s.sum("memoryBytesSpilled") + s.sum("diskBytesSpilled") for s in js),
        "spark.executor_run_ms_per_op": mean(
            s.sum("executorRunTime") for s in js),
        "spark.task_wait_ms": median(s.task_wait_ms() for s in js),
        "spark.driver_gap_ms": median(
            (o.wall1 - o.wall0 - stats[o.op_id].covered_s(o.wall0, o.wall1))
            * 1000.0 for o in ops if o.op_id in stats),
        "spark.failed_tasks": float(sum(s.failed_tasks for s in js)),
    }


def df_layer(prefix, ops, stats) -> dict[str, float]:
    """Construct/plan/execute times and job counts of DataFrame ops."""
    js = {o.op_id: stats[o.op_id] for o in ops if o.op_id in stats}

    def jobs_in(name):
        return mean(
            sum(js[o.op_id].count_jobs_in(p[3], p[4])
                for p in o.phases if p[0] == name)
            for o in ops if o.op_id in js)

    return {
        f"{prefix}.construct_ms": phase_ms(ops, "construct"),
        f"{prefix}.plan_ms": phase_ms(ops, "plan"),
        f"{prefix}.execute_ms": phase_ms(ops, "execute"),
        f"{prefix}.construct_jobs": jobs_in("construct"),
        f"{prefix}.execute_jobs": jobs_in("execute"),
        f"{prefix}.jobs_per_op": mean(len(s.jobs) for s in js.values()),
    }


class ArchiveLookup:
    """Seeded uniform mix of ``scan``/``scan_index`` at limit 1 and 500
    from one client against a ``write_events`` archive of the events.
    Warm-up runs ``WARM_CLIENTS`` clients, to get through the JVM's
    warm-up (lookups run ~1.5x faster after ~250 of them) in less
    time."""

    name = "archive_lookup"
    CLIENTS = 1
    WARM_CLIENTS = 4
    BUILDS = 3
    WARM_ROUNDS = 12  # per warm-up client, each round one op of every shape
    ABSENT_SHARE = 0.05
    SHAPES = (("scan", 1), ("scan", 500), ("index", 1), ("index", 500))

    def __init__(self, ctx):
        from esdb_spark.functions import epoch_us
        from esdb_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        self.ctx = ctx
        self.cols = ["space", "grouping", epoch_us("ts").alias("ts_us"),
                     "seq", "data"]
        keys = pq.read_table(ctx.table_path("events"),
                             columns=["event_type", "user_id", "props"])
        self.spaces = sorted(set(keys["event_type"].to_pylist()))
        self.keys = {
            "scan": sorted({str(u) for u in keys["user_id"].to_pylist()}),
            "index": sorted({str(json.loads(p)["k"])
                             for p in keys["props"].to_pylist()}),
        }
        ev = load_table(ctx.spark, ctx.data, "events")
        self.src = ev.select(
            F.col("event_type").alias("space"),
            F.col("user_id").cast("string").alias("grouping"),
            F.col("ts"),
            F.col("event_id").alias("seq"),
            F.col("props").alias("data"),
            F.create_map(F.lit("k"), F.get_json_object("props", "$.k"))
            .alias("indexes"),
        )
        self.db = None
        self.path = None
        self.results = []
        self.window_s = 0.0
        self.stored = (0, 0)
        self.batch = BatchPhase(ctx) if ctx.log.traced else None

    def build(self) -> float:
        from esdb_spark.db import Db
        from esdb_spark.writer import write_events

        ctx = self.ctx
        if self.path is not None:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = ctx.path(f"archive-{len(ctx.log.ops)}")
        with ctx.log.op("writer", "write_events", "setup") as op:
            with ctx.log.phase(op, "call"):
                write_events(self.src, self.path, materialize_indexes=["k"])
                self.db = Db.open(ctx.spark, self.path)
        self.stored = dir_bytes(self.path)
        return op.seconds

    def _query(self, rng: random.Random, shape):
        kind, limit = shape
        space = rng.choice(self.spaces)
        if rng.random() < self.ABSENT_SHARE:
            key = f"absent-{rng.randrange(1000)}"
        else:
            key = rng.choice(self.keys[kind])
        return kind, space, key, limit

    def _lookup(self, q, stage):
        kind, space, key, limit = q
        log = self.ctx.log

        def build():
            sp = self.db.find(space)
            df = (sp.scan(key, limit=limit) if kind == "scan"
                  else sp.scan_index("k", key, limit=limit))
            return df.select(*self.cols)

        with log.op("db", f"{kind}_{limit}", stage) as op:
            rows = log.run_df(op, build)
        return rows

    def _loop(self, seconds: float | None, stage: str, seed: int,
              clients: int, rounds: int = 0) -> float:
        """Run ``clients`` clients until ``seconds`` have passed, or for
        ``rounds`` rounds each when ``seconds`` is None."""
        lock = threading.Lock()

        def client(i: int):
            rng = random.Random(seed * 1000 + i)
            deadline = time.perf_counter() + (seconds or 0.0)
            done = 0
            while (done < rounds if seconds is None
                   else time.perf_counter() < deadline):
                done += 1
                shapes = list(self.SHAPES)
                rng.shuffle(shapes)
                for shape in shapes:
                    q = self._query(rng, shape)
                    rows = self._lookup(q, stage)
                    if stage == "measure":
                        with lock:
                            self.results.append((q, rows))

        return in_threads(clients, client)

    def warm(self) -> None:
        self._loop(None, "warm", self.ctx.seed + 7919, self.WARM_CLIENTS,
                   self.WARM_ROUNDS)

    def measure(self, seconds: float) -> None:
        self.window_s = self._loop(seconds, "measure", self.ctx.seed,
                                   self.CLIENTS)
        if self.batch is not None:
            self.batch.run()

    def check(self) -> tuple[int, int]:
        """Every lookup against DuckDB over the same parquet, with the
        catalog's esdb mapping ordered ``ts DESC, seq ASC``."""
        import duckdb

        from esdb_spark.queries import _ORACLE_EVENTS

        con = duckdb.connect()
        con.read_parquet(self.ctx.table_path("events")).create_view("events")
        con.execute(f"CREATE TABLE ev AS {_ORACLE_EVENTS}")
        expected = {}
        failed = 0
        for q, rows in self.results:
            if q not in expected:
                kind, space, key, limit = q
                col = "grouping" if kind == "scan" else "idx_k"
                expected[q] = con.execute(
                    "SELECT space, grouping, ts_us, seq, data FROM ev "
                    f"WHERE space = ? AND {col} = ? "
                    "ORDER BY ts_us DESC, seq ASC LIMIT ?",
                    [space, key, limit],
                ).fetchall()
            if [tuple(r) for r in rows] != expected[q]:
                failed += 1
        con.close()
        attempted = len(self.results)
        if self.batch is not None:
            a, f = self.batch.check()
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def _latencies(self):
        return [o.seconds * 1000.0 for o in layer_ops(self.ctx.log.ops, "db")]

    def end_to_end(self) -> dict[str, float]:
        lat = self._latencies()
        p50 = median(lat)
        return {
            "op_p50_ms": p50,
            "read_p50_ms": p50,
            "ops_per_s": len(lat) / self.window_s,
            "stored_bytes_per_user_byte":
                self.stored[1] / self.ctx.input_bytes["events"],
        }

    def detail(self) -> dict:
        lat = self._latencies()
        by_shape = {}
        for o in layer_ops(self.ctx.log.ops, "db"):
            by_shape.setdefault(o.kind, []).append(o.seconds * 1000.0)
        return {
            "ops": len(lat),
            **tail_percentile("op", lat),
            "samples_ms": [round(x, 1) for x in lat],
            "clients": self.CLIENTS,
            "p50_ms_by_shape": {k: median(v) for k, v in sorted(by_shape.items())},
            "rows_returned": sum(len(r) for _q, r in self.results),
            **(self.batch.detail() if self.batch is not None else {}),
        }

    def layers(self, stats) -> dict[str, float]:
        ops = layer_ops(self.ctx.log.ops, "db")
        out = df_layer("db", ops, stats)
        js = [stats[o.op_id] for o in ops if o.op_id in stats]
        rows = sum(o.rows for o in ops)
        builds = [o for o in self.ctx.log.ops if o.layer == "writer"]
        out.update({
            "db.tasks_per_op": mean(s.tasks for s in js),
            "db.input_bytes_per_op": mean(s.sum("inputBytes") for s in js),
            "db.records_read_per_row_returned":
                sum(s.sum("inputRecords") for s in js) / max(1, rows),
            "writer.write_events_s": median(o.seconds for o in builds),
            "writer.files": float(self.stored[0]),
            "writer.bytes_per_user_byte":
                self.stored[1] / self.ctx.input_bytes["events"],
        })
        out.update(spark_layer(ops, stats))
        if self.batch is not None:
            out.update(self.batch.layers(stats))
        return out


STREAM_INPUT = "data string, indexes map<string,string>"
CHANGE_SCHEMA = "doc_id bigint, text string, lang string, op string"


class StreamIngest:
    """Cycles of one append and ``1 + USER_READS`` page reads on an
    ``EventStream`` of the events: append a seeded batch of ``BATCH``
    events, read the batch back at once through its ``batch`` index (a
    fresh read that must see all of it), then read the newest page of
    ``USER_READS`` users from the batch."""

    name = "stream_ingest"
    BUILDS = 3
    INITIAL = 5_000  # events a build starts the stream from
    BATCH = 100
    USER_READS = 2
    PAGE = 40
    WARM_CYCLES = 8

    def __init__(self, ctx):
        self.ctx = ctx
        ev = pq.read_table(ctx.table_path("events"),
                           columns=["event_type", "user_id", "props"])
        self.events = [
            (props, {"user": str(user), "type": kind})
            for kind, user, props in zip(ev["event_type"].to_pylist(),
                                         ev["user_id"].to_pylist(),
                                         ev["props"].to_pylist())]
        self.path = None
        self.window_s = 0.0
        self.stored = 0.0
        self.lsm = LsmPhase(ctx) if ctx.log.traced else None

    def close(self):
        if self.lsm is not None:
            self.lsm.close()

    def build(self) -> float:
        """A fresh stream holding the first ``INITIAL`` events as batch 0."""
        from esdb_spark.stream import EventStream

        ctx = self.ctx
        if self.path is not None:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = ctx.path(f"stream-{len(ctx.log.ops)}")
        self.order = list(range(self.INITIAL, len(self.events)))
        random.Random(ctx.seed).shuffle(self.order)
        self.fed: list[tuple[str, dict]] = []
        self.by_user: dict[str, list[int]] = {}
        self.reads = []  # (got, want): ([(seq, data)], cursor) each
        initial = [(d, dict(ix, batch="0"))
                   for d, ix in self.events[:self.INITIAL]]
        with ctx.log.op("stream", "build", "setup") as op:
            with ctx.log.phase(op, "call"):
                self.stream = EventStream.new(ctx.spark, self.path)
                self.stream.append_dataframe(
                    ctx.spark.createDataFrame(initial, STREAM_INPUT))
        self._feed(initial)
        return op.seconds

    def _feed(self, rows) -> None:
        """Model the append: ``append_dataframe`` gives a batch dense
        seqs after the tail, in the batch's order."""
        for row in rows:
            self.by_user.setdefault(row[1]["user"], []).append(len(self.fed))
            self.fed.append(row)

    def _read(self, name: str, value: str, seqs: list[int], stage: str):
        """One ``scan_index_page`` of ``PAGE`` rows (the whole batch for
        a batch read); ``seqs`` are the entry's seqs, oldest first."""
        limit = self.BATCH if name == "batch" else self.PAGE
        with self.ctx.log.op("stream", "page", stage) as op:
            with self.ctx.log.phase(op, "call"):
                rows, cursor = self.stream.scan_index_page(name, value, None,
                                                           limit=limit)
        op.rows = len(rows)
        page = seqs[::-1][:limit]
        self.reads.append((
            ([(r["seq"], r["data"]) for r in rows], cursor),
            ([(q, self.fed[q][0]) for q in page],
             page[-1] if len(seqs) > limit else None)))

    def _cycle(self, rng: random.Random, stage: str) -> None:
        log = self.ctx.log
        tag = str(len(self.fed))  # unique per batch
        picks, self.order = self.order[:self.BATCH], self.order[self.BATCH:]
        batch = [(d, dict(ix, batch=tag))
                 for d, ix in (self.events[i] for i in picks)]
        with log.op("stream", "append", stage) as op:
            with log.phase(op, "call"):
                self.stream.append_dataframe(
                    self.ctx.spark.createDataFrame(batch, STREAM_INPUT))
        first = len(self.fed)
        self._feed(batch)
        self._read("batch", tag, list(range(first, len(self.fed))), stage)
        users = sorted({ix["user"] for _d, ix in batch})
        for user in rng.sample(users, self.USER_READS):
            self._read("user", user, self.by_user[user], stage)

    def warm(self) -> None:
        rng = random.Random(self.ctx.seed + 7919)
        for _ in range(self.WARM_CYCLES):
            self._cycle(rng, "warm")
        # taken here, after a fixed number of appends, so it does not
        # depend on how many cycles the timed window fits
        user = sum(len(d.encode()) + sum(len(k) + len(v)
                                         for k, v in ix.items())
                   for d, ix in self.fed)
        self.stored = dir_bytes(self.path)[1] / user

    def measure(self, seconds: float) -> None:
        rng = random.Random(self.ctx.seed)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            self._cycle(rng, "measure")
        self.window_s = time.perf_counter() - t0
        if self.lsm is not None:
            self.lsm.run()

    def check(self) -> tuple[int, int]:
        """Every page read equals the model of what was fed, cursor
        included; the stream's seqs are dense and number what was fed."""
        from pyspark.sql import functions as F

        failed = sum(got != want for got, want in self.reads)
        seq = self.stream.df.agg(F.min("seq"), F.max("seq"), F.count("*"),
                                 F.countDistinct("seq")).first()
        n = len(self.fed)
        failed += not (seq[0] == 0 and seq[1] == n - 1
                       and seq[2] == seq[3] == n)
        attempted = len(self.reads) + 1
        if self.lsm is not None:
            a, f = self.lsm.check()
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def _ms(self, kind):
        return [o.seconds * 1000.0
                for o in layer_ops(self.ctx.log.ops, "stream", kind)]

    def end_to_end(self) -> dict[str, float]:
        appends, reads = self._ms("append"), self._ms("page")
        return {
            "op_p50_ms": median(appends),
            "read_p50_ms": median(reads),
            "ops_per_s": (len(appends) + len(reads)) / self.window_s,
            "stored_bytes_per_user_byte": self.stored,
        }

    def detail(self) -> dict:
        appends, reads = self._ms("append"), self._ms("page")
        return {
            "appends": len(appends),
            "reads": len(reads),
            **tail_percentile("read", reads),
            "samples_ms": {"append": [round(x, 1) for x in appends],
                           "page": [round(x, 1) for x in reads]},
            "events_fed": len(self.fed),
            **(self.lsm.detail() if self.lsm is not None else {}),
        }

    def layers(self, stats) -> dict[str, float]:
        ops = self.ctx.log.ops
        appends = layer_ops(ops, "stream", "append")
        pages = layer_ops(ops, "stream", "page")

        def jobs(ops_):
            return mean(len(stats[o.op_id].jobs) for o in ops_ if o.op_id in stats)

        out = {
            "stream.append_ms": median(o.seconds * 1000.0 for o in appends),
            "stream.append_jobs": jobs(appends),
            "stream.page_ms": median(o.seconds * 1000.0 for o in pages),
            "stream.page_jobs": jobs(pages),
            "stream.files": float(sum(1 for n in os.listdir(self.path)
                                      if n.endswith(".parquet"))),
        }
        out.update(spark_layer(appends + pages, stats))
        if self.lsm is not None:
            out.update(self.lsm.layers(stats))
        return out


class LsmPhase:
    """One compaction cycle of a positional LSM index maintained by a
    streaming query (``maintain_positional_index_lsm``): a store of the
    first ``INITIAL_DOCS`` documents, then ``CYCLE`` epochs of
    ``INSERTS`` seeded inserts + ``DELETES`` deletes of live documents,
    each folded through ``processAllAvailable()`` and followed by a
    fresh phrase read over the newest manifest. Only traced
    ``stream_ingest`` runs make it, after the timed window: an epoch
    costs seconds, too few fit a run for a bounded end-to-end metric
    (see README.md)."""

    INSERTS = 100
    DELETES = 10
    # Compaction folds the store once it holds more than COMPACT_ABOVE
    # entries. Each epoch adds a live segment and a tombstone to the one
    # segment of epoch 0, so the CYCLE-th epoch compacts: 1 + 2*3 > 6.
    COMPACT_ABOVE = 6
    CYCLE = 3
    INITIAL_DOCS = 1_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.query = None
        self.epochs: list[dict] = []
        self.written = 0
        self.user_bytes = 0
        self.seen_files: dict[str, int] = {}

    def close(self):
        if self.query is not None:
            self.query.stop()
            self.query = None

    def run(self) -> None:
        from esdb_spark.streaming import maintain_positional_index_lsm

        ctx = self.ctx
        self.root = ctx.path("lsm")
        self.changes = os.path.join(self.root, "changes")
        self.state = os.path.join(self.root, "state")
        os.makedirs(self.changes)
        docs = pq.read_table(ctx.table_path("documents"),
                             columns=["doc_id", "text", "lang"])
        corpus = docs.slice(0, self.INITIAL_DOCS).to_pydict()
        spare = docs.slice(self.INITIAL_DOCS).to_pydict()
        self.spare = list(zip(spare["doc_id"], spare["text"], spare["lang"]))
        self.live = dict(zip(corpus["doc_id"], corpus["text"]))
        self._drop(0, dict(corpus, op=["insert"] * len(corpus["doc_id"])))
        with ctx.log.op("streaming", "initial", "setup") as op:
            with ctx.log.phase(op, "call"):
                self.query = maintain_positional_index_lsm(
                    ctx.spark.readStream.schema(CHANGE_SCHEMA)
                    .parquet(self.changes),
                    self.state,
                    op_col="op",
                    checkpoint=os.path.join(self.root, "checkpoint"),
                    query_name="perfbench_lsm",
                    compact_above=self.COMPACT_ABOVE,
                )
                self.query.processAllAvailable()
        self._account_writes()
        rng = random.Random(ctx.seed)
        for epoch in range(1, self.CYCLE + 1):
            self._epoch(epoch, rng)
        self.close()

    def _drop(self, epoch: int, changes: dict) -> str:
        """Write the change file beside the source directory; renaming
        it in (so the file source never lists a partial file) is left
        to the caller's timed fold."""
        tmp = os.path.join(self.root, f"epoch-{epoch:05d}.parquet")
        pq.write_table(pa.table({k: changes[k] for k in
                                 ("doc_id", "text", "lang", "op")}), tmp)
        self.user_bytes += os.path.getsize(tmp)
        if epoch == 0:
            os.rename(tmp, os.path.join(self.changes, os.path.basename(tmp)))
        return tmp

    def _account_writes(self) -> None:
        """Add the bytes of every file that appeared under the store
        since the last call (the sweep later deletes some of them)."""
        for root, _dirs, names in os.walk(self.state):
            for name in names:
                p = os.path.join(root, name)
                if p not in self.seen_files and not name.endswith(".crc"):
                    self.seen_files[p] = os.path.getsize(p)
                    self.written += self.seen_files[p]

    def _epoch(self, epoch: int, rng: random.Random) -> None:
        """Insert ``INSERTS`` documents drawn from the ones not yet in
        the store, delete ``DELETES`` live ones, then serve a phrase
        from one of the inserted documents."""
        from esdb_spark.operators.search import phrase_search_segments
        from esdb_spark.streaming import read_maintained_index_segments

        picks = set(rng.sample(range(len(self.spare)), self.INSERTS))
        new = [r for i, r in enumerate(self.spare) if i in picks]
        self.spare = [r for i, r in enumerate(self.spare) if i not in picks]
        gone = rng.sample(sorted(self.live), self.DELETES)
        tmp = self._drop(epoch, {
            "doc_id": [r[0] for r in new] + gone,
            "text": [r[1] for r in new] + [self.live[d] for d in gone],
            "lang": [r[2] for r in new] + ["en"] * len(gone),
            "op": ["insert"] * self.INSERTS + ["delete"] * len(gone),
        })
        for d in gone:
            del self.live[d]
        self.live.update((r[0], r[1]) for r in new)
        words = new[rng.randrange(self.INSERTS)][1].split(" ")
        i = rng.randrange(len(words) - 1)
        phrase = f"{words[i]} {words[i + 1]}"
        needle = f" {phrase} "
        want_docs = sorted(d for d, t in self.live.items()
                           if needle in f" {t} ")
        log = self.ctx.log
        with log.op("streaming", "fold", "measure") as fold:
            fold.extra["window_jobs"] = True
            with log.phase(fold, "call"):
                os.rename(tmp, os.path.join(self.changes,
                                            os.path.basename(tmp)))
                self.query.processAllAvailable()
        with log.op("streaming", "read_segments", "measure") as op:
            with log.phase(op, "call"):
                live, tomb = read_maintained_index_segments(self.ctx.spark,
                                                            self.state)
        with log.op("search", "phrase", "measure") as op:
            got = log.run_df(op, lambda: phrase_search_segments(
                live, phrase, tombstones=tomb or None))
        progress = [p for p in self.query.recentProgress
                    if p["batchId"] == epoch]
        self._account_writes()
        self.epochs.append({
            "fold": fold,
            "add_batch_ms": (progress[0]["durationMs"].get("addBatch", 0.0)
                             if progress else float("nan")),
            "live_segments": len(live),
            "compacted": len(live) == 1 and not tomb,
            "phrase_ok": sorted(r["doc"] for r in got) == want_docs,
        })

    def check(self) -> tuple[int, int]:
        """Each epoch's phrase read equals a scan of the live documents;
        the maintained store equals a rebuild over the survivors."""
        from esdb_spark.operators.search import (
            build_positional_index,
            compact_positional_segments,
        )
        from esdb_spark.streaming import read_maintained_index_segments
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        failed = sum(not e["phrase_ok"] for e in self.epochs)
        live, tomb = read_maintained_index_segments(spark, self.state)
        survivors = spark.createDataFrame(
            sorted(self.live.items()), "doc_id bigint, text string")

        def digest(df):
            return df.agg(F.count("*"), F.sum(
                F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()

        rebuilt = build_positional_index(survivors, "text", "doc_id")
        served = compact_positional_segments(live, tomb or None)
        failed += digest(served.select(*rebuilt.columns)) != digest(rebuilt)
        return len(self.epochs) + 1, failed

    def detail(self) -> dict:
        return {"lsm_epochs": len(self.epochs),
                "lsm_compactions": sum(e["compacted"] for e in self.epochs)}

    def layers(self, stats) -> dict[str, float]:
        ops = self.ctx.log.ops
        m = self.epochs
        compact = [e for e in m if e["compacted"]]
        plain = [e for e in m if not e["compacted"]]
        seg_ops = layer_ops(ops, "streaming", "read_segments")
        phrase = layer_ops(ops, "search", "phrase")
        out = {
            "streaming.fold_ms": median(e["add_batch_ms"] for e in plain),
            "streaming.trigger_overhead_ms": median(
                e["fold"].seconds * 1000.0 - e["add_batch_ms"] for e in m),
            "streaming.compactions_per_epoch": len(compact) / max(1, len(m)),
            "streaming.compaction_ms": median(e["add_batch_ms"] for e in compact),
            "streaming.live_segments_at_read":
                mean(e["live_segments"] for e in m),
            "streaming.bytes_written_per_user_byte":
                self.written / self.user_bytes,
            "streaming.maintained_read_ms":
                median(o.seconds * 1000.0 for o in seg_ops),
            "streaming.maintained_read_jobs": mean(
                len(stats[o.op_id].jobs) for o in seg_ops if o.op_id in stats),
        }
        out.update(df_layer("search", phrase, stats))
        js = [stats[o.op_id] for o in phrase if o.op_id in stats]
        out["search.construct_py4j_calls"] = mean(
            o.phase_py4j("construct") for o in phrase)
        out["search.shuffle_bytes_per_op"] = mean(
            s.sum("shuffleWriteBytes") for s in js)
        return out


class BatchPhase:
    """Two passes of three iterative, multi-leg catalog rows
    (``doc_pagerank``, ``dedup_minhash_docs``,
    ``customer_name_typo_pairs``) over a seeded window of ``DOCS``
    documents and ``CUSTOMERS`` customers: a warm-up pass, then the
    measured one. Only traced ``archive_lookup`` runs make it, after
    the lookups, so it reports per-layer metrics and no end-to-end
    one (see README.md)."""

    DOCS = 1_000
    CUSTOMERS = 1_500
    TABLES = {"documents": DOCS, "customer": CUSTOMERS}
    # (layer, kind, catalog row)
    OPS = (("graph", "pagerank", "doc_pagerank"),
           ("dedup", "minhash", "dedup_minhash_docs"),
           ("linkage", "typo_pairs", "customer_name_typo_pairs"))

    def __init__(self, ctx):
        from esdb_spark.queries import catalog

        self.ctx = ctx
        self.catalog = catalog()
        rng = random.Random(ctx.seed)
        self.windows = {}
        for table, n in self.TABLES.items():
            rows = pq.ParquetFile(ctx.table_path(table)).metadata.num_rows
            self.windows[table] = rng.randrange(rows - n + 1)
        self.dir = ctx.path("batch")
        self.passes: list[dict] = []

    def run(self) -> None:
        """Stage the seeded windows as the tables the catalog rows
        read, then make both passes."""
        os.makedirs(self.dir)
        for table, n in self.TABLES.items():
            pq.write_table(
                pq.read_table(self.ctx.table_path(table)).slice(
                    self.windows[table], n),
                os.path.join(self.dir, f"{table}.parquet"))
        for stage in ("warm", "measure"):
            self._pass(stage)

    def _pass(self, stage: str) -> None:
        log = self.ctx.log
        t0 = time.perf_counter()
        rows = {}
        for layer, kind, row in self.OPS:
            fn = self.catalog[row].fn
            with log.op(layer, kind, stage) as op:
                rows[row] = log.run_df(op, lambda: fn(self.ctx.spark, self.dir))
        self.passes.append({"rows": rows, "seconds": time.perf_counter() - t0})

    def check(self) -> tuple[int, int]:
        """Both passes' typo pairs equal the catalog's DuckDB oracle; the
        rows-only PageRank and dedup results of the two passes are
        equal value for value (ranks, rounded to 6 decimals by the
        catalog row, to within one unit of the last decimal)."""
        import duckdb

        con = duckdb.connect()
        con.read_parquet(os.path.join(self.dir, "customer.parquet")
                         ).create_view("customer")
        oracle = con.execute(
            self.catalog["customer_name_typo_pairs"].oracle).fetchall()
        con.close()
        warm, measured = (p["rows"] for p in self.passes)
        failed = sum(
            [tuple(r) for r in p["customer_name_typo_pairs"]] != oracle
            for p in (warm, measured))
        a, b = warm["doc_pagerank"], measured["doc_pagerank"]
        failed += not (len(a) == len(b) and all(
            x.id == y.id and abs(x.rank - y.rank) <= 1.5e-6
            for x, y in zip(a, b)))
        failed += ([tuple(r) for r in warm["dedup_minhash_docs"]]
                   != [tuple(r) for r in measured["dedup_minhash_docs"]])
        return 4, failed

    def detail(self) -> dict:
        return {
            "batch_pass_s": [round(p["seconds"], 4) for p in self.passes],
            "batch_windows": self.windows,
            "batch_rows": {k: len(v) for k, v in self.passes[-1]["rows"].items()},
        }

    def layers(self, stats) -> dict[str, float]:
        ops = self.ctx.log.ops

        def layer(name, kind):
            mine = layer_ops(ops, name, kind)
            return mine, [stats[o.op_id] for o in mine if o.op_id in stats]

        pr, pr_js = layer("graph", "pagerank")
        mh, mh_js = layer("dedup", "minhash")
        ty, ty_js = layer("linkage", "typo_pairs")
        return {
            "batch.pass_s": self.passes[-1]["seconds"],
            "graph.pagerank_s": median(o.seconds for o in pr),
            "graph.pagerank_jobs": mean(len(s.jobs) for s in pr_js),
            "graph.pagerank_shuffle_bytes": mean(
                s.sum("shuffleWriteBytes") for s in pr_js),
            "dedup.minhash_s": median(o.seconds for o in mh),
            "dedup.minhash_jobs": mean(len(s.jobs) for s in mh_js),
            "dedup.minhash_construct_jobs":
                df_layer("dedup", mh, stats)["dedup.construct_jobs"],
            "linkage.typo_pairs_s": median(o.seconds for o in ty),
            "linkage.typo_pairs_shuffle_read_bytes": mean(
                s.sum("shuffleRemoteBytesRead") + s.sum("shuffleLocalBytesRead")
                for s in ty_js),
        }


WORKLOADS = {w.name: w for w in (ArchiveLookup, StreamIngest)}
