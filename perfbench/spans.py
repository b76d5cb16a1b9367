"""Outside-in timing and tracing of the calls the benchmark makes.

Every call into a layer is an *op*, timed in up to three phases:
``construct`` (the library call that returns a DataFrame, including any
eager jobs it fires), ``plan`` (``queryExecution().executedPlan()``,
which the following action reuses) and ``execute`` (the action). Calls
that plan and execute internally (``scan_index_page``, a streaming
fold) have a single ``call`` phase.

With tracing off, an :class:`OpLog` keeps only durations. With tracing
on it also keeps spans in memory (op -> phase -> Spark job), runs each
op in its own job group, counts py4j calls per op, and at the end joins
the Spark REST API's job and stage records to the ops by job group.
Nothing here touches the library's code.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import threading
import time
import urllib.request

GROUP_PREFIX = "pb-"


def percentile(values, q: float) -> float:
    """Nearest-rank percentile of ``values`` (q in [0, 100])."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def supported_percentile(n: int) -> int:
    """The highest of p99/p90/p50 with at least ten samples beyond it."""
    for q in (99, 90):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


class Op:
    """One call into a layer: its phases, result size and job group."""

    __slots__ = ("op_id", "layer", "kind", "stage", "t0", "t1", "wall0",
                 "wall1", "phases", "rows", "py4j_calls", "extra")

    def __init__(self, op_id: int, layer: str, kind: str, stage: str):
        self.op_id = op_id
        self.layer = layer
        self.kind = kind
        self.stage = stage
        # (name, t0, t1, wall0, wall1, py4j calls)
        self.phases: list[tuple[str, float, float, float, float, int]] = []
        self.rows = 0
        self.py4j_calls = 0
        self.extra: dict = {}

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def phase_s(self, name: str) -> float:
        return sum(p[2] - p[1] for p in self.phases if p[0] == name)

    def phase_py4j(self, name: str) -> int:
        return sum(p[5] for p in self.phases if p[0] == name)


class OpLog:
    """Times ops; with ``traced`` set, also records spans and job groups."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.ops: list[Op] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._py4j_unpatch = None
        if traced:
            self._count_py4j()

    # -- recording --------------------------------------------------------

    @contextlib.contextmanager
    def op(self, layer: str, kind: str, stage: str):
        """Time one call; ``stage`` is ``setup``, ``warm`` or ``measure``."""
        with self._lock:
            op = Op(self._next_id, layer, kind, stage)
            self._next_id += 1
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(f"{GROUP_PREFIX}{op.op_id}", f"{layer}.{kind}")
            self._local.op = op
        op.wall0, op.t0 = time.time(), time.perf_counter()
        try:
            yield op
        finally:
            op.t1, op.wall1 = time.perf_counter(), time.time()
            if self.traced:
                self._local.op = None
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.ops.append(op)

    @contextlib.contextmanager
    def phase(self, op: Op, name: str):
        calls = op.py4j_calls
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            op.phases.append((name, t0, time.perf_counter(), w0, time.time(),
                              op.py4j_calls - calls))

    def run_df(self, op: Op, build):
        """Construct, plan and execute the DataFrame ``build()`` returns;
        returns its rows."""
        with self.phase(op, "construct"):
            df = build()
        with self.phase(op, "plan"):
            df._jdf.queryExecution().executedPlan()
        with self.phase(op, "execute"):
            rows = df.collect()
        op.rows = len(rows)
        return rows

    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        original = client.send_command
        local = self._local

        def counting_send(*args, **kwargs):
            op = getattr(local, "op", None)
            if op is not None:
                op.py4j_calls += 1
            return original(*args, **kwargs)

        client.send_command = counting_send
        self._py4j_unpatch = lambda: setattr(client, "send_command", original)

    def close(self) -> None:
        if self._py4j_unpatch is not None:
            self._py4j_unpatch()
            self._py4j_unpatch = None

    # -- Spark job records (traced runs) ------------------------------------

    def spark_records(self, timeout_s: float = 60.0):
        """``{op_id: JobStats}`` for every recorded op, from the Spark
        REST API once its job count per op group equals the status
        tracker's and no job is still running. Ops flagged
        ``extra["window_jobs"]`` (a streaming fold, whose jobs run on
        the query's own thread and group) take every job submitted
        inside their window instead."""
        sc = self.spark.sparkContext
        # the status store lags the scheduler by the listener bus queue
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        want = {f"{GROUP_PREFIX}{op.op_id}":
                len(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{op.op_id}"))
                for op in self.ops}
        base = _rest_base(sc)
        deadline = time.time() + timeout_s
        while True:
            jobs = _get_json(f"{base}/jobs")
            by_group: dict[str, list] = {}
            for job in jobs:
                by_group.setdefault(job.get("jobGroup"), []).append(job)
            if (all(len(by_group.get(g, [])) >= n for g, n in want.items())
                    and all(j["status"] != "RUNNING" for j in jobs)):
                break
            if time.time() > deadline:
                raise RuntimeError(
                    "Spark REST API never caught up with the status tracker")
            time.sleep(0.2)
        stages = {}
        for st in _get_json(f"{base}/stages"):
            prev = stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[st["stageId"]] = st
        out = {}
        for op in self.ops:
            if op.extra.get("window_jobs"):
                mine = [j for j in jobs if op.wall0 - 0.002
                        <= rest_time(j["submissionTime"]) <= op.wall1 + 0.002]
            else:
                mine = by_group.get(f"{GROUP_PREFIX}{op.op_id}", [])
            out[op.op_id] = JobStats(mine, stages)
        return out


def _rest_base(sc) -> str:
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def rest_time(s: str | None) -> float | None:
    """Epoch seconds of a REST timestamp such as
    ``2026-01-01T10:00:00.123GMT``."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class JobStats:
    """Per-op Spark counts joined from REST job and stage records."""

    def __init__(self, jobs: list, stages: dict):
        self.jobs = jobs
        self.stages = [stages[s] for j in jobs for s in j["stageIds"]
                       if s in stages and stages[s]["status"] != "SKIPPED"]

    def count_jobs_in(self, w0: float, w1: float) -> int:
        return sum(1 for j in self.jobs
                   if w0 - 0.002 <= rest_time(j["submissionTime"]) <= w1 + 0.002)

    def sum(self, key: str) -> float:
        return float(sum(st.get(key, 0) or 0 for st in self.stages))

    @property
    def tasks(self) -> int:
        return sum(j["numTasks"] - j.get("numSkippedTasks", 0) for j in self.jobs)

    @property
    def failed_tasks(self) -> int:
        return sum(j.get("numFailedTasks", 0) for j in self.jobs)

    def task_wait_ms(self) -> float:
        waits = []
        for st in self.stages:
            a = rest_time(st.get("submissionTime"))
            b = rest_time(st.get("firstTaskLaunchedTime"))
            if a is not None and b is not None:
                waits.append(max(0.0, b - a) * 1000.0)
        return sum(waits)

    def covered_s(self, w0: float, w1: float) -> float:
        """Seconds of [w0, w1] during which at least one job ran."""
        spans = sorted(
            (max(w0, rest_time(j["submissionTime"])),
             min(w1, rest_time(j.get("completionTime")) or w1))
            for j in self.jobs
        )
        covered, end = 0.0, w0
        for a, b in spans:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return covered


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def write_spans(path: str, ops: list[Op], stats: dict[int, JobStats]) -> int:
    """Write one JSON span list (op -> phase -> job), with self time per
    span, to ``path``; returns the number of spans."""
    spans = []
    sid = 0
    for op in ops:
        op_sid = sid
        sid += 1
        children = []
        js = stats.get(op.op_id)
        for name, _t0, _t1, w0, w1, _calls in op.phases:
            ph_sid = sid
            sid += 1
            jobs = [] if js is None else [
                j for j in js.jobs
                if w0 - 0.002 <= rest_time(j["submissionTime"]) <= w1 + 0.002
            ]
            job_cover = 0.0 if js is None else JobStats(jobs, {}).covered_s(w0, w1)
            for j in jobs:
                a = rest_time(j["submissionTime"])
                b = rest_time(j.get("completionTime")) or a
                spans.append({"id": sid, "parent": ph_sid, "op": op.op_id,
                              "name": f"job {j['jobId']}", "start": a, "end": b,
                              "self_ms": (b - a) * 1000.0})
                sid += 1
            spans.append({"id": ph_sid, "parent": op_sid, "op": op.op_id,
                          "name": name, "start": w0, "end": w1,
                          "self_ms": (w1 - w0 - job_cover) * 1000.0})
            children.append((w0, w1))
        cover = sum(b - a for a, b in children)
        spans.append({"id": op_sid, "parent": None, "op": op.op_id,
                      "name": f"{op.layer}.{op.kind}", "start": op.wall0,
                      "end": op.wall1,
                      "self_ms": (op.wall1 - op.wall0 - cover) * 1000.0,
                      "rows": op.rows, "py4j_calls": op.py4j_calls})
    spans.sort(key=lambda s: (s["start"], s["id"]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(spans, f)
    return len(spans)
