"""One benchmark run.

    python3 perfbench/run.py --workload archive_lookup --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. Reads the ``sf0.1`` test tables
(TESTDATA.md) read-only from ``$SPARK_GRAFT_SF_DIR``, with the same
default as ``bench.py`` (the seed picks keys, queries and batch
contents, never the data), writes its state under ``.perfbench_work/``, starts a
local Spark session, builds the workload's state ``BUILDS`` times,
warms up with a fixed number of ops, measures a closed loop for
``--seconds``, checks every output, and prints two lines: a detail
object (environment, workload-specific figures) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs with the Spark UI on,
records spans, writes them to ``.perfbench_out/`` and reports the
per-layer metrics. Exits non-zero, printing no result, if the library,
Spark or the test tables are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from harness import ROOT, load_spec

TABLES = ("events", "documents", "customer")
DEFAULT_SF_DIR = "/root/testdata/sf0.1"  # bench.py's default


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and any Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while not self._stop.is_set():
            total = 0
            for pid in [os.getpid()] + descendants():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    pass  # the process ended between listing and reading
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if not left:
            break


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def calibrate(spark) -> float:
    """``bench.py``'s calibration query: median of 5 timed runs."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 8).selectExpr(
            "sum(id * 3 % 7) as s").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Ctx:
    """What a workload needs from the run: the session, the op log, the
    seed and where to read and write."""

    def __init__(self, spark, log, seed, work, data, input_bytes):
        self.spark = spark
        self.log = log
        self.seed = seed
        self.work = work
        self.data = data
        self.input_bytes = input_bytes

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def table_path(self, name: str) -> str:
        return os.path.join(self.data, f"{name}.parquet")


def session(cpus: int, work: str, traced: bool):
    from esdb_spark import get_spark

    os.environ["ESDB_SPARK_UI"] = "true" if traced else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if traced:
        conf.update({
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    sys.path.insert(0, ROOT)
    try:
        import esdb_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    data = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    missing = [t for t in TABLES
               if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: no {', '.join(missing)} table under {data}",
              file=sys.stderr)
        return 2
    from spans import OpLog, write_spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    # A traced run reports every per-layer metric, 0 for a layer the
    # workload leaves idle.
    units = {m["name"]: m["unit"]
             for m in load_spec()["per_layer" if traced else "end_to_end"]}
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = log = wl = None
    try:
        with RssSampler() as rss:
            input_bytes = {t: os.path.getsize(os.path.join(data, f"{t}.parquet"))
                           for t in TABLES}
            t0 = time.perf_counter()
            spark = session(cpus, work, traced)
            session_s = time.perf_counter() - t0
            log = OpLog(spark, traced)
            ctx = Ctx(spark, log, args.seed, work, data, input_bytes)
            wl = WORKLOADS[args.workload](ctx)
            builds = [wl.build() for _ in range(wl.BUILDS)]
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
            wl.measure(args.seconds)
            t0 = time.perf_counter()
            attempted, failed = wl.check()
            check_s = time.perf_counter() - t0
            cal = calibrate(spark)
            metrics = dict(wl.end_to_end())
            metrics["setup_s"] = session_s + statistics.median(builds) + warm_s
            layers = {}
            spans_path = None
            if traced:
                stats = log.spark_records()
                layers = wl.layers(stats)
                layers["session.start_s"] = session_s
                spans_path = os.path.join(
                    ROOT, ".perfbench_out",
                    f"spans-{args.workload}-seed{args.seed}.json")
                layers["trace.spans"] = float(
                    write_spans(spans_path, log.ops, stats))
                layers["trace.op_p50_ms"] = metrics["op_p50_ms"]
                layers["trace.read_p50_ms"] = metrics["read_p50_ms"]
            detail = wl.detail()
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        if log is not None:
            log.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    env = {
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": git_commit(),
        "seed": args.seed,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calibration_s": round(cal, 4),
        "setup_builds_s": [round(b, 4) for b in builds],
        "session_s": round(session_s, 4),
        "warm_s": round(warm_s, 4),
        "check_s": round(check_s, 4),
        "run_s": round(time.perf_counter() - started, 4),
    }
    detail.update(env=env, workload=args.workload, trace=args.trace,
                  failed_ratio=failed / attempted, end_to_end=metrics,
                  peak_rss_mb=rss.peak_bytes / 2**20)
    if traced:
        detail["spans"] = os.path.relpath(spans_path, ROOT)
    values = layers if traced else metrics
    out = {k: {"value": float(values.get(k, 0.0)), "unit": u}
           for k, u in units.items()}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
