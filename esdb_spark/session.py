"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime coalesce + skew-join handling), shuffle
partitions sized to cores (not the 200 default), Arrow for the few
Pandas-UDF paths, UTC session timezone so results compare cleanly
against external oracles.

PySpark 4's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off. With it on,
every Column function walks the Python stack and makes about ten extra
py4j round trips (active session, conf read, origin set and clear).
Interleaved in one ``local[4]`` session on a shared 4-core box (sf0.1,
25 runs of each read and 8 appends per side), with it on and off: an
archive ``scan`` of 500 rows made 142 and 62 py4j calls (p50 104.7 and
95.7 ms), a stream page 87 and 37 (115.9 and 108.0 ms), a 100-event
stream append 628 and 187 (326.8 and 289.4 ms). The capture only adds
the Python call site to error messages. It is a static setting:
``extra_conf`` can turn it back on for a session this call starts.

Python workers of a local session that ``get_spark`` starts fork from
:mod:`esdb_spark._pydaemon` instead of ``pyspark.daemon``. Stock pyspark
calls ``importlib.invalidate_caches()`` before every Python task, and on
Python 3.11 that re-reads the directory of ``pyspark.zip`` (once per
imported pyspark subpackage) and of the spark-core jar. The engine's
daemon re-reads a zip archive only when its (inode, size, mtime_ns)
changed, so a reused worker skips those reads. Measured with three
fresh ``local[4]`` sessions per daemon on a shared 4-core box (median
of 10 runs each), a 4-partition Python-RDD job took 460-515 ms stock
and 134-200 ms with the engine's daemon; collecting a 100-row
``createDataFrame(list)`` frame 447-531 vs 165-238 ms; a 4-partition
pandas-UDF query 377-638 vs 216-265 ms. Everything else in pyspark's
per-task setup, including directory-finder invalidation for
``addPyFile`` files, is unchanged.

The daemon must import before any ``--py-files`` or ``addPyFile`` file
reaches a worker, so ``get_spark`` sets it only where the package's
``PYTHONPATH`` export below is sure to reach the workers: a local master
whose JVM this call starts. Other sessions keep the stock daemon and
its per-task cost: cluster masters, a session on a JVM that was already
running (an earlier session's, or spark-submit's), sessions not built
here (a default-config driver session, Spark Connect). ``extra_conf``
can still set ``spark.python.daemon.module`` like any other setting;
the caller then answers for the import.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "esdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS`` (driver
    contract) or all cores.
    """
    # Python workers (pandas UDF / mapInPandas paths) import this package
    # by module reference; make sure they can resolve it in local mode.
    # On a real cluster the wheel ships via --py-files / pip instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    # In local mode the driver JVM is the only executor; the 1g default
    # heap is far too small for multi-GB shuffles. Honors an explicit
    # $SPARK_DRIVER_MEMORY; ignored when a JVM is already running.
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "24g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Space ids are arbitrary byte strings (reference space.go:16-24);
        # never re-type "1" as an int when reading partition directories.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Upstream parquet may carry TIMESTAMP(NANOS) (e.g. pandas-written
        # data); Spark has no nanos type and errors by default. Read them
        # as long and convert at the source layer (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # At 100 TB, dynamic partition pruning + v2 pushdown matter; both
        # default-on in Spark 3.5+/4.x, pinned here for clarity.
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("ESDB_SPARK_UI", "false"))
        # Call-site capture for error messages (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if _starts_local_driver(master):
        # Fork Python workers from the engine's daemon (module docstring).
        builder = builder.config("spark.python.daemon.module", "esdb_spark._pydaemon")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _starts_local_driver(master: str) -> bool:
    """True when ``get_spark`` is about to start the driver JVM for a local
    master. Only then does the JVM, and every Python daemon it starts,
    inherit the ``PYTHONPATH`` exported above, so ``esdb_spark`` imports
    before any ``--py-files``/``addPyFile`` file reaches a worker."""
    return (
        master.startswith("local")
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )
