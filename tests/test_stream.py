"""Stream semantics: append, index scans newest→oldest, full iterate
oldest→newest, continuation cursors, tails, close/seal, merge.
Mirrors /root/reference/stream/open_stream_test.go:89-256,
closed_stream_test.go, merge_stream_test.go:34-92 (fixture F4)."""

import os

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from esdb_spark import (
    DbExistsError,
    EventStream,
    PartitionTooLargeError,
    StreamClosedError,
    merge_streams,
)


def _populate(stream, suffix=""):
    # open_stream_test.go fixture: three events with overlapping indexes.
    stream.write("abc" + suffix, {"a": "a", "b": "b", "c": "c"})
    stream.write("cde" + suffix, {"c": "c", "d": "d", "e": "e"})
    stream.write("def" + suffix, {"d": "d", "e": "e", "f": "f"})


def _data(df):
    return [r["data"] for r in df.collect()]


def test_new_errors_if_exists(spark, tmp_path):
    path = str(tmp_path / "s.stream")
    EventStream.new(spark, path)
    with pytest.raises(DbExistsError):
        EventStream.new(spark, path)


def test_scan_index_newest_first(spark, tmp_path):
    s = EventStream.new(spark, str(tmp_path / "s.stream"))
    _populate(s)
    # open_stream_test.go:123-137: c:c → ["cde","abc"] newest→oldest
    assert _data(s.scan_index("c", "c")) == ["cde", "abc"]
    assert _data(s.scan_index("a", "a")) == ["abc"]
    assert _data(s.scan_index("e", "e")) == ["def", "cde"]
    assert _data(s.scan_index("nope", "x")) == []


def test_first(spark, tmp_path):
    s = EventStream.new(spark, str(tmp_path / "s.stream"))
    _populate(s)
    assert s.first("c", "c")["data"] == "cde"
    assert s.first("a", "a")["data"] == "abc"
    assert s.first("zz", "zz") is None


def test_iterate_oldest_first_and_cursor(spark, tmp_path):
    s = EventStream.new(spark, str(tmp_path / "s.stream"))
    _populate(s)
    # open_stream_test.go:206 — insertion order
    assert _data(s.iterate()) == ["abc", "cde", "def"]

    # continuation: page of 2, resume, then exhausted cursor stays valid
    rows, cursor = s.iterate_page(limit=2)
    assert [r["data"] for r in rows] == ["abc", "cde"]
    rows, cursor2 = s.iterate_page(cursor=cursor, limit=2)
    assert [r["data"] for r in rows] == ["def"]
    # cursor survives across appends (open_stream_test.go:226-256)
    s.write("xyz", {"a": "a"})
    rows, _ = s.iterate_page(cursor=cursor2, limit=10)
    assert [r["data"] for r in rows] == ["xyz"]
    # a zero-row page would hand the caller's cursor back unchanged
    with pytest.raises(ValueError):
        s.iterate_page(cursor=cursor, limit=0)


def test_scan_index_pagination(spark, tmp_path):
    s = EventStream.new(spark, str(tmp_path / "s.stream"))
    _populate(s)
    rows, cursor = s.scan_index_page("e", "e", limit=1)
    assert [r["data"] for r in rows] == ["def"]
    assert cursor is not None
    rows, cursor = s.scan_index_page("e", "e", cursor=cursor, limit=5)
    assert [r["data"] for r in rows] == ["cde"]
    assert cursor is None  # exhausted → None (reference 0-offset sentinel)
    # a zero-row page would return the exhausted sentinel while rows remain
    with pytest.raises(ValueError):
        s.scan_index_page("e", "e", limit=0)
    with pytest.raises(ValueError):
        s.scan_index_page("e", "e", limit=-1)


def test_reopen_rebuilds_tail(spark, tmp_path):
    # open_stream_test.go:258-425 — reopen sees all committed events and
    # appends continue after the rebuilt tail.
    path = str(tmp_path / "s.stream")
    s = EventStream.new(spark, path)
    _populate(s)
    s2 = EventStream.open(spark, path)
    assert _data(s2.iterate()) == ["abc", "cde", "def"]
    s2.write("ghi", {"a": "a"})
    assert _data(s2.scan_index("a", "a")) == ["ghi", "abc"]


def test_close_seals_stream(spark, tmp_path):
    path = str(tmp_path / "s.stream")
    s = EventStream.new(spark, path)
    _populate(s)
    s.close()
    assert s.closed
    # reads still work, identical results (closed_stream_test.go:31-64)
    assert _data(s.scan_index("c", "c")) == ["cde", "abc"]
    assert s.first("d", "d")["data"] == "def"
    # writes error (closed_stream_test.go:154-161)
    with pytest.raises(StreamClosedError):
        s.write("nope", {})
    # auto-detection on open (stream.go:54-72)
    assert EventStream.open(spark, path).closed


def test_tails(spark, tmp_path):
    s = EventStream.new(spark, str(tmp_path / "s.stream"))
    _populate(s)
    tails = {(r["name"], r["value"]): r["data"] for r in s.tails().collect()}
    assert tails[("c", "c")] == "cde"
    assert tails[("d", "d")] == "def"
    assert tails[("a", "a")] == "abc"


def test_merge(spark, tmp_path):
    # merge_stream_test.go:34-92 — concatenation in stream order, NOT
    # timestamp-interleaved; merged indexes preserved; result is closed.
    paths = []
    for name in ["one", "two", "three"]:
        p = str(tmp_path / f"{name}.stream")
        s = EventStream.new(spark, p)
        _populate(s, suffix=name)
        s.close()
        paths.append(p)

    dest = merge_streams(spark, str(tmp_path / "merged.stream"), paths)
    assert dest.closed
    assert _data(dest.iterate()) == [
        "abcone", "cdeone", "defone",
        "abctwo", "cdetwo", "deftwo",
        "abcthree", "cdethree", "defthree",
    ]
    # index scan across the merged stream: newest→oldest across sources
    assert _data(dest.scan_index("a", "a")) == ["abcthree", "abctwo", "abcone"]


def _batch(spark, tag, rows=100):
    """A materialized ``repartition(4)`` batch of ``rows`` events, so a
    job count covers only what the append itself runs."""
    return (
        spark.range(rows)
        .select(
            F.concat(F.lit(f"{tag}-"), F.col("id").cast("string")).alias("data"),
            F.create_map(F.lit("batch"), F.lit(tag)).alias("indexes"),
        )
        .repartition(4)
        .localCheckpoint()
    )


def _parquet_files(path):
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))


def test_append_job_budget(spark, tmp_path):
    """An append is one cached pass plus one write: at most 2 jobs of
    one stage each (no shuffle), one file for a 100-row batch, and no
    new generated code for a second batch of the same shape."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    path = str(tmp_path / "s.stream")
    s = EventStream.new(spark, path)

    batch = _batch(spark, "a")
    with count_jobs(spark) as appended:
        s.append_dataframe(batch)
    assert appended.jobs <= 2
    assert appended.stages == [1] * appended.jobs
    assert _parquet_files(path) == 1

    batch = _batch(spark, "b")
    with count_jobs(spark) as staged:
        assert s.stage_dataframe(batch, str(tmp_path / "staged")) == 200
    assert staged.jobs <= 2
    assert staged.stages == [1] * staged.jobs

    batch = _batch(spark, "c")
    compiles = codegen.METRIC_COMPILATION_TIME().getCount()
    s.append_dataframe(batch)
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles
    assert _parquet_files(path) == 2
    seqs = sorted(r["seq"] for r in s.df.select("seq").collect())
    assert seqs == list(range(200))


def test_append_rejects_partition_beyond_seq_bits(spark, tmp_path, monkeypatch):
    """A partition holding more rows than the row-index bits of
    monotonically_increasing_id can number raises before anything is
    written (the limit is lowered here to keep the batch small)."""
    from esdb_spark import stream

    monkeypatch.setattr(stream, "_PARTITION_ROWS", 20)
    path = str(tmp_path / "s.stream")
    s = EventStream.new(spark, path)
    with pytest.raises(PartitionTooLargeError):
        s.append_dataframe(_batch(spark, "big"))
    assert _parquet_files(path) == 0
    assert s._next_seq == 0
