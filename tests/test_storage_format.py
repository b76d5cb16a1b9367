"""The engine's own Parquet files are v2 data pages (``writer.store_writer``):
an int64 column whose dictionary does not pay is DELTA_BINARY_PACKED, a
dictionary-encoded one is RLE_DICTIONARY, and v1 files written earlier
read beside v2 ones."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from esdb_spark import Db, EventStream
from esdb_spark.stream import STREAM_SCHEMA
from esdb_spark.writer import WRITTEN_MARKER, write_events

V1 = {"parquet.writer.version": "v1"}


def _int64_encodings(path):
    """{column: set of encodings over every file under ``path``} for the
    INT64 columns, plus whether any such chunk is v1-shaped (PLAIN data
    pages without a dictionary, or PLAIN_DICTIONARY)."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    assert files, f"no parquet files under {path}"
    out, v1 = {}, False
    for f in files:
        md = pq.ParquetFile(f).metadata
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.physical_type != "INT64":
                    continue
                enc = set(c.encodings)
                out.setdefault(c.path_in_schema, set()).update(enc)
                if "PLAIN_DICTIONARY" in enc or (
                    "PLAIN" in enc and not c.has_dictionary_page
                ):
                    v1 = True
    return out, v1


def _assert_v2(path, *delta_cols):
    enc, v1 = _int64_encodings(path)
    assert not v1, enc
    for col in delta_cols:
        assert enc[col] == {"DELTA_BINARY_PACKED"}, (col, enc)


def _events(spark, n=40):
    # distinct seq and ts values: a dictionary never pays on them
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("space"),
        (F.col("id") % 3).cast("string").alias("grouping"),
        F.timestamp_seconds(F.lit(1_400_000_000) + F.col("id") * 7).alias("ts"),
        F.col("id").alias("seq"),
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("data"),
        F.create_map(F.lit("k"), (F.col("id") % 4).cast("string")).alias(
            "indexes"
        ),
    )


@pytest.mark.parametrize("layout", ["partitioned", "clustered"])
def test_archive_int64_columns_are_delta_packed(spark, tmp_path, layout):
    path = str(tmp_path / "a.esdb")
    write_events(_events(spark), path, layout=layout)
    _assert_v2(path, "seq")
    db = Db.open(spark, path)
    assert sorted(r["seq"] for r in db.df.collect()) == list(range(40))


def test_compact_archive_rewrites_a_v1_archive_as_v2(spark, tmp_path):
    from esdb_spark import fs
    from esdb_spark.maintenance import compact_archive

    path = str(tmp_path / "v1.esdb")
    _events(spark).write.options(**V1).partitionBy("space").parquet(path)
    fs.touch(spark, os.path.join(path, WRITTEN_MARKER))
    enc, v1 = _int64_encodings(path)
    assert v1 and "DELTA_BINARY_PACKED" not in enc["seq"]
    db = Db.open(spark, path)
    before = [tuple(r) for r in db.find("a").scan("0").collect()]

    db2 = compact_archive(db)
    _assert_v2(path, "seq")
    assert [tuple(r) for r in db2.find("a").scan("0").collect()] == before
    assert os.path.exists(os.path.join(path, WRITTEN_MARKER))


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(f"e{i}", {"user": f"u{i % 3}", "n": str(i)}) for i in range(lo, hi)],
        "data string, indexes map<string,string>",
    )


def test_append_dataframe_file_is_delta_packed(spark, tmp_path):
    path = str(tmp_path / "s")
    s = EventStream.new(spark, path)
    s.append_dataframe(_batch(spark, 0, 30))
    _assert_v2(path, "seq")


def test_lsm_segment_is_v2(spark, tmp_path):
    from test_incremental import _CaptureFold

    from esdb_spark.streaming import maintain_inverted_index_lsm

    state = str(tmp_path / "lsm")
    fold = maintain_inverted_index_lsm(_CaptureFold(), state, op_col="op").fold
    fold(
        spark.createDataFrame(
            # one token per doc: the (token, doc) postings hold distinct docs
            [(i, f"w{i}", "insert") for i in range(20)],
            "doc_id bigint, text string, op string",
        ),
        0,
    )
    seg = [n for n in os.listdir(state) if n.startswith("seg-")]
    assert len(seg) == 1
    _assert_v2(os.path.join(state, seg[0]), "doc")


def test_v1_stream_file_then_v2_appends(spark, tmp_path):
    """A stream holding a v1 file keeps dense seqs across v2 appends and
    pages exactly like a stream written only through the engine."""
    mixed, plain = str(tmp_path / "mixed"), str(tmp_path / "plain")
    EventStream.new(spark, mixed)
    rows = [(i, f"e{i}", {"user": f"u{i % 3}", "n": str(i)}) for i in range(10)]
    spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.options(
        **V1
    ).mode("append").parquet(mixed)
    s = EventStream.open(spark, mixed)
    ref = EventStream.new(spark, plain)
    ref.append_dataframe(_batch(spark, 0, 10))
    for lo in (10, 25):
        s.append_dataframe(_batch(spark, lo, lo + 15))
        ref.append_dataframe(_batch(spark, lo, lo + 15))

    assert sorted(r["seq"] for r in s.df.collect()) == list(range(40))
    for user in ("u0", "u1", "u2"):
        cursor = None
        while True:
            got = s.scan_index_page("user", user, cursor, limit=4)
            assert got == ref.scan_index_page("user", user, cursor, limit=4)
            rows_, cursor = got
            assert all(r["data"] == f"e{r['seq']}" for r in rows_)
            if cursor is None:
                break
    files = glob.glob(os.path.join(mixed, "*.parquet"))
    assert len(files) >= 3
    assert _int64_encodings(mixed)[1]  # the v1 file is still there

