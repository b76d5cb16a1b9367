"""Regression tests for code-review findings (round 1): each pins a
specific bug that was found and fixed."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from esdb_spark.operators.asof import asof_join, asof_join_bucketed
from esdb_spark.operators.dedup import dedup_exact, dedup_minhash_lsh
from esdb_spark.operators.text import with_language_guess


def test_dedup_exact_null_vs_shifted_columns(spark):
    # ("x", NULL) and (NULL, "x") are DISTINCT rows; naive concat
    # fingerprints collided them
    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "a\x1fb", "c"), (4, "a", "b\x1fc")],
        "id long, a string, b string",
    )
    out = dedup_exact(df, ["a", "b"], order_col="id")
    assert out.count() == 4  # nothing collides
    # both dedup modes agree
    assert dedup_exact(df, ["a", "b"]).count() == 4


def test_language_tiebreak_prefers_first_listed(spark):
    # exactly 2 en markers and 2 de markers → 'en' wins (listed first)
    df = spark.createDataFrame(
        [(1, "the market und das haus and more")], ["id", "text"]
    )
    # tokens: the(en) und(de) das(de) and(en) → 2-2 tie
    out = with_language_guess(df, "text").collect()[0]
    assert out.lang_guess == "en"


def test_minhash_empty_docs_not_paired(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, ""), (4, "real content words here")],
        ["doc_id", "text"],
    )
    out = dedup_minhash_lsh(df, "text", "doc_id", threshold=0.5, num_hashes=32, bands=8)
    # empty docs never pair with each other → all survive
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3, 4]


def test_asof_bucketed_keeps_duplicate_left_rows(spark):
    t = dt.datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame(
        [(1, t, "dup"), (1, t, "dup")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9, 0, 0), 42)], ["k", "rts", "v"]
    )
    exact = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
    bucketed = asof_join_bucketed(
        left, right, on="k", left_ts="ts", right_ts="rts",
        bucket="1 hour", lookback_buckets=2,
    )
    assert exact.count() == 2
    assert bucketed.count() == 2  # identical rows both preserved
    assert all(r.v_r == 42 for r in bucketed.collect())


def test_archive_stats_escaped_space(spark, tmp_path):
    from esdb_spark import Db, Writer
    from esdb_spark.maintenance import archive_stats

    path = str(tmp_path / "esc.esdb")
    w = Writer(spark, path)
    w.add("a b", "1", 1)
    w.write()
    stats = archive_stats(Db.open(spark, path))
    assert stats[0]["space"] == "a b"
    assert stats[0]["n_files"] is not None  # unescaped keys line up


def test_bmp_core_header_dimensions():
    """BITMAPCOREHEADER (DIB size 12) stores u16 dims at 18/20, not the
    i32 layout — was read with 40-byte-header offsets."""
    from esdb_spark.operators.multimodal import parse_image_dims

    core = (
        b"BM" + (38).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (26).to_bytes(4, "little")
        + (12).to_bytes(4, "little")          # DIB size 12
        + (100).to_bytes(2, "little")         # width u16
        + (50).to_bytes(2, "little")          # height u16
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
    )
    assert parse_image_dims(core) == ("image/bmp", 100, 50)
    info = (
        b"BM" + (62).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")          # DIB size 40
        + (640).to_bytes(4, "little")
        + (-480).to_bytes(4, "little", signed=True)  # top-down
    )
    assert parse_image_dims(info) == ("image/bmp", 640, 480)


def test_merge_streams_rejects_fake_dense_fast_path(spark, tmp_path):
    """seqs [0,1,1,3] fake lo==0/hi==n-1; the dense fast path must not
    fire (countDistinct guard) — merged output stays densely numbered."""
    import os

    from pyspark.sql import functions as F

    from esdb_spark.stream import STREAM_SCHEMA, EventStream, merge_streams

    src_dir = str(tmp_path / "fake.stream")
    os.makedirs(src_dir)
    rows = [(s, f"d{i}", None) for i, s in enumerate([0, 1, 1, 3])]
    spark.createDataFrame(rows, STREAM_SCHEMA).write.mode("append").parquet(
        src_dir
    )
    merged = merge_streams(spark, str(tmp_path / "out.stream"), [src_dir])
    seqs = sorted(r["seq"] for r in merged.iterate().select("seq").collect())
    assert seqs == [0, 1, 2, 3]


def test_pack_greedy_rejects_non_numeric_ids(spark):
    from esdb_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(
        [("doc-1", 10), ("doc-2", 20)], "doc_id string, n_tokens long"
    )
    with pytest.raises(TypeError, match="integral"):
        pack_greedy(df, "doc_id", "n_tokens")


def test_zorder_rejects_sign_bit_overflow(spark):
    from esdb_spark.operators.layout import zorder_key

    df = spark.range(10).select(*[
        (F.col("id") % 7).alias(f"c{i}") for i in range(8)
    ])
    with pytest.raises(ValueError, match="63"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits_per_col=8)


def test_minhash_rejects_excess_permutations(spark):
    from esdb_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="4096"):
        minhash_signatures(df, "text", "doc_id", num_hashes=8192)


def test_heavy_hitters_null_heavy_column(spark):
    """NULL-heavy columns: nulls are excluded from items AND from N,
    per the documented contract."""
    from esdb_spark.operators.sketches import heavy_hitters

    rows = [(None,)] * 80 + [("a",)] * 15 + [("b",)] * 5
    df = spark.createDataFrame(rows, "v string")
    got = {r["item"]: r["cnt"] for r in heavy_hitters(df, "v", k=3).collect()}
    # non-null N = 20; threshold 20/3 ≈ 6.7 -> only "a" qualifies
    assert got == {"a": 15}


def test_decontaminate_broadcasts_dirty_side(spark):
    """The anti-join must broadcast the (small) contaminated set, not
    ~the whole clean corpus."""
    from esdb_spark.operators.decontam import decontaminate
    from esdb_spark.plans import physical_plan

    tr = spark.createDataFrame(
        [(i, f"doc number {i} unique words here now today") for i in range(50)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(99, "nothing shared")], "doc_id long, text string")
    plan = physical_plan(decontaminate(tr, ev))
    assert "LeftAnti" in plan


def test_asof_bucketed_keeps_left_row_when_only_later_matches(spark):
    """lookback_buckets=0 with every same-bucket right row LATER than
    the left row: the left row must appear null-extended, not vanish."""
    from esdb_spark.operators.asof import asof_join_bucketed

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 15:00:00", 99)], "k long, rts string, v long"
    ).withColumn("rts", F.to_timestamp("rts"))
    out = asof_join_bucketed(
        left, right, on="k", left_ts="ts", right_ts="rts",
        bucket="1 day", lookback_buckets=0,
    ).collect()
    assert len(out) == 1
    assert out[0]["v_r"] is None  # no at-or-before match -> null, kept


def test_add_dataframe_and_add_share_seq_space(spark, tmp_path):
    """Bulk batches and the row API must not collide on seq: two events
    with the same (grouping, ts) across an add() and an add_dataframe()
    order by call sequence, deterministically."""
    from esdb_spark import Db, Writer

    path = str(tmp_path / "seq.esdb")
    w = Writer(spark, path)
    w.add("s", "first", timestamp=1000, grouping="g")
    bulk = spark.createDataFrame(
        [("s", "g", 1000, "second", {})],
        "space string, grouping string, ts long, data string, "
        "indexes map<string,string>",
    ).withColumn("ts", F.timestamp_seconds(F.col("ts")))
    w.add_dataframe(bulk, assign_seq=True)
    w.write()
    rows = Db.open(spark, path).find("s").scan("g").collect()
    seqs = [r["seq"] for r in rows]
    assert len(set(seqs)) == 2  # no collision
    # ts ties break by seq asc = insertion order: add() before bulk
    assert [r["data"] for r in sorted(rows, key=lambda r: r["seq"])] == [
        "first",
        "second",
    ]


def test_append_dataframe_assigns_dense_seqs(spark, tmp_path):
    """Micro-batch appends produce gap-free seqs (merge fast path +
    no full-stream rescan between batches)."""
    from esdb_spark.stream import EventStream

    st = EventStream.new(spark, str(tmp_path / "dense.stream"))
    batch = spark.createDataFrame(
        [(f"d{i}", {}) for i in range(10)],
        "data string, indexes map<string,string>",
    ).repartition(4)
    st.append_dataframe(batch)
    st.append_dataframe(batch)
    seqs = sorted(r["seq"] for r in st.df.select("seq").collect())
    assert seqs == list(range(20))
    assert st._next_seq == 20  # tracked, not recomputed via full scan

    # non-deterministic source: the rows written are the rows counted
    noisy = (
        spark.range(400)
        .repartition(4)
        .filter(F.rand(7) < 0.5)
        .select(
            F.col("id").cast("string").alias("data"),
            F.create_map().cast("map<string,string>").alias("indexes"),
        )
    )
    st.append_dataframe(noisy)
    rows = st.df.filter(F.col("seq") >= 20).collect()
    n = len(rows)
    assert 0 < n < 400
    assert sorted(r["seq"] for r in rows) == list(range(20, 20 + n))
    assert len({r["data"] for r in rows}) == n
    assert st._next_seq == 20 + n

    # seqs follow partition order, then the order within each partition
    # (values descend, partition 0 is empty)
    ordered = (
        spark.range(0, 40, 1, 4)
        .filter(F.col("id") >= 10)
        .select(
            (F.lit(100) - F.col("id")).cast("string").alias("data"),
            F.create_map().cast("map<string,string>").alias("indexes"),
        )
    )
    want = [r["data"] for r in ordered.collect()]
    assert want == [str(100 - i) for i in range(10, 40)]
    start = st._next_seq
    st.append_dataframe(ordered)
    got = st.df.filter(F.col("seq") >= start).orderBy("seq").collect()
    assert [r["seq"] for r in got] == list(range(start, start + 30))
    assert [r["data"] for r in got] == want


def test_stream_into_fresh_checkpoint_does_not_skip(spark, tmp_path):
    """Ledger lives in the checkpoint dir: a NEW checkpoint (epochs
    restart at 0) must append, not silently skip epoch 0."""
    import time

    from esdb_spark.stream import EventStream
    from esdb_spark.streaming import read_event_stream, stream_into

    src_dir = str(tmp_path / "src.stream")
    src = EventStream.new(spark, src_dir)
    src.write("one")
    dst = EventStream.new(spark, str(tmp_path / "dst.stream"))

    q = stream_into(
        read_event_stream(spark, src_dir), dst, str(tmp_path / "cp1")
    )
    q.processAllAvailable(); q.stop()
    n1 = dst.df.count()
    assert n1 == 1

    src.write("two")
    # fresh checkpoint: reprocesses the whole source from scratch with
    # epoch ids restarting at 0 — must still append (the OLD ledger
    # keyed by bare epoch id would skip it)
    q = stream_into(
        read_event_stream(spark, src_dir), dst, str(tmp_path / "cp2")
    )
    q.processAllAvailable(); q.stop()
    assert dst.df.count() == n1 + 2  # full replay appended


# --- round 4: ADVICE.md + verdict fixes ---


def test_ewma_null_keys_form_one_group(spark):
    """NULL-key rows used to receive uninitialized memory (np.empty +
    dropna=True groupby skipped them). Contract now: NULLs are one
    group, SQL GROUP BY semantics."""
    import pandas as pd

    from esdb_spark.operators.grouped import ewma_per_key

    df = spark.createDataFrame(
        [(None, 1, 1.0), (None, 2, 2.0), ("a", 1, 10.0), ("a", 2, 20.0)],
        "k string, t int, v double",
    )
    out = {
        (r["k"], r["t"]): r["ewma"]
        for r in ewma_per_key(df, "k", ["t"], "v", alpha=0.5).collect()
    }
    exp_null = pd.Series([1.0, 2.0]).ewm(alpha=0.5, adjust=False).mean()
    assert out[(None, 1)] == exp_null[0]
    assert out[(None, 2)] == exp_null[1]
    exp_a = pd.Series([10.0, 20.0]).ewm(alpha=0.5, adjust=False).mean()
    assert out[("a", 1)] == exp_a[0]
    assert out[("a", 2)] == exp_a[1]


def test_interleave_non_string_source_and_null_source(spark):
    """The offsets frame used to hardcode `source string` (breaking
    int source columns) and the inner equi-join dropped NULL-source
    rows. Both fixed: typed schema + eqNullSafe."""
    from esdb_spark.operators.packing import interleave_sources

    df = spark.createDataFrame(
        [(1, 1.0, 1), (2, 1.0, 2), (None, 2.0, 3), (None, 2.0, 4)],
        "src int, weight double, doc_id int",
    )
    out = interleave_sources(df, "src", "weight", "doc_id")
    rows = out.collect()
    assert len(rows) == 4  # NULL-source rows survive
    assert sorted(r["pos"] for r in rows) == [1, 2, 3, 4]
    # NULL source = one stride group at weight 2 → its rows come first
    by_pos = {r["pos"]: r["src"] for r in rows}
    assert by_pos[1] is None


def test_bloom_primitives_null_key_contract(spark):
    """bloom_table skips NULL keys; with_bloom_flag flags NULL keys
    false — SQL membership semantics even outside dedup_against_bloom
    (NULL build keys used to set a constant bit pattern that every
    NULL probe then found)."""
    from esdb_spark.operators.bloom import bloom_table, with_bloom_flag

    build = spark.createDataFrame([("x",), (None,)], "k string")
    probe = spark.createDataFrame([("x",), ("y",), (None,)], "k string")
    table = bloom_table(build, "k", num_bits_log2=10, num_hashes=3)
    out = {
        r["k"]: r["in_bloom"]
        for r in with_bloom_flag(
            probe, table, "k", num_bits_log2=10, num_hashes=3
        ).collect()
    }
    assert out["x"] is True
    assert out[None] is False  # NULL is never a member


def test_composed_invocations_leave_no_cache_entries(spark):
    """ngram_jaccard_pairs / interleave_sources used to persist()
    without release — composed catalog invocations accumulated
    cache-manager entries (driver-memory leak via plan
    canonicalization). localCheckpoint/unpersist fixed it; round 5
    extended the same posture to the minhash-signature and simhash
    persists (the last two unreleased persist() sites)."""
    from esdb_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash,
        ngram_jaccard_pairs,
    )
    from esdb_spark.operators.packing import interleave_sources

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id int, text string",
    )
    mix = spark.createDataFrame(
        [("a", 1.0, i) for i in range(10)] + [("b", 2.0, i + 10) for i in range(10)],
        "source string, weight double, doc_id int",
    )
    # start from a clean slate so the assertion isolates THESE functions
    spark.catalog.clearCache()
    jvm_cm = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).count()
        interleave_sources(mix).count()
        dedup_minhash_lsh(docs, "text", "doc_id", num_hashes=16, bands=4).count()
        dedup_simhash(docs, "text", "doc_id").count()
    assert jvm_cm.isEmpty(), "cache-manager entries leaked"
