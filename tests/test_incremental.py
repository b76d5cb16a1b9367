"""Incremental aggregate maintenance (operators/incremental.py): the
state' = state + delta invariant against from-scratch recomputation."""

import pytest

from pyspark.sql import functions as F

from esdb_spark.operators.incremental import apply_changes, snapshot_aggregate


@pytest.fixture(scope="module")
def base(spark):
    rows = [(k, i, (k + 1) * 10 + i) for k in range(3) for i in range(4)]
    return spark.createDataFrame(rows, "k int, i int, v long")


def _as_dict(df):
    return {r["k"]: (r["n_rows"], r["sum_v"]) for r in df.collect()}


def test_invariant_matches_recompute(spark, base):
    state = snapshot_aggregate(base, ["k"], ["v"])
    # delete two rows of k=0, insert one row into k=1 and a NEW key 9
    feed = spark.createDataFrame(
        [
            (0, 0, 10, "delete"),
            (0, 1, 11, "delete"),
            (1, 9, 100, "insert"),
            (9, 0, 7, "insert"),
        ],
        "k int, i int, v long, op string",
    )
    updated = _as_dict(apply_changes(state, feed, ["k"], ["v"]))
    # recompute from scratch on the edited base
    edited = base.filter(~((F.col("k") == 0) & F.col("i").isin(0, 1))).unionByName(
        spark.createDataFrame(
            [(1, 9, 100), (9, 0, 7)], "k int, i int, v long"
        )
    )
    direct = _as_dict(snapshot_aggregate(edited, ["k"], ["v"]))
    assert updated == direct


def test_group_emptied_by_deletes_drops(spark, base):
    state = snapshot_aggregate(base, ["k"], ["v"])
    feed = spark.createDataFrame(
        [(2, i, 30 + i, "delete") for i in range(4)],
        "k int, i int, v long, op string",
    )
    out = _as_dict(apply_changes(state, feed, ["k"], ["v"]))
    assert 2 not in out
    assert set(out) == {0, 1}


def test_negative_count_raises_by_default(spark, base):
    state = snapshot_aggregate(base, ["k"], ["v"])
    feed = spark.createDataFrame(
        [(5, 0, 1, "delete")],  # key 5 never existed
        "k int, i int, v long, op string",
    )
    with pytest.raises(Exception):
        apply_changes(state, feed, ["k"], ["v"]).collect()
    out = _as_dict(
        apply_changes(state, feed, ["k"], ["v"], allow_negative=True)
    )
    assert out[5] == (-1, -1)


def test_bad_op_raises(spark, base):
    state = snapshot_aggregate(base, ["k"], ["v"])
    feed = spark.createDataFrame(
        [(0, 0, 10, "upsert")], "k int, i int, v long, op string"
    )
    with pytest.raises(Exception):
        apply_changes(state, feed, ["k"], ["v"]).collect()


def test_null_measures_count_as_zero(spark):
    base = spark.createDataFrame(
        [(1, None), (1, 5)], "k int, v int"
    )
    state = snapshot_aggregate(base, ["k"], ["v"])
    assert _as_dict(state)[1] == (2, 5)
    feed = spark.createDataFrame(
        [(1, None, "delete")], "k int, v int, op string"
    )
    out = _as_dict(apply_changes(state, feed, ["k"], ["v"]))
    assert out[1] == (1, 5)


def test_maintain_aggregate_streaming(spark, tmp_path):
    """The streaming face: micro-batched change feed folds into
    versioned parquet state; final state == batch recompute."""
    from esdb_spark.operators.incremental import snapshot_aggregate
    from esdb_spark.streaming import (
        maintain_aggregate,
        read_maintained_aggregate,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(0, 10, "insert"), (0, 20, "insert"), (1, 5, "insert")], schema
    ).coalesce(1).write.parquet(src)

    feed = spark.readStream.schema(schema).parquet(src)
    q = maintain_aggregate(
        feed,
        str(tmp_path / "state"),
        ["k"],
        ["v"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # second micro-batch: delete one row, touch a new key
        spark.createDataFrame(
            [(0, 10, "delete"), (2, 7, "insert")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    final = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in read_maintained_aggregate(
            spark, str(tmp_path / "state")
        ).collect()
    }
    direct = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in snapshot_aggregate(
            spark.createDataFrame(
                [(0, 20), (1, 5), (2, 7)], "k int, v long"
            ),
            ["k"],
            ["v"],
        ).collect()
    }
    assert final == direct


class _CaptureFold:
    """A stand-in change stream: a maintainer started on it records the
    foreachBatch fold it would run, so a test can call that fold
    directly with chosen batches and epoch ids."""

    writeStream = property(lambda self: self)

    def foreachBatch(self, fold):
        self.fold = fold
        return self

    def __getattr__(self, name):  # outputMode, queryName, option, start
        return lambda *args, **kwargs: self


def _aggregate_fold(state_path):
    from esdb_spark.streaming import maintain_aggregate

    return maintain_aggregate(_CaptureFold(), state_path, ["k"], ["v"]).fold


def test_maintain_aggregate_replayed_epoch_is_idempotent(spark, tmp_path):
    """A retried epoch must not double-apply its batch: a replay of a
    published epoch is a no-op, and a replay of one whose manifest
    never landed folds from its PREDECESSOR state, not from its own
    output (the foreachBatch at-least-once contract)."""
    import os

    from esdb_spark.streaming import read_maintained_aggregate

    state_path = str(tmp_path / "state")
    fold = _aggregate_fold(state_path)
    schema = "k int, v long, op string"
    b0 = spark.createDataFrame([(0, 10, "insert")], schema)
    b1 = spark.createDataFrame([(0, 5, "insert")], schema)

    def state():
        out = read_maintained_aggregate(spark, state_path).collect()
        return [(r["k"], r["n_rows"], r["sum_v"]) for r in out]

    fold(b0, 0)
    fold(b0, 0)  # replay of the SAME epoch
    assert state() == [(0, 1, 10)]
    fold(b1, 1)
    fold(b1, 1)
    assert state() == [(0, 2, 15)]
    # a crash after epoch 1's segment write but before its manifest
    # rename: the replay recomputes from epoch 0's state
    os.remove(os.path.join(state_path, "manifest-000000000001"))
    assert state() == [(0, 1, 10)]
    fold(b1, 1)
    assert state() == [(0, 2, 15)]


def test_lsm_insert_delete_epoch_job_count(spark, tmp_path):
    """One maintain_inverted_index_lsm epoch of one insert and one
    delete runs 10 jobs (measured, local[4]): 2 for the duplicate-insert
    check, then for the segment and the tombstone each 2 for the write
    and 2 for the emptiness probe, which reads back under the writer's
    schema. Reading back without it added a schema-inference job per
    probe (12 jobs)."""
    from conftest import count_jobs

    from esdb_spark.streaming import maintain_inverted_index_lsm

    fold = maintain_inverted_index_lsm(
        _CaptureFold(), str(tmp_path / "lsm"), op_col="op"
    ).fold
    schema = "doc_id int, text string, op string"
    fold(spark.createDataFrame(
        [(1, "spark things", "insert"), (2, "fast spark", "insert")], schema
    ), 0)
    batch = spark.createDataFrame(
        [(3, "more things", "insert"), (1, "spark things", "delete")], schema
    )
    with count_jobs(spark) as counted:
        fold(batch, 1)
    assert counted.jobs == 10


def test_null_keys_fold_as_one_group(spark):
    """groupBy treats NULL as a group; the state join must too
    (eqNullSafe — review finding, was a confirmed split into two
    NULL-key rows)."""
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    base = spark.createDataFrame([(None, 5), (1, 2)], "k int, v long")
    state = snapshot_aggregate(base, ["k"], ["v"])
    feed = spark.createDataFrame(
        [(None, 3, "insert")], "k int, v long, op string"
    )
    got = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in apply_changes(state, feed, ["k"], ["v"]).collect()
    }
    assert got == {None: (2, 8), 1: (1, 2)}
    # a NULL-key delete of a row the base HAS must not trip the
    # negative-count check
    feed2 = spark.createDataFrame(
        [(None, 5, "delete")], "k int, v long, op string"
    )
    got2 = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in apply_changes(state, feed2, ["k"], ["v"]).collect()
    }
    assert got2 == {1: (1, 2)}  # emptied NULL group drops from state


def test_changes_between_composes_with_apply_changes(spark):
    """The closing-the-loop property: diffing two snapshots and
    folding the diff into the old aggregate state reproduces the new
    aggregate state exactly."""
    from esdb_spark.operators.incremental import (
        apply_changes,
        changes_between,
        snapshot_aggregate,
    )

    old = spark.createDataFrame(
        [(0, 10), (0, 10), (0, 10), (1, 5), (2, 7)], "k int, v long"
    )
    new = spark.createDataFrame(
        [(0, 10), (1, 5), (1, 6), (3, 9)], "k int, v long"
    )
    feed = changes_between(old, new)
    # multiset: (0,10) 3x -> 1x yields TWO deletes
    ops = sorted(
        (r["k"], r["v"], r["op"]) for r in feed.collect()
    )
    assert ops.count((0, 10, "delete")) == 2
    got = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in apply_changes(
            snapshot_aggregate(old, ["k"], ["v"]), feed, ["k"], ["v"]
        ).collect()
    }
    want = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in snapshot_aggregate(new, ["k"], ["v"]).collect()
    }
    assert got == want


def test_changes_between_schema_mismatch_raises(spark):
    from esdb_spark.operators.incremental import changes_between

    a = spark.createDataFrame([(1, 2)], "k int, v long")
    b = spark.createDataFrame([(1,)], "k int")
    import pytest as _pt

    with _pt.raises(ValueError):
        changes_between(a, b)


def test_track_minmax_insert_only(spark):
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    base = spark.createDataFrame(
        [(0, 5), (0, 9), (1, 3)], "k int, v long"
    )
    state = snapshot_aggregate(base, ["k"], ["v"], track_minmax=True)
    feed = spark.createDataFrame(
        [(0, 2, "insert"), (1, 8, "insert"), (7, 4, "insert")],
        "k int, v long, op string",
    )
    got = {
        r["k"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
        for r in apply_changes(
            state, feed, ["k"], ["v"], track_minmax=True
        ).collect()
    }
    edited = spark.createDataFrame(
        [(0, 5), (0, 9), (1, 3), (0, 2), (1, 8), (7, 4)], "k int, v long"
    )
    want = {
        r["k"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
        for r in snapshot_aggregate(
            edited, ["k"], ["v"], track_minmax=True
        ).collect()
    }
    assert got == want
    # deletes must be refused, not silently corrupt an extremum
    bad = spark.createDataFrame(
        [(0, 9, "delete")], "k int, v long, op string"
    )
    with pytest.raises(Exception):
        apply_changes(state, bad, ["k"], ["v"], track_minmax=True).collect()


def test_read_maintained_aggregate_as_of_epoch(spark, tmp_path):
    from esdb_spark.streaming import read_maintained_aggregate

    state_path = str(tmp_path / "state")
    fold = _aggregate_fold(state_path)
    for epoch in (0, 3):
        fold(
            spark.createDataFrame(
                [(1, 10, "insert")], "k int, v long, op string"
            ),
            epoch,
        )
    assert read_maintained_aggregate(spark, state_path).first()["sum_v"] == 20
    assert (
        read_maintained_aggregate(spark, state_path, as_of_epoch=2)
        .first()["sum_v"]
        == 10
    )
    assert read_maintained_aggregate(
        spark, state_path, as_of_epoch=3
    ).first()["sum_v"] == 20


def test_state_flag_mismatch_raises_both_ways(spark):
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    base = spark.createDataFrame([(0, 5)], "k int, v long")
    feed = spark.createDataFrame(
        [(0, 1, "insert")], "k int, v long, op string"
    )
    plain = snapshot_aggregate(base, ["k"], ["v"])
    rich = snapshot_aggregate(base, ["k"], ["v"], track_minmax=True)
    with pytest.raises(ValueError):
        apply_changes(rich, feed, ["k"], ["v"])  # would drop extrema
    with pytest.raises(ValueError):
        apply_changes(plain, feed, ["k"], ["v"], track_minmax=True)


def test_changes_between_guards(spark):
    from esdb_spark.operators.incremental import changes_between

    a = spark.createDataFrame([(1, 2.0)], "k int, v double")
    b = spark.createDataFrame([(1, 2)], "k int, v long")  # type drift
    with pytest.raises(ValueError):
        changes_between(a, b)
    c = spark.createDataFrame([(1, "x")], "k int, op string")
    with pytest.raises(ValueError):
        changes_between(c, c)  # op_col collision


def test_track_distinct_insert_only_matches_recompute(spark):
    from esdb_spark.operators.incremental import (
        apply_changes,
        distinct_estimates,
        snapshot_aggregate,
    )

    base = spark.createDataFrame(
        [(0, "a"), (0, "b"), (0, "a"), (1, "x"), (2, None)],
        "k int, u string",
    )
    state = snapshot_aggregate(base, ["k"], [], track_distinct=["u"])
    feed = spark.createDataFrame(
        # overlap (a again), new value (c), brand-new key (7),
        # all-NULL tracked value on key 2
        [(0, "a", "insert"), (0, "c", "insert"), (7, "z", "insert"),
         (2, None, "insert")],
        "k int, u string, op string",
    )
    folded = apply_changes(
        state, feed, ["k"], [], track_distinct=["u"]
    )
    got = {
        r["k"]: (r["n_rows"], r["ndv_u"])
        for r in distinct_estimates(folded, ["u"]).collect()
    }
    # sparse-mode sketches are exact at this cardinality: cross-
    # validate against an exact countDistinct recompute
    merged = spark.createDataFrame(
        [(0, "a"), (0, "b"), (0, "a"), (1, "x"), (2, None),
         (0, "a"), (0, "c"), (7, "z"), (2, None)],
        "k int, u string",
    )
    want = {
        r["k"]: (r["n_rows"], r["ndv"])
        for r in merged.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("u").cast("long").alias("ndv"),
        )
        .collect()
    }
    assert got == want
    assert got[2] == (2, 0)  # all-NULL group estimates 0

    # deletes must be refused — a distinct sketch cannot un-see a value
    bad = spark.createDataFrame(
        [(0, "a", "delete")], "k int, u string, op string"
    )
    with pytest.raises(Exception):
        apply_changes(
            state, bad, ["k"], [], track_distinct=["u"]
        ).collect()


def test_track_distinct_state_mismatch_raises_both_ways(spark):
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    base = spark.createDataFrame([(0, "a")], "k int, u string")
    plain = snapshot_aggregate(base, ["k"], [])
    sketched = snapshot_aggregate(base, ["k"], [], track_distinct=["u"])
    feed = spark.createDataFrame(
        [(0, "b", "insert")], "k int, u string, op string"
    )
    with pytest.raises(ValueError, match="lacks"):
        apply_changes(plain, feed, ["k"], [], track_distinct=["u"])
    with pytest.raises(ValueError, match="do not match"):
        apply_changes(sketched, feed, ["k"], [])


def test_maintain_aggregate_streaming_track_distinct(spark, tmp_path):
    # the streaming face threads sketches through parquet state
    # versions: binary round-trip + hll_union across micro-batches
    from esdb_spark.operators.incremental import distinct_estimates
    from esdb_spark.streaming import (
        maintain_aggregate,
        read_maintained_aggregate,
    )

    src = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k int, u string, op string"
    spark.createDataFrame(
        [(0, "a", "insert"), (0, "b", "insert"), (1, "x", "insert")],
        schema,
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_aggregate(
        stream, state, ["k"], [], checkpoint=ckpt,
        query_name="mad_distinct_test", track_distinct=["u"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.createDataFrame(
        [(0, "a", "insert"), (0, "c", "insert")], schema
    ).coalesce(1).write.mode("append").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_aggregate(
        stream, state, ["k"], [], checkpoint=ckpt,
        query_name="mad_distinct_test2", track_distinct=["u"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["k"]: (r["n_rows"], r["ndv_u"])
        for r in distinct_estimates(
            read_maintained_aggregate(spark, state), ["u"]
        ).collect()
    }
    assert got == {0: (4, 3), 1: (1, 1)}


def test_lineitem_incremental_distinct_matches_exact_recompute(spark):
    # gate-scale cross-validation of the rows-only catalog entry: at
    # sf0.01 cardinalities the HLL sketches are in sparse (exact)
    # mode, so the maintained estimates must EQUAL a from-scratch
    # exact countDistinct over base+feed
    from esdb_spark.queries import lineitem_incremental_distinct
    from esdb_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    got = [tuple(r) for r in lineitem_incremental_distinct(spark, sf).collect()]
    li = load_table(spark, sf, "lineitem")
    want = [
        tuple(r)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("l_suppkey").cast("long").alias("ndv_l_suppkey"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    ]
    assert got == want and got


def test_maintain_inverted_index_streaming(spark, tmp_path):
    # streaming appends fold into the committed index exactly like a
    # from-scratch build over everything seen; serving parity via
    # keyword_search_indexed
    from esdb_spark.operators.search import (
        build_inverted_index,
        keyword_search_indexed,
    )
    from esdb_spark.streaming import (
        maintain_inverted_index,
        read_maintained_index,
    )

    src = str(tmp_path / "docs")
    state = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id int, text string"
    batch1 = [(1, "spark joins tables"), (2, "spark shuffle")]
    batch2 = [(3, "tables of data"), (4, "spark tables spark")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_inverted_index(stream, state, checkpoint=ckpt,
                                query_name="mii_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_inverted_index(stream, state, checkpoint=ckpt,
                                query_name="mii_test2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = read_maintained_index(spark, state)
    want = build_inverted_index(
        spark.createDataFrame(batch1 + batch2, schema)
    )

    def key(df):
        # flat (token, doc, tf) layout (round 10)
        return sorted(
            (r["token"], r["doc"], r["tf"]) for r in df.collect()
        )

    assert key(got) == key(want)
    served = keyword_search_indexed(got, ["spark"], k=5).collect()
    assert [(r["doc"], r["score"]) for r in served] == [(4, 2), (1, 1), (2, 1)]


def test_maintain_doc_lengths_streaming(spark, tmp_path):
    # the BM25 side table maintains through the same epoch protocol as
    # the index: appends AND deletes fold across micro-batches, and the
    # maintained index + maintained lengths serve bm25_search_indexed
    # bit-exact vs the from-corpus path over the survivors
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        build_inverted_index,
        delete_from_inverted_index,
        update_inverted_index,
    )
    from esdb_spark.streaming import (
        maintain_doc_lengths,
        read_maintained_doc_lengths,
    )

    src = str(tmp_path / "chg")
    state = str(tmp_path / "dl")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id int, text string, op string"
    batch1 = [
        (1, "spark joins tables", "insert"),
        (2, "spark shuffle spark", "insert"),
        (3, "tables of data", "insert"),
    ]
    # epoch 2 appends two docs and deletes doc 3 (text rides the
    # delete row so the index face can subtract postings too)
    batch2 = [
        (4, "spark tables spark", "insert"),
        (5, "sort merge spark", "insert"),
        (3, "tables of data", "delete"),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(stream, state, checkpoint=ckpt,
                             query_name="mdl_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(stream, state, checkpoint=ckpt,
                             query_name="mdl_test2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    survivors = spark.createDataFrame(
        [(1, "spark joins tables"), (2, "spark shuffle spark"),
         (4, "spark tables spark"), (5, "sort merge spark")],
        "doc_id int, text string",
    )
    dl = read_maintained_doc_lengths(spark, state)
    assert sorted(map(tuple, dl.collect())) == [
        (1, 3.0), (2, 3.0), (4, 3.0), (5, 3.0)
    ]
    # serving parity over the jointly-maintained state
    base = spark.createDataFrame(
        [r[:2] for r in batch1], "doc_id int, text string"
    )
    idx = delete_from_inverted_index(
        update_inverted_index(
            build_inverted_index(base),
            spark.createDataFrame(
                [r[:2] for r in batch2 if r[2] == "insert"],
                "doc_id int, text string",
            ),
        ),
        spark.createDataFrame(
            [r[:2] for r in batch2 if r[2] == "delete"],
            "doc_id int, text string",
        ),
    )
    served = bm25_search_indexed(idx, dl, ["spark", "tables"], k=5).collect()
    direct = bm25_search(survivors, ["spark", "tables"], k=5).collect()
    assert served and [(r["doc"], r["bm25"]) for r in served] == [
        (r["doc_id"], r["bm25"]) for r in direct
    ]


def test_maintain_doc_lengths_bad_op_and_replay(spark, tmp_path):
    from esdb_spark.streaming import (
        maintain_doc_lengths,
        read_maintained_doc_lengths,
    )

    src = str(tmp_path / "chg")
    state = str(tmp_path / "dl")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "a b c", "upsert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(stream, state,
                             checkpoint=str(tmp_path / "ck1"),
                             query_name="mdl_badop")
    import pytest as _pytest
    with _pytest.raises(Exception, match="bad op"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # a replayed epoch recomputes from the same predecessor and
    # rewrites the same version: run the SAME source twice through two
    # fresh checkpoints — the second run's epoch 0 overwrites version
    # 0 instead of double-applying
    spark.createDataFrame(
        [(1, "a b c", "insert"), (2, "d e", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    for i, name in enumerate(["mdl_r1", "mdl_r2"]):
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_doc_lengths(stream, state,
                                 checkpoint=str(tmp_path / f"ckr{i}"),
                                 query_name=name)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    dl = read_maintained_doc_lengths(spark, state)
    assert sorted(map(tuple, dl.collect())) == [(1, 3.0), (2, 2.0)]


def test_apply_changes_tolerates_nonbinary_hll_named_column(spark):
    # ADVICE r7: a legitimate KEY named hll_* (string, not a sketch)
    # with track_distinct=[] must not trip the sketch-mismatch check —
    # sketch state is name-prefix AND BinaryType
    from esdb_spark.operators.incremental import (
        apply_changes,
        snapshot_aggregate,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "hll_region string, v double"
    )
    state = snapshot_aggregate(base, ["hll_region"], ["v"])
    feed = spark.createDataFrame(
        [("a", 3.0, "insert")], "hll_region string, v double, op string"
    )
    out = apply_changes(state, feed, ["hll_region"], ["v"])
    got = {r["hll_region"]: (r["n_rows"], r["sum_v"]) for r in out.collect()}
    assert got == {"a": (2, 4.0), "b": (1, 2.0)}


def _lsm_feed(spark, tmp_path, batches, compact_above=16):
    """Drive maintain_inverted_index_lsm over successive micro-batches
    (one streaming restart per batch so each gets its own epoch)."""
    from esdb_spark.streaming import maintain_inverted_index_lsm

    src = str(tmp_path / "chg")
    state = str(tmp_path / "lsm")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id int, text string, op string"
    for i, batch in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            mode
        ).json(src)
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_inverted_index_lsm(
            stream, state, op_col="op", checkpoint=ckpt,
            query_name=f"lsm_{i}", compact_above=compact_above,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return state


def test_maintain_index_lsm_appends_and_deletes(spark, tmp_path):
    # per-epoch O(delta) segments, deletes as tombstone segments,
    # serving parity vs a from-scratch build over the survivors
    from esdb_spark.operators.search import (
        build_inverted_index,
        keyword_search,
        keyword_search_segments,
    )
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, "spark joins tables", "insert"),
         (2, "spark shuffle spark", "insert")],
        [(3, "tables of data", "insert"),
         (4, "spark tables spark", "insert")],
        [(2, "spark shuffle spark", "delete"),
         (5, "sort merge spark", "insert")],
    ]
    state = _lsm_feed(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 3 and len(tomb) == 1  # no compaction yet
    survivors = spark.createDataFrame(
        [(1, "spark joins tables"), (3, "tables of data"),
         (4, "spark tables spark"), (5, "sort merge spark")],
        "doc_id int, text string",
    )
    served = keyword_search_segments(
        live, ["spark", "tables"], k=10, require_all=False,
        tombstones=tomb,
    ).collect()
    direct = keyword_search(
        survivors, ["spark", "tables"], k=10, require_all=False
    ).collect()
    assert served and [tuple(r) for r in served] == [
        tuple(r) for r in direct
    ]


def test_maintain_index_lsm_compaction_folds_tombstones(spark, tmp_path):
    # crossing compact_above folds everything into ONE live segment
    # equal to a rebuild over the survivors; tombstones disappear
    from esdb_spark.operators.search import (
        build_inverted_index,
        keyword_search,
        keyword_search_segments,
    )
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, "spark joins tables", "insert"),
         (2, "spark shuffle spark", "insert")],
        [(3, "tables of data", "insert")],
        [(2, "spark shuffle spark", "delete"),
         (4, "sort merge spark", "insert")],
    ]
    state = _lsm_feed(spark, tmp_path, batches, compact_above=3)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 1 and len(tomb) == 0  # compacted
    survivors = spark.createDataFrame(
        [(1, "spark joins tables"), (3, "tables of data"),
         (4, "sort merge spark")],
        "doc_id int, text string",
    )

    def key(df):
        # flat (token, doc, tf) layout (round 10)
        return sorted(
            (r["token"], r["doc"], r["tf"]) for r in df.collect()
        )

    assert key(live[0]) == key(build_inverted_index(survivors))
    served = keyword_search_segments(live, ["spark"], k=10).collect()
    direct = keyword_search(survivors, ["spark"], k=10).collect()
    assert served and [tuple(r) for r in served] == [
        tuple(r) for r in direct
    ]


def test_maintain_index_lsm_replay_idempotent(spark, tmp_path):
    # the same source through two fresh checkpoints: the second run's
    # epoch 0 rewrites the same segments + manifest instead of
    # doubling them (foreachBatch at-least-once)
    from esdb_spark.operators.search import keyword_search_segments
    from esdb_spark.streaming import (
        maintain_inverted_index_lsm,
        read_maintained_index_segments,
    )

    src = str(tmp_path / "chg")
    state = str(tmp_path / "lsm")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "spark a", "insert"), (2, "spark b", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    for i in range(2):
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_inverted_index_lsm(
            stream, state, op_col="op",
            checkpoint=str(tmp_path / f"ck{i}"), query_name=f"lsmr_{i}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 1 and not tomb
    served = keyword_search_segments(live, ["spark"], k=10).collect()
    assert [(r["doc"], r["score"]) for r in served] == [(1, 1), (2, 1)]


def test_streaming_lsm_plus_lengths_serve_bm25_end_to_end(spark, tmp_path):
    # the round-8 capstone: ONE change feed (inserts + deletes) drives
    # BOTH maintained stores — the LSM segment index and the
    # doc-lengths side table — and ranked retrieval serves from the
    # two maintained states bit-exact vs the from-corpus path over the
    # survivors. No compaction, no corpus scan, anywhere on the query
    # path.
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_segments,
    )
    from esdb_spark.streaming import (
        maintain_doc_lengths,
        maintain_inverted_index_lsm,
        read_maintained_doc_lengths,
        read_maintained_index_segments,
    )

    src = str(tmp_path / "chg")
    schema = "doc_id int, text string, op string"
    batches = [
        [(1, "spark joins tables", "insert"),
         (2, "spark shuffle spark", "insert"),
         (3, "tables of data", "insert")],
        [(4, "spark tables spark", "insert"),
         (5, "sort merge spark", "insert"),
         (2, "spark shuffle spark", "delete")],
    ]
    for i, batch in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            mode
        ).json(src)
        for face, state, ck in (
            ("idx", "lsm", "ck_idx"),
            ("dl", "dls", "ck_dl"),
        ):
            stream = spark.readStream.schema(schema).json(src)
            if face == "idx":
                q = maintain_inverted_index_lsm(
                    stream, str(tmp_path / state), op_col="op",
                    checkpoint=str(tmp_path / ck),
                    query_name=f"e2e_idx_{i}",
                )
            else:
                q = maintain_doc_lengths(
                    stream, str(tmp_path / state),
                    checkpoint=str(tmp_path / ck),
                    query_name=f"e2e_dl_{i}",
                )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    live, tomb = read_maintained_index_segments(
        spark, str(tmp_path / "lsm")
    )
    lengths = read_maintained_doc_lengths(spark, str(tmp_path / "dls"))
    survivors = spark.createDataFrame(
        [(1, "spark joins tables"), (3, "tables of data"),
         (4, "spark tables spark"), (5, "sort merge spark")],
        "doc_id int, text string",
    )
    served = bm25_search_segments(
        live, lengths, ["spark", "tables"], k=5, tombstones=tomb or None
    ).collect()
    direct = bm25_search(
        survivors, ["spark", "tables"], k=5
    ).collect()
    assert served and [
        (r["doc"], r["n_terms_matched"], r["bm25"]) for r in served
    ] == [
        (r["doc_id"], r["n_terms_matched"], r["bm25"]) for r in direct
    ]


_MAINTAINER_ARGS = {
    "maintain_aggregate": dict(keys=["doc_id"], measures=[]),
    "maintain_inverted_index": {},
    "maintain_doc_lengths": {},
    "maintain_inverted_index_lsm": dict(op_col="op"),
    "maintain_positional_index_lsm": dict(op_col="op"),
    "maintain_stored_fields": dict(op_col="op"),
    "maintain_ann_store": dict(centroids=[[1.0, 0.0]], op_col="op"),
    "maintain_spell_index": dict(token_col="text", op_col="op"),
}


@pytest.mark.parametrize("name", sorted(_MAINTAINER_ARGS))
def test_maintainers_reject_keep_versions_below_two(spark, tmp_path, name):
    # keep_versions=1 would sweep the predecessor manifest (and its
    # segments) in the same publish that supersedes it, under any
    # reader that listed it a moment before; every maintainer runs the
    # same check before it starts a query
    import esdb_spark.streaming as streaming

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", "insert")], "doc_id int, text string, op string"
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id int, text string, op string").json(
        src
    )
    with pytest.raises(ValueError, match="keep_versions must be >= 2") as exc:
        getattr(streaming, name)(
            stream, str(tmp_path / "st"), keep_versions=1,
            **_MAINTAINER_ARGS[name],
        )
    assert "superseded manifest, or an as_of_epoch read" in str(exc.value)
    assert name not in {q.name for q in spark.streams.active}


def test_lsm_key_only_delete_raises(spark, tmp_path):
    # a delete row with NULL text cannot subtract postings — the doc
    # would keep serving forever with no guard able to see it (review
    # finding); an EMPTY-text delete of a token-less doc stays legal
    from esdb_spark.streaming import maintain_inverted_index_lsm

    src = str(tmp_path / "chg")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "spark things", "insert"), (1, None, "delete")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_inverted_index_lsm(
        stream, str(tmp_path / "lsm"), op_col="op",
        checkpoint=str(tmp_path / "ck"), query_name="lsm_keyonly",
    )
    with pytest.raises(Exception, match="key-only delete"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_update_doc_lengths_null_id_raises(spark):
    from esdb_spark.operators.search import (
        build_doc_lengths,
        update_doc_lengths,
    )

    base = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    bad = spark.createDataFrame([(None, "c d")], "doc_id int, text string")
    with pytest.raises(Exception, match="NULL doc id"):
        update_doc_lengths(build_doc_lengths(base), bad).collect()


@pytest.mark.parametrize(
    "name", ["maintain_inverted_index_lsm", "maintain_doc_lengths"]
)
def test_lsm_replay_skips_published_epoch_without_rewrite(
    spark, tmp_path, name
):
    # a replayed epoch whose manifest already landed must short-circuit
    # (no in-place rewrite of referenced segment dirs under readers),
    # for an LSM store and a snapshot store alike: same source through
    # two checkpoints, then verify the segment dir's parquet files were
    # NOT rewritten by the second run
    import glob
    import os

    import esdb_spark.streaming as streaming

    src = str(tmp_path / "chg")
    state = str(tmp_path / "lsm")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "spark a", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)

    def run(i):
        stream = spark.readStream.schema(schema).json(src)
        q = getattr(streaming, name)(
            stream, state, op_col="op", checkpoint=str(tmp_path / f"ck{i}"),
            query_name=f"lsm_rp{i}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(0)
    seg_files = sorted(glob.glob(os.path.join(state, "seg-*", "*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in seg_files}
    assert mtimes
    # second run, fresh checkpoint → epoch 0 replays; the manifest
    # exists, so the fold must skip the recompute
    run(1)
    after = {f: os.path.getmtime(f) for f in seg_files}
    assert after == mtimes  # untouched — no in-place rewrite
    if name == "maintain_doc_lengths":
        dl = streaming.read_maintained_doc_lengths(spark, state)
        assert sorted(map(tuple, dl.collect())) == [(1, 2.0)]
    else:
        live, tomb = streaming.read_maintained_index_segments(spark, state)
        assert len(live) == 1 and not tomb


def test_op_guard_null_op_and_null_text_raise(spark, tmp_path):
    # fourth-review regressions: (a) ~isin over a NULL op is NULL, so
    # a row missing its op field slipped the guard and was silently
    # dropped; (b) the key-only-delete guard was asymmetric — a legal
    # NULL-text insert could never be faithfully deleted, wedging the
    # stream. The contract is now: op NULL raises, text NULL raises on
    # BOTH ops (represent an empty doc as '').
    from esdb_spark.streaming import maintain_inverted_index_lsm

    schema = "doc_id int, text string, op string"

    def run_batch(rows, name):
        src = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).json(src)
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_inverted_index_lsm(
            stream, str(tmp_path / (name + "_st")), op_col="op",
            checkpoint=str(tmp_path / (name + "_ck")), query_name=name,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with pytest.raises(Exception, match="bad op"):
        run_batch([(1, "spark a", None)], "nullop")
    with pytest.raises(Exception, match="NULL text"):
        run_batch([(1, None, "insert")], "nulltext")
    # empty-string docs live a full legal lifecycle
    run_batch([(1, "", "insert"), (1, "", "delete")], "emptytext")


def test_maintainers_accept_keep_versions_zero(spark, tmp_path):
    # 0 = never sweep (keep everything) — replay-safe, must not be
    # rejected by the >= 2 validation (fourth-review finding)
    from esdb_spark.streaming import (
        maintain_doc_lengths,
        read_maintained_doc_lengths,
    )

    src = str(tmp_path / "src")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "a b", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(
        stream, str(tmp_path / "st"), checkpoint=str(tmp_path / "ck"),
        query_name="kv0", keep_versions=0,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    dl = read_maintained_doc_lengths(spark, str(tmp_path / "st"))
    assert sorted(map(tuple, dl.collect())) == [(1, 2.0)]


def _lsm_feed_positional(spark, tmp_path, batches, compact_above=16):
    """Drive maintain_positional_index_lsm over successive
    micro-batches (one streaming restart per batch = one epoch)."""
    from esdb_spark.streaming import maintain_positional_index_lsm

    src = str(tmp_path / "pchg")
    state = str(tmp_path / "plsm")
    ckpt = str(tmp_path / "pck")
    schema = "doc_id int, text string, op string"
    for i, batch in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            mode
        ).json(src)
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_positional_index_lsm(
            stream, state, op_col="op", checkpoint=ckpt,
            query_name=f"plsm_{i}", compact_above=compact_above,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return state


def test_maintain_positional_lsm_appends_and_deletes(spark, tmp_path):
    # phrase serving from maintained positional state across an epoch
    # sequence with appends AND deletes == phrase_search(survivors);
    # tombstones carry DOC IDS only (no position algebra)
    from esdb_spark.operators.search import (
        phrase_search,
        phrase_search_segments,
    )
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, "spark joins tables fast", "insert"),
         (2, "fast table scans", "insert")],
        [(3, "a fast table and a fast table", "insert"),
         (4, "sort merge join", "insert")],
        [(2, "fast table scans", "delete"),
         (5, "one more fast table here", "insert")],
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 3 and len(tomb) == 1
    assert tomb[0].columns == ["doc"]  # ids only — the cheap tombstone
    survivors = spark.createDataFrame(
        [(1, "spark joins tables fast"),
         (3, "a fast table and a fast table"),
         (4, "sort merge join"),
         (5, "one more fast table here")],
        "doc_id int, text string",
    )
    served = phrase_search_segments(
        live, "fast table", tombstones=tomb
    ).collect()
    direct = sorted(
        (r["doc_id"], r["n_occurrences"], r["first_pos"])
        for r in phrase_search(survivors, "fast table").collect()
    )
    assert [tuple(r) for r in served] == direct and direct


def test_maintain_positional_lsm_compaction_and_replay(spark, tmp_path):
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_segments,
    )
    from esdb_spark.streaming import (
        maintain_positional_index_lsm,
        read_maintained_index_segments,
    )

    batches = [
        [(1, "spark joins tables fast", "insert"),
         (2, "fast table scans", "insert")],
        [(3, "fast table fast table", "insert")],
        [(2, "fast table scans", "delete"),
         (4, "fast table again", "insert")],
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches, compact_above=3)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 1 and len(tomb) == 0  # compacted
    survivors = spark.createDataFrame(
        [(1, "spark joins tables fast"), (3, "fast table fast table"),
         (4, "fast table again")],
        "doc_id int, text string",
    )

    def key(df):
        return sorted(
            (r["token"], r["doc"], tuple(r["positions"]))
            for r in df.collect()
        )

    assert key(live[0]) == key(build_positional_index(survivors))
    # replay: same source through two fresh checkpoints — epoch 0
    # rewrites the same segments + manifest instead of doubling
    src = str(tmp_path / "rchg")
    rstate = str(tmp_path / "rplsm")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "fast table a", "insert"), (2, "fast table b", "insert")],
        schema,
    ).coalesce(1).write.mode("overwrite").json(src)
    for i in range(2):
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_positional_index_lsm(
            stream, rstate, op_col="op",
            checkpoint=str(tmp_path / f"rck{i}"), query_name=f"plsmr_{i}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    live, tomb = read_maintained_index_segments(spark, rstate)
    assert len(live) == 1 and not tomb
    served = phrase_search_segments(live, "fast table").collect()
    assert [r["doc"] for r in served] == [1, 2]


def test_maintain_positional_lsm_tokenless_delete_is_noop(spark, tmp_path):
    # a ''-text doc indexes nothing; deleting it must NOT write a
    # tombstone (compaction's ghost sweep would rightly raise on one)
    from esdb_spark.operators.search import compact_positional_segments
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, "fast table", "insert"), (2, "", "insert")],
        [(2, "", "delete")],
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(tomb) == 0  # the token-less delete wrote no tombstone
    compacted = compact_positional_segments(live).collect()
    assert sorted(r["doc"] for r in compacted) == [1, 1]  # fast, table


def test_maintain_doc_lengths_cdc_update_same_batch(spark, tmp_path):
    # the r8 ADVICE: delete + re-insert of an EXISTING doc in one
    # batch is the common CDC update shape — it must replace, not wedge
    # the stream on the overlap guard; insert+delete of a brand-new
    # doc still nets to absent
    from esdb_spark.streaming import (
        maintain_doc_lengths,
        read_maintained_doc_lengths,
    )

    src = str(tmp_path / "chg")
    state = str(tmp_path / "dl")
    ckpt = str(tmp_path / "ck")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(1, "a b c", "insert"), (2, "d e", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(stream, state, checkpoint=ckpt,
                             query_name="cdc_b1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # batch 2: CDC update of doc 1 (delete old + insert new text),
    # plus an insert+delete pair of brand-new doc 9 (nets to absent)
    spark.createDataFrame(
        [(1, "a b c", "delete"), (1, "x y z w", "insert"),
         (9, "ephemeral doc", "insert"), (9, "ephemeral doc", "delete")],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    stream = spark.readStream.schema(schema).json(src)
    q = maintain_doc_lengths(stream, state, checkpoint=ckpt,
                             query_name="cdc_b2")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    dl = read_maintained_doc_lengths(spark, state)
    assert sorted(map(tuple, dl.collect())) == [(1, 4.0), (2, 2.0)]


def test_maintain_positional_lsm_reinsert_self_heals(spark, tmp_path):
    # doc-keyed tombstones net the re-inserted rows too, so a
    # cross-epoch re-insert cannot simply append (review finding: with
    # token-disjoint new text the doc silently vanished). The fold
    # SELF-HEALS: it pre-compacts the tombstones away, then appends —
    # the common CDC update (delete in N, insert in N+1) just works.
    from esdb_spark.operators.search import phrase_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(7, "alpha beta", "insert"), (8, "keep me", "insert")],
        [(7, "alpha beta", "delete")],
        [(7, "gamma delta", "insert")],  # token-disjoint re-insert
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert not tomb  # the re-insert epoch pre-compacted them away
    got = phrase_search_segments(live, "gamma delta").collect()
    assert [r["doc"] for r in got] == [7]
    assert phrase_search_segments(live, "alpha beta").count() == 0
    kept = phrase_search_segments(live, "keep me").collect()
    assert [r["doc"] for r in kept] == [8]


def test_maintain_positional_lsm_same_batch_delete_insert_raises(
    spark, tmp_path
):
    from esdb_spark.streaming import maintain_positional_index_lsm

    src = str(tmp_path / "chg")
    state = str(tmp_path / "plsm")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(7, "alpha beta", "insert")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = maintain_positional_index_lsm(
        spark.readStream.schema(schema).json(src), state, op_col="op",
        checkpoint=str(tmp_path / "c0"), query_name="sb_0",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # delete + re-insert of an INDEXED doc in ONE batch: the epoch
    # would write both a live segment and a tombstone that nets it —
    # unresolvable with doc-keyed tombstones, so it raises
    spark.createDataFrame(
        [(7, "alpha beta", "delete"), (7, "gamma delta", "insert")],
        schema,
    ).coalesce(1).write.mode("append").json(src)
    import pytest as _pytest

    q = maintain_positional_index_lsm(
        spark.readStream.schema(schema).json(src), state, op_col="op",
        checkpoint=str(tmp_path / "c0"), query_name="sb_1",
    )
    with _pytest.raises(Exception, match="same-batch delete"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_maintain_positional_lsm_reinsert_legal_after_compaction(
    spark, tmp_path
):
    # compaction folds tombstones away — the id becomes insertable
    # again and phrase serving sees the NEW text (close-compacts rule)
    from esdb_spark.operators.search import phrase_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(7, "alpha beta", "insert"), (8, "keep me here", "insert")],
        [(7, "alpha beta", "delete")],  # crosses compact_above=1
        [(7, "gamma delta", "insert")],
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches, compact_above=1)
    live, tomb = read_maintained_index_segments(spark, state)
    assert not tomb  # epoch 2 compacted the tombstone away
    got = phrase_search_segments(live, "gamma delta").collect()
    assert [r["doc"] for r in got] == [7]
    assert phrase_search_segments(live, "alpha beta").count() == 0


def test_maintain_doc_lengths_dup_insert_of_netted_id_raises(
    spark, tmp_path
):
    # review finding: the net-to-absent branch must not swallow a
    # duplicated insert — a both-ops id is exactly 1 insert + 1 delete
    from esdb_spark.streaming import maintain_doc_lengths

    src = str(tmp_path / "chg")
    state = str(tmp_path / "dl")
    schema = "doc_id int, text string, op string"
    spark.createDataFrame(
        [(9, "dup doc", "insert"), (9, "dup doc", "insert"),
         (9, "dup doc", "delete"), (1, "fine", "insert")],
        schema,
    ).coalesce(1).write.mode("overwrite").json(src)
    import pytest as _pytest

    q = maintain_doc_lengths(
        spark.readStream.schema(schema).json(src), state,
        checkpoint=str(tmp_path / "ck"), query_name="dupnet",
    )
    with _pytest.raises(Exception, match="exactly one insert"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_maintain_positional_lsm_ephemeral_doc_nets_absent(spark, tmp_path):
    # same-batch insert+delete of a BRAND-NEW doc nets to absent (the
    # maintain_doc_lengths convention) — its only rows are this
    # epoch's, which its own tombstone subtracts exactly
    from esdb_spark.operators.search import phrase_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, "keep this doc", "insert"),
         (9, "ephemeral fast table", "insert"),
         (9, "ephemeral fast table", "delete")],
    ]
    state = _lsm_feed_positional(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert phrase_search_segments(
        live, "fast table", tombstones=tomb or None
    ).count() == 0
    got = phrase_search_segments(live, "keep this", tombstones=tomb or None)
    assert [r["doc"] for r in got.collect()] == [1]


def test_lsm_maintainers_reject_intra_batch_dup_insert(spark, tmp_path):
    # third-review: the segment build's aggregate would silently merge
    # two versions of a doc delivered in ONE batch — both maintainers
    # must fail the epoch loudly
    from esdb_spark.streaming import (
        maintain_inverted_index_lsm,
        maintain_positional_index_lsm,
    )

    schema = "doc_id int, text string, op string"
    for name, fn in [
        ("bool", maintain_inverted_index_lsm),
        ("pos", maintain_positional_index_lsm),
    ]:
        src = str(tmp_path / f"{name}_chg")
        spark.createDataFrame(
            [(5, "fast table", "insert"), (5, "slow table", "insert")],
            schema,
        ).coalesce(1).write.mode("overwrite").json(src)
        q = fn(
            spark.readStream.schema(schema).json(src),
            str(tmp_path / f"{name}_st"), op_col="op",
            checkpoint=str(tmp_path / f"{name}_ck"),
            query_name=f"dup_{name}",
        )
        with pytest.raises(Exception, match="duplicate insert for doc"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()


def test_maintain_positional_lsm_ghost_only_state_diagnosed(
    spark, tmp_path
):
    # epoch 0 is delete-only for never-inserted docs (corrupt feed →
    # ghost tombstones, no live segment); the re-insert epoch must
    # fail with the ghost diagnosis, not an opaque "no segments"
    from esdb_spark.streaming import maintain_positional_index_lsm

    schema = "doc_id int, text string, op string"
    src = str(tmp_path / "chg")
    state = str(tmp_path / "st")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame(
        [(5, "ghost text", "delete")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = maintain_positional_index_lsm(
        spark.readStream.schema(schema).json(src), state, op_col="op",
        checkpoint=ckpt, query_name="g0",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.createDataFrame(
        [(5, "ghost text", "insert")], schema
    ).coalesce(1).write.mode("append").json(src)
    q = maintain_positional_index_lsm(
        spark.readStream.schema(schema).json(src), state, op_col="op",
        checkpoint=ckpt, query_name="g1",
    )
    with pytest.raises(Exception, match="only ghost tombstones"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_lsm_maintainers_null_id_without_op_col_raises(spark, tmp_path):
    # fourth-review finding: with op_col=None the change-feed guard
    # never runs, so the SHARED fold probe must catch NULL ids for all
    # three maintainers (a NULL-id row is permanently undeletable and
    # poisons the first compaction audit); two NULLs in one batch must
    # diagnose as corrupt feed, not as "duplicate insert for doc None"
    from esdb_spark.streaming import (
        maintain_inverted_index_lsm,
        maintain_positional_index_lsm,
    )

    schema = "doc_id int, text string"
    for name, fn in [
        ("bool", maintain_inverted_index_lsm),
        ("pos", maintain_positional_index_lsm),
    ]:
        src = str(tmp_path / f"{name}_nsrc")
        spark.createDataFrame(
            [(None, "ghost text"), (1, "fine")], schema
        ).coalesce(1).write.mode("overwrite").json(src)
        q = fn(
            spark.readStream.schema(schema).json(src),
            str(tmp_path / f"{name}_nst"),
            checkpoint=str(tmp_path / f"{name}_nck"),
            query_name=f"null_{name}",
        )
        with pytest.raises(Exception, match="NULL doc_id in the change"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    # two NULL-id rows in ONE batch: the corrupt-feed diagnosis wins
    src = str(tmp_path / "two_nsrc")
    spark.createDataFrame(
        [(None, "a"), (None, "b")], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = maintain_inverted_index_lsm(
        spark.readStream.schema(schema).json(src),
        str(tmp_path / "two_nst"),
        checkpoint=str(tmp_path / "two_nck"), query_name="null2",
    )
    with pytest.raises(Exception, match="NULL doc_id in the change"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
