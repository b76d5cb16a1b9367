"""Maintained ANN store: the LSM streaming face (maintain_ann_store),
its batch compaction/serving siblings (compact_ann_segments /
ann_search_segments), and the engine-exact maintained path
(ivf_assign_int8_exact + ivf_topk_int8_exact's assigned/tombstones).

The contract under test is the reference's append-updates-state +
close-compacts discipline (stream/open_stream.go:52-105, 146-201)
applied to the vector store — the third and last serving store after
the boolean and positional indexes: serve(segments ∪ tombstones) ==
rebuild(survivors) value-for-value under the store's fixed centroids,
with every integrity violation raising instead of silently shifting
neighbors."""

import pytest
from pyspark.sql import functions as F

# four orthogonal-ish centroids in 4-d: assignment is unambiguous for
# vectors near an axis, deterministic everywhere (ties → smaller id)
CENTS = [
    [1.0, 0.1, 0.0, 0.0],
    [0.0, 1.0, 0.1, 0.0],
    [0.0, 0.0, 1.0, 0.1],
    [0.1, 0.0, 0.0, 1.0],
]


def _vec(i, dim=4):
    # deterministic, axis-leaning vectors: id i leans toward axis i%4
    base = [((i * 7 + j * 3) % 11 - 5) / 20.0 for j in range(dim)]
    base[i % dim] += 1.0
    return [float(x) for x in base]


SCHEMA = "doc_id int, vec array<double>, op string"


def _feed_ann(spark, tmp_path, batches, compact_above=16, name="ann"):
    """Drive maintain_ann_store over successive micro-batches (one
    streaming restart per batch = one epoch)."""
    from esdb_spark.streaming import maintain_ann_store

    src = str(tmp_path / f"{name}_chg")
    state = str(tmp_path / f"{name}_lsm")
    ckpt = str(tmp_path / f"{name}_ck")
    for i, batch in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            mode
        ).json(src)
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = maintain_ann_store(
            stream, state, CENTS, op_col="op", checkpoint=ckpt,
            query_name=f"{name}_{i}", compact_above=compact_above,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return state


def test_maintain_ann_store_appends_and_deletes(spark, tmp_path):
    # serve(segments ∪ tombstones) == ann_topk_int8(survivors) under
    # the same centroids; tombstones carry IDS only; live segments
    # carry the cell their insert epoch assigned
    from esdb_spark.operators.similarity import (
        ann_search_segments,
        ann_topk_int8,
    )
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(i, _vec(i), "insert") for i in range(8)],
        [(i, _vec(i), "insert") for i in range(8, 16)],
        [(3, _vec(3), "delete"), (7, _vec(7), "delete"),
         (16, _vec(16), "insert")],
    ]
    state = _feed_ann(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert len(live) == 3 and len(tomb) == 1
    assert tomb[0].columns == ["id"]
    assert all("cell" in s.columns for s in live)

    survivors = spark.createDataFrame(
        [(i, _vec(i)) for i in range(17) if i not in (3, 7)],
        "doc_id int, vec array<double>",
    )
    queries = spark.createDataFrame(
        [(i, _vec(i)) for i in (0, 1, 2)], "doc_id int, vec array<double>"
    )
    served = ann_search_segments(
        live, queries, CENTS, "vec", "doc_id", k=5, n_probe=4,
        tombstones=tomb,
    ).orderBy("query_id", "rank")
    direct = ann_topk_int8(
        survivors, queries, "vec", "doc_id", k=5, n_probe=4,
        centroids=CENTS,
    ).orderBy("query_id", "rank")
    got = [tuple(r) for r in served.collect()]
    want = [tuple(r) for r in direct.collect()]
    assert got == want and got


def test_maintain_ann_store_compaction_folds_and_replays(spark, tmp_path):
    # crossing compact_above folds everything into ONE cell-partitioned
    # segment whose rows == kmeans_assign(survivors); re-running the
    # last epoch (same checkpoint) is a no-op
    from esdb_spark.operators.cluster import kmeans_assign
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(i, _vec(i), "insert") for i in range(6)],
        [(1, _vec(1), "delete")],
        [(6, _vec(6), "insert")],  # crosses compact_above=1
    ]
    state = _feed_ann(spark, tmp_path, batches, compact_above=1)
    live, tomb = read_maintained_index_segments(spark, state)
    assert not tomb  # folded away
    assert len(live) == 1
    survivors = spark.createDataFrame(
        [(i, _vec(i)) for i in range(7) if i != 1],
        "doc_id int, vec array<double>",
    )
    want = sorted(
        (r["id"], r["cluster"])
        for r in kmeans_assign(
            survivors, CENTS, "vec", "doc_id"
        ).collect()
    )
    # partition-type inference is OFF in the house session (space ids
    # are strings), so the cell partition column reads back as string;
    # every consumer casts — mirror that here
    got = sorted((r["id"], int(r["cell"])) for r in live[0].collect())
    assert got == want


def test_maintain_ann_store_reinsert_self_heals(spark, tmp_path):
    # cross-epoch CDC update (delete in N, insert in N+1) pre-compacts
    # the tombstone away and serves the NEW vector
    from esdb_spark.operators.similarity import ann_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    moved = [0.0, 0.0, 1.2, 0.0]  # same id, relocated vector
    batches = [
        [(5, _vec(5), "insert"), (1, _vec(1), "insert")],
        [(5, _vec(5), "delete")],
        [(5, moved, "insert")],
    ]
    state = _feed_ann(spark, tmp_path, batches)
    live, tomb = read_maintained_index_segments(spark, state)
    assert not tomb  # the re-insert epoch pre-compacted them away
    queries = spark.createDataFrame(
        [(99, moved)], "doc_id int, vec array<double>"
    )
    got = ann_search_segments(
        live, queries, CENTS, "vec", "doc_id", k=1, n_probe=4
    ).collect()
    assert [r["id"] for r in got] == [5]


def test_maintain_ann_store_same_batch_delete_insert_raises(
    spark, tmp_path
):
    _feed_ann(spark, tmp_path, [[(7, _vec(7), "insert")]], name="sb")
    with pytest.raises(Exception, match="same-batch delete"):
        _feed_ann(
            spark,
            tmp_path,
            [[(7, _vec(7), "insert")],
             [(7, _vec(7), "delete"), (7, _vec(8), "insert")]],
            name="sb2",
        )


def test_maintain_ann_store_ephemeral_id_nets_absent(spark, tmp_path):
    # same-batch insert+delete of a brand-new id nets to absent (the
    # maintain_doc_lengths convention shared via _id_keyed_prepare)
    from esdb_spark.operators.similarity import ann_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    batches = [
        [(1, _vec(1), "insert"),
         (9, _vec(9), "insert"), (9, _vec(9), "delete")],
    ]
    state = _feed_ann(spark, tmp_path, batches, name="eph")
    live, tomb = read_maintained_index_segments(spark, state)
    queries = spark.createDataFrame(
        [(99, _vec(9))], "doc_id int, vec array<double>"
    )
    got = ann_search_segments(
        live, queries, CENTS, "vec", "doc_id", k=10, n_probe=4,
        tombstones=tomb or None,
    ).collect()
    assert [r["id"] for r in got] == [1]  # 9 netted to absent


def test_maintain_ann_store_null_vec_insert_raises(spark, tmp_path):
    # a store append that silently drops an insert is CDC divergence —
    # the assignment guard fails the epoch loudly
    with pytest.raises(Exception, match="NULL or wrong-dimension"):
        _feed_ann(
            spark, tmp_path, [[(3, None, "insert")]], name="nullvec"
        )


def test_compact_ann_segments_guards(spark):
    from esdb_spark.operators.similarity import (
        ann_store_append,
        compact_ann_segments,
    )

    a = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4)], "id int, vec array<double>"
    )
    b = spark.createDataFrame(
        [(i, _vec(i)) for i in range(4, 8)], "id int, vec array<double>"
    )
    seg_a = ann_store_append(None, a, CENTS, "vec", "id",
                             guard_overlap=False)
    seg_b = ann_store_append(None, b, CENTS, "vec", "id",
                             guard_overlap=False)

    # re-append across segments
    with pytest.raises(Exception, match="more than one live segment"):
        compact_ann_segments([seg_a, seg_a]).collect()
    # ghost tombstone (id no live segment holds)
    ghost = spark.createDataFrame([(99,)], "id int")
    with pytest.raises(Exception, match="ghost delete"):
        compact_ann_segments([seg_a, seg_b], [ghost]).collect()
    # duplicate tombstone (double delete)
    dup = spark.createDataFrame([(2,), (2,)], "id int")
    with pytest.raises(Exception, match="duplicate tombstone"):
        compact_ann_segments([seg_a, seg_b], [dup]).collect()
    # NULL tombstone id
    nul = spark.createDataFrame([(None,)], "id int")
    with pytest.raises(Exception, match="NULL tombstone id"):
        compact_ann_segments([seg_a, seg_b], [nul]).collect()
    # healthy: subtraction nets exactly the removed id
    rm = spark.createDataFrame([(2,)], "id int")
    got = sorted(
        r["id"] for r in compact_ann_segments([seg_a, seg_b], [rm]).collect()
    )
    assert got == [0, 1, 3, 4, 5, 6, 7]


def test_ann_store_append_overlap_guard_needs_store(spark):
    from esdb_spark.operators.similarity import ann_store_append

    a = spark.createDataFrame(
        [(1, _vec(1))], "id int, vec array<double>"
    )
    with pytest.raises(ValueError, match="needs the store"):
        ann_store_append(None, a, CENTS, "vec", "id")


def test_ivf_exact_maintained_parity_and_guards(spark):
    # the engine-exact maintained path: segments assigned under
    # literal centroids serve through ivf_topk_int8_exact's assigned
    # path == the same face rebuilt over the survivors (what the
    # catalog row docs_ann_maintained_exact's oracle certifies)
    from esdb_spark.operators.similarity import (
        ivf_assign_int8_exact,
        ivf_topk_int8_exact,
    )

    dim = 8
    cents = [
        (j, [((i * 7 + j * 13) % 19 - 9) / 10.0 if i % 4 == j else 0.0
             for i in range(dim)])
        for j in range(4)
    ]
    rows = [(i, [((i * 5 + j * 11) % 17 - 8) / 8.0 for j in range(dim)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "id int, vec array<double>")
    seg_a = ivf_assign_int8_exact(df.filter("id < 15"), cents, "vec", "id")
    seg_b = ivf_assign_int8_exact(df.filter("id >= 15"), cents, "vec", "id")
    tomb = spark.createDataFrame([(i,) for i in range(0, 30, 5)], "id int")
    survivors = df.join(tomb, "id", "left_anti")
    queries = df.filter("id IN (1, 2)")

    served = ivf_topk_int8_exact(
        df, queries, cents, "vec", "id", k=5, n_probe=2,
        assigned=seg_a.unionByName(seg_b), tombstones=tomb,
    ).orderBy("query_id", "rank")
    direct = ivf_topk_int8_exact(
        survivors, queries, cents, "vec", "id", k=5, n_probe=2
    ).orderBy("query_id", "rank")
    got = [tuple(r) for r in served.collect()]
    want = [tuple(r) for r in direct.collect()]
    assert got == want and got

    # a duplicated id among the top-k raises (re-append without
    # compaction would silently eat ranks)
    with pytest.raises(Exception, match="ranked twice"):
        ivf_topk_int8_exact(
            df, queries, cents, "vec", "id", k=5, n_probe=2,
            assigned=seg_a.unionByName(seg_a),
        ).collect()
    # tombstones without the assigned store are a contract error
    with pytest.raises(ValueError, match="tombstones only apply"):
        ivf_topk_int8_exact(
            df, queries, cents, "vec", "id", k=5, n_probe=2,
            tombstones=tomb,
        )
    # NULL vector in the assign delta raises (maintenance wants LOUD)
    nulvec = spark.createDataFrame(
        [(1, None)], "id int, vec array<double>"
    )
    with pytest.raises(Exception, match="NULL or wrong-dimension"):
        ivf_assign_int8_exact(nulvec, cents, "vec", "id").collect()


def test_maintain_ann_store_fold_to_empty_stays_readable(spark, tmp_path):
    # review finding (reproduced): a pre-compaction or compaction that
    # nets to ZERO rows used to write an empty partitionBy(cell) dir —
    # no files, no schema — and every later read of the store failed.
    # (A) lone insert->delete->reinsert: the self-heal pre-compaction
    # folds the prior state to empty
    from esdb_spark.operators.similarity import ann_search_segments
    from esdb_spark.streaming import read_maintained_index_segments

    state = _feed_ann(
        spark, tmp_path,
        [[(5, _vec(5), "insert")],
         [(5, _vec(5), "delete")],
         [(5, _vec(5), "insert")]],
        name="empty_pre",
    )
    live, tomb = read_maintained_index_segments(spark, state)
    assert not tomb
    queries = spark.createDataFrame(
        [(99, _vec(5))], "doc_id int, vec array<double>"
    )
    got = ann_search_segments(
        live, queries, CENTS, "vec", "doc_id", k=1, n_probe=4
    ).collect()
    assert [r["id"] for r in got] == [5]
    # (B) delete-everything crossing compact_above: the folded store is
    # legally EMPTY and must stay schema-readable and serve empty
    state2 = _feed_ann(
        spark, tmp_path,
        [[(1, _vec(1), "insert"), (2, _vec(2), "insert")],
         [(1, _vec(1), "delete")],
         [(2, _vec(2), "delete")]],
        compact_above=1,
        name="empty_all",
    )
    live2, tomb2 = read_maintained_index_segments(spark, state2)
    assert len(live2) == 1 and not tomb2
    assert live2[0].count() == 0
    assert ann_search_segments(
        live2, queries, CENTS, "vec", "doc_id", k=3, n_probe=4
    ).count() == 0


def test_ivf_assign_wrong_dimension_raises(spark):
    # review finding (reproduced): an over-long vector was silently
    # mis-bucketed (its ignored tail dominated the int8 scale); a
    # short one aborted with an opaque element_at error
    from esdb_spark.operators.similarity import ivf_assign_int8_exact

    cents = [(j, [1.0 if i == j else 0.0 for i in range(4)])
             for j in range(2)]
    for bad in ([0.1] * 6, [0.1] * 2):
        df = spark.createDataFrame(
            [(1, bad)], "id int, vec array<double>"
        )
        with pytest.raises(Exception, match="wrong-dimension"):
            ivf_assign_int8_exact(df, cents, "vec", "id").collect()


def test_compact_ann_segments_null_live_id_raises(spark):
    # review finding: a NULL-id live row survived every compaction and
    # could never be tombstoned — the audit face must raise
    from esdb_spark.operators.similarity import compact_ann_segments

    seg = spark.createDataFrame(
        [(None, _vec(1), 0), (2, _vec(2), 1)],
        "id int, vec array<double>, cell int",
    )
    with pytest.raises(Exception, match="NULL id in a live segment"):
        compact_ann_segments([seg]).collect()


def test_maintain_ann_store_null_id_raises_without_op_col(spark, tmp_path):
    # third-review finding: with op_col=None the _op_guard never runs,
    # so build_live itself must raise on NULL ids (a NULL-id row would
    # serve forever and poison the first compaction's audit)
    from esdb_spark.streaming import maintain_ann_store

    src = str(tmp_path / "nid_src")
    schema = "doc_id int, vec array<double>"
    spark.createDataFrame(
        [(None, _vec(1)), (2, _vec(2))], schema
    ).coalesce(1).write.mode("overwrite").json(src)
    q = maintain_ann_store(
        spark.readStream.schema(schema).json(src),
        str(tmp_path / "nid_st"), CENTS,
        checkpoint=str(tmp_path / "nid_ck"), query_name="nid",
    )
    with pytest.raises(Exception, match="NULL doc_id in the change"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_ann_store_stats_drift_trigger(spark):
    # the r9 verdict ask: the SCALE.md re-fit policy (re-fit when the
    # grown store's top-n_probe occupancy share exceeds 1.5x the
    # fit-time baseline) must be COMPUTED, not just documented. The
    # SCALE.md scenario in miniature: a fit-time store spread evenly
    # over 8 cells, then drifted growth concentrating into one cell.
    from esdb_spark.operators.similarity import ann_store_stats

    base = spark.createDataFrame(
        [(i, i % 8) for i in range(80)], "id int, cell int"
    )
    fit = ann_store_stats(base, n_probe=2).collect()[0]
    assert fit["n_vectors"] == 80 and fit["n_cells"] == 8
    assert abs(fit["top_share"] - 0.25) < 1e-9  # 2 of 8 even cells
    # drifted growth: +80 vectors all landing in cell 0 — top-2 share
    # of the grown store is (10 + 80 + 10) / 160 = 0.625, ratio 2.5
    grown = base.unionByName(
        spark.createDataFrame(
            [(100 + i, 0) for i in range(80)], "id int, cell int"
        )
    )
    drift = ann_store_stats(
        grown, n_probe=2, baseline_share=fit["top_share"]
    ).collect()[0]
    assert abs(drift["top_share"] - 0.625) < 1e-9
    assert abs(drift["share_ratio"] - 2.5) < 1e-9
    assert drift["refit"]  # the 1.5x trigger fires
    # uniform growth does NOT fire: pruning has not drifted
    even = base.unionByName(
        spark.createDataFrame(
            [(200 + i, i % 8) for i in range(80)], "id int, cell int"
        )
    )
    ok = ann_store_stats(
        even, n_probe=2, baseline_share=fit["top_share"]
    ).collect()[0]
    assert abs(ok["share_ratio"] - 1.0) < 1e-9 and not ok["refit"]
    with pytest.raises(ValueError, match="n_probe"):
        ann_store_stats(base, 0)


def test_refit_ann_store_restores_pruning_and_keeps_answers(spark):
    # round 11: the ACTION the drift signal points at. A store fit on
    # axis-0/axis-1 vectors grows with a drifted clump between the
    # centroids but nearer axis 0 (all landing in that one old cell); refit_ann_store re-fits on the
    # live fold, the new baseline share drops back toward uniform, and
    # full-probe serving answers are IDENTICAL before and after (a
    # re-fit moves cell walls, never neighbors).
    import numpy as np

    from esdb_spark.operators.similarity import (
        ann_search_segments,
        ann_store_stats,
        compact_ann_segments,
        refit_ann_store,
    )
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(7)

    def vecs(center, n, start_id):
        pts = rng.normal(0, 0.05, (n, 4)) + np.array(center)
        return [(start_id + i, [float(x) for x in pts[i]]) for i in range(n)]

    base_rows = vecs([1, 0, 0, 0], 40, 0) + vecs([0, 1, 0, 0], 40, 100)
    drift_rows = vecs([0.9, 0.45, 0, 0], 80, 1000)
    base = spark.createDataFrame(base_rows, "id int, vec array<double>")
    drift = spark.createDataFrame(drift_rows, "id int, vec array<double>")
    cent0 = kmeans_fit(base, "vec", "id", 2, iters=10, seed=1)
    seg0 = kmeans_assign(base, cent0, "vec", "id", keep_vec=True).select(
        "id", "vec", F.col("cluster").cast("int").alias("cell")
    )
    seg1 = kmeans_assign(drift, cent0, "vec", "id", keep_vec=True).select(
        "id", "vec", F.col("cluster").cast("int").alias("cell")
    )
    tomb = [base.limit(5).select("id")]
    fit_share = ann_store_stats(seg0, n_probe=1).first()["top_share"]
    grown_share = ann_store_stats(
        seg0.unionByName(seg1), n_probe=1
    ).first()["top_share"]
    assert grown_share > fit_share  # the drifted clump concentrates
    store, cent, share = refit_ann_store(
        [seg0, seg1], tomb, k=3, n_probe=1, iters=10, seed=1
    )
    assert share < grown_share  # pruning restored
    # exactly the live ids survive, every row has a cell
    live = compact_ann_segments([seg0, seg1], tomb)
    assert sorted(r["id"] for r in store.select("id").collect()) == sorted(
        r["id"] for r in live.select("id").collect()
    )
    assert store.filter(F.col("cell").isNull()).count() == 0
    # serving equivalence at full probe: old state/centroids vs the
    # refit store/centroids return the same neighbors
    q = base.limit(3).select(F.col("id").alias("vec_id"),
                             F.col("vec").alias("embedding"))
    old = ann_search_segments(
        [seg0, seg1], q, cent0, "embedding", "vec_id", k=5,
        n_probe=len(cent0), tombstones=tomb,
    )
    new = ann_search_segments(
        [store], q, cent, "embedding", "vec_id", k=5, n_probe=len(cent),
    )
    assert sorted(map(tuple, old.select("query_id", "id", "rank").collect())) \
        == sorted(map(tuple, new.select("query_id", "id", "rank").collect()))
