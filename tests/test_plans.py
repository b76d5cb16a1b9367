"""Plan-hygiene tests: the physical plans the 100 TB design depends on.
Correct results with the wrong plan are failures here."""

import pytest
from pyspark.sql import functions as F

from esdb_spark import Db
from esdb_spark.plans import (
    has_broadcast_join,
    physical_plan,
    has_partition_pruning,
    has_pushed_filter,
    has_top_k,
    read_schema_columns,
    shuffle_count,
)
from esdb_spark.sources.tables import load_table
from esdb_spark.writer import write_events

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "a.esdb")
    src = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("space"),
        (F.col("id") % 3).cast("string").alias("grouping"),
        F.timestamp_seconds(F.lit(1400000000) + F.col("id")).alias("ts"),
        F.col("id").alias("seq"),
        F.col("id").cast("string").alias("data"),
        F.create_map(F.lit("p"), (F.col("id") % 2).cast("string")).alias(
            "indexes"
        ),
    )
    write_events(src, path)
    return Db.open(spark, path)


def test_space_lookup_prunes_partitions(archive):
    df = archive.find("3").scan("1")
    assert has_partition_pruning(df, "space")


def test_grouping_filter_pushed(archive):
    df = archive.find("3").scan("1")
    assert has_pushed_filter(df, "grouping")


def test_limit_compiles_to_top_k(archive):
    # LIMIT after ORDER BY must be a distributed top-k, not a global
    # sort — the early-termination parity (reference Scanner-false).
    df = archive.find("3").scan("1", limit=5)
    assert has_top_k(df)


def test_column_pruning(archive):
    df = archive.find("3").scan("1").select("data")
    cols = read_schema_columns(df)
    assert "data" in cols
    assert "indexes" not in cols  # untouched column never read


def test_broadcast_join_for_small_dim(spark):
    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_name"
    )
    assert has_broadcast_join(joined)


def test_catalog_scan_plans(spark):
    """The headline reference-parity scans keep their efficient shape
    on the real driver tables."""
    from esdb_spark.queries import catalog

    cat = catalog()
    df = cat["scan_top500"].fn(spark, "/root/testdata/sf0.001")
    assert has_top_k(df)
    # event_type/user_id filters push into the parquet scan
    assert has_pushed_filter(df, "event_type")
    assert has_pushed_filter(df, "user_id")


def test_single_shuffle_for_groupby(spark):
    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    # one exchange for the final aggregation (partial aggs are map-side)
    assert shuffle_count(agg) <= 1


def test_interval_join_is_equi_join(spark):
    """Range predicates must compile to a hash/merge equi-join on
    (key, bucket) — never a broadcast-nested-loop / cartesian."""
    import datetime as dt

    from esdb_spark.operators.asof import interval_join
    from esdb_spark.plans import physical_plan

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, "k", base + dt.timedelta(seconds=i)) for i in range(50)],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(i, "k", base + dt.timedelta(seconds=i * 2)) for i in range(50)],
        ["rid", "k", "rts"],
    )
    df = interval_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        lower="0 seconds", upper="5 minutes", right_cols=["rid"],
    )
    plan = physical_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_q2_broadcasts_dims(spark):
    from esdb_spark.queries_tpch import q2_min_cost_supplier

    df = q2_min_cost_supplier(spark, "/root/testdata/sf0.001")
    assert has_broadcast_join(df)


def test_q21_no_nested_loop(spark):
    from esdb_spark.plans import physical_plan
    from esdb_spark.queries_tpch import q21_waiting_suppliers

    plan = physical_plan(q21_waiting_suppliers(spark, "/root/testdata/sf0.001"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_funnel_single_stream_shuffle(spark):
    """The 3-stage funnel must shuffle the event stream ONCE (chained
    windows over one user_id partitioning), not once per stage. Budget:
    1 stream shuffle + 2 tiny post-aggregate exchanges + final sort."""
    from esdb_spark.queries import funnel_view_click_purchase

    df = funnel_view_click_purchase(spark, "/root/testdata/sf0.001")
    assert shuffle_count(df) <= 4
    from esdb_spark.plans import physical_plan

    assert physical_plan(df).count("Scan parquet") == 1


def test_corr_matrix_prunes_and_single_exchange(spark):
    from esdb_spark.queries import lineitem_corr_matrix

    df = lineitem_corr_matrix(spark, "/root/testdata/sf0.001")
    assert shuffle_count(df) <= 1
    assert set(read_schema_columns(df)) == {
        "l_quantity", "l_extendedprice", "l_discount",
    }


def test_quartiles_scalable_no_global_sort(spark):
    """The scalable quartiles variant must not totally order the fact
    table: no Window/ntile anywhere, and the boundary frame joins in as
    a broadcast."""
    from esdb_spark.plans import physical_plan
    from esdb_spark.queries_tpch import order_price_quartiles_scalable

    import re

    df = order_price_quartiles_scalable(spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    # no Window physical node, no ntile expression ("ntile(" alone
    # would false-positive on "percentile(...)")
    assert re.search(r"[+:]- Window", plan) is None
    assert re.search(r"\bntile\(", plan) is None
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_similar_part_names_block_size_bounded(spark):
    """The length-band key must shrink the largest physical block vs
    the un-banded (first char, last word) key, and the banded output
    must equal the un-banded output (band width 4 > max distance 3, so
    no qualifying pair is lost)."""
    p = load_table(spark, "/root/testdata/sf0.001", "part")
    blk = F.concat_ws(
        "|",
        F.substring("p_name", 1, 1),
        F.element_at(F.split("p_name", " "), -1),
    )
    band = F.floor(F.length("p_name") / 4)
    unbanded = (
        p.groupBy(blk.alias("blk")).count().agg(F.max("count")).collect()[0][0]
    )
    banded = (
        p.groupBy(blk.alias("blk"), band.alias("band"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert banded <= unbanded
    from esdb_spark.queries import similar_part_names

    got = similar_part_names(spark, "/root/testdata/sf0.001").collect()
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"), blk.alias("blk"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"), blk.alias("blk"))
    want = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("id_a", "id_b", F.col("dist").cast("bigint").alias("dist"))
        .orderBy("id_a", "id_b")
        .collect()
    )
    assert got == want


def test_date_filters_push_into_scan(spark):
    """Timestamp-NTZ columns must stay raw at the scan so date-range
    predicates reach parquet row-group pruning (regression: wrapping
    ts columns in a conversion at load silently dropped every
    l_shipdate/o_orderdate PushedFilter — fatal at 100 TB)."""
    from esdb_spark.queries import catalog

    cat = catalog()
    sf = "/root/testdata/sf0.001"
    assert has_pushed_filter(cat["q1_pricing_summary"].fn(spark, sf), "l_shipdate")
    assert has_pushed_filter(cat["q6_forecast_revenue"].fn(spark, sf), "l_shipdate")
    assert has_pushed_filter(cat["q4_priority_delayed"].fn(spark, sf), "o_orderdate")


def test_interleave_windows_are_partitioned(spark):
    """interleave_docs must not contain an unpartitioned window — the
    global rank comes from range-partition offsets, not a single-task
    row_number (the scale bug class the round-2 review flagged in
    other operators)."""
    import re

    from esdb_spark.queries import interleave_docs

    plan = physical_plan(interleave_docs(spark, SF_DIR))
    # Spark prints Window [functions], [partition spec], [order spec];
    # an unpartitioned window shows an empty partition list: "], [], ["
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" not in line.lower():
            assert not re.search(r"\],\s*\[\s*\],\s*\[", line), line


def test_pack_documents_single_pass_per_shard(spark):
    """pack_greedy: one shuffle (groupBy shard) + Arrow exchange, no
    joins, no sorts beyond the per-group pandas sort."""
    from esdb_spark.queries import pack_documents

    plan = physical_plan(pack_documents(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert "Join" not in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval gram set must broadcast; the train side aggregates
    map-side — no shuffle of train text or grams."""
    from esdb_spark.queries import decontaminate_docs

    plan = physical_plan(decontaminate_docs(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# corpus-cleaning operators (operators/corpus.py, round 3)
# ---------------------------------------------------------------------------


def test_corpus_vocab_topn_is_top_k(spark):
    from esdb_spark.operators.corpus import corpus_vocab
    from esdb_spark.plans import has_top_k

    docs = load_table(spark, SF_DIR, "documents")
    assert has_top_k(corpus_vocab(docs, "text", "doc_id", 50))


def test_duplicate_spans_windows_all_doc_partitioned(spark):
    from esdb_spark.operators.corpus import duplicate_ngram_spans
    from esdb_spark.plans import physical_plan

    docs = load_table(spark, SF_DIR, "documents")
    plan = physical_plan(duplicate_ngram_spans(docs, "text", "doc_id", n=4))
    # every window spec must carry a high-cardinality partition key —
    # the per-document id for the gram-build/island windows or the
    # 128-bit gram hash for the frequency count (round-6 single-pass
    # rewrite); an UNPARTITIONED window would funnel the corpus
    # through one task
    for i in range(len(plan)):
        if plan.startswith("windowspecdefinition(", i):
            head = plan[i : i + 60]
            assert "_dg_id" in head or "gh#" in head, plan[i : i + 120]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_strip_boilerplate_and_dedup_against_no_nested_loop(spark):
    from esdb_spark.operators.corpus import dedup_against, strip_boilerplate
    from esdb_spark.plans import physical_plan

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        strip_boilerplate(docs, "text", "doc_id"),
        dedup_against(docs, docs.limit(10), "text", "doc_id"),
    ):
        plan = physical_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_strip_html_is_pure_projection(spark):
    from esdb_spark.operators.text import strip_html
    from esdb_spark.plans import shuffle_count

    docs = load_table(spark, SF_DIR, "documents").withColumnRenamed(
        "text", "html"
    )
    assert shuffle_count(strip_html(docs, "html", "text")) == 0


def test_lm_score_model_joins_broadcast_no_corpus_repartition(spark):
    from esdb_spark.operators.corpus import char_bigram_lm_score
    from esdb_spark.plans import physical_plan

    docs = load_table(spark, SF_DIR, "documents")
    plan = physical_plan(char_bigram_lm_score(docs, "text", "doc_id"))
    # the corpus-side scoring join is a broadcast hash join on bg
    assert "BroadcastHashJoin" in plan
    # the only nested loop allowed is the 1-row smoothing-constant
    # attach (crossJoin of the single-row vocab aggregate — the
    # standard scalar-subquery shape, cf. q11)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_hash_sample_k_compiles_to_top_k(spark):
    """Exact-k sampling must be TakeOrderedAndProject (per-partition
    k-heaps), never a global sort."""
    from esdb_spark.functions import hash_sample_k

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    df = hash_sample_k(docs, F.col("doc_id"), 100, seed="s1")
    assert has_top_k(df)


def test_bloom_probe_never_shuffles_corpus(spark):
    """The bloom probe side is scan → project → filter: the only
    exchanges in the whole dedup plan belong to the (sketch-sized)
    build aggregation, not the probed corpus."""
    from esdb_spark.operators.bloom import bloom_table, with_bloom_flag

    docs = load_table(spark, SF_DIR, "documents")
    seen = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.md5("text").alias("k")
    )
    bloom = bloom_table(seen, "k")  # build: bounded agg (has shuffles)
    probed = with_bloom_flag(
        docs.select("doc_id", F.md5("text").alias("k")), bloom, "k"
    ).filter(~F.col("in_bloom"))
    # probe plan = scan + ArrowEvalPython + filter; zero exchanges
    assert shuffle_count(probed) == 0


def test_profile_handles_dotted_column_names(spark):
    from esdb_spark.operators.profile import profile_columns

    df = spark.range(5).select(
        F.col("id"), F.col("id").cast("string").alias("a.b")
    )
    rows = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert rows["a.b"]["n_distinct"] == 5 and rows["a.b"]["n_nulls"] == 0


def test_read_schema_columns_nested_and_shuffle_reuse(spark):
    from esdb_spark.plans import read_schema_columns, shuffle_count

    df = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    cols = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text"}
    # self-join on the same aggregate: the reused exchange must not
    # count as a second shuffle
    agg = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    joined = agg.alias("a").join(agg.alias("b"), "event_type")
    assert shuffle_count(joined) <= 2


def test_segment_serving_pushes_term_filter_into_every_leg(spark, tmp_path):
    # round-8 plan contract: the term in-filter must reach EVERY
    # segment leg's parquet scan (PushedFilters) — a query touches
    # |terms| rows per segment, never whole segments
    from esdb_spark.operators.search import (
        build_inverted_index,
        keyword_search_segments,
    )

    docs = load_table(spark, SF_DIR, "documents")
    paths = []
    for i in range(3):
        p = str(tmp_path / f"seg{i}")
        build_inverted_index(
            docs.filter(F.col("doc_id") % 3 == i), "text", "doc_id"
        ).write.parquet(p)
        paths.append(p)
    segs = [spark.read.parquet(p) for p in paths]
    q = keyword_search_segments(segs, ["spark", "hash"], k=10,
                                require_all=False)
    plan = physical_plan(q)
    # one pushed token filter per segment scan
    assert plan.count("PushedFilters: [In(token") == 3, plan
    assert has_top_k(q)


def test_flat_index_serving_has_no_explode(spark, tmp_path):
    # the r10 flat layout's plan contract: index-served keyword and
    # boolean search consume (token, doc, tf) rows directly — zero
    # Generate (explode) nodes anywhere in the serving plan (the
    # nested layout exploded postings per query), and the term
    # in-filter still reaches the scan
    from esdb_spark.operators.search import (
        boolean_search_indexed,
        build_inverted_index,
        keyword_search_indexed,
    )

    docs = load_table(spark, SF_DIR, "documents")
    p = str(tmp_path / "flatidx")
    build_inverted_index(docs, "text", "doc_id").write.parquet(p)
    idx = spark.read.parquet(p)
    for q in (
        keyword_search_indexed(idx, ["spark", "hash"], k=10,
                               require_all=False),
        boolean_search_indexed(idx, "spark AND NOT hash"),
    ):
        plan = physical_plan(q)
        assert "Generate" not in plan, plan
        assert "PushedFilters: [In(token" in plan, plan


def test_flat_index_update_state_never_shuffles(spark, tmp_path):
    # the r10 append face: union + broadcast re-ingestion probe — the
    # INDEX side must reach the output without an exchange of its own
    # (the update_doc_lengths shape); pre-r10 this was a full-outer
    # SortMergeJoin of the whole index per delta
    from esdb_spark.operators.search import (
        build_inverted_index,
        update_inverted_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    p = str(tmp_path / "flatidx2")
    build_inverted_index(
        docs.filter(F.col("doc_id") % 10 != 0), "text", "doc_id"
    ).write.parquet(p)
    idx = spark.read.parquet(p)
    out = update_inverted_index(
        idx, docs.filter(F.col("doc_id") % 10 == 0), "text", "doc_id"
    )
    plan = physical_plan(out)
    assert plan.count("BroadcastHashJoin") >= 1, plan
    # the stored index never hash-partitions; the only exchanges
    # belong to the delta's own build aggregate
    assert "hashpartitioning(token#" not in plan.split(
        "BroadcastHashJoin"
    )[0], plan
    assert "SortMergeJoin" not in plan, plan


def test_fuzzy_expansion_stays_sargable(spark, tmp_path):
    # the index-face fuzzy contract: SymSpell candidates ride the scan
    # as a literal In-filter (pushed to parquet) — NO levenshtein
    # appears anywhere in the index scan's plan (a levenshtein
    # disjunct would sweep the corpus-sized token column)
    from esdb_spark.operators.search import (
        boolean_search_indexed,
        build_inverted_index,
        build_spell_index,
        inverted_index_stats,
    )

    docs = load_table(spark, SF_DIR, "documents")
    p = str(tmp_path / "fzidx")
    build_inverted_index(docs, "text", "doc_id").write.parquet(p)
    idx = spark.read.parquet(p)
    sp = build_spell_index(inverted_index_stats(idx))
    # single-leg query so the scan is visible (a multi-leg query
    # localCheckpoints the filtered scan, which the plan then shows as
    # an ExistingRDD — the pushdown happened on the materializing job)
    q = boolean_search_indexed(idx, "merge~1", spell_index=sp)
    plan = physical_plan(q)
    # one candidate collapses In to EqualTo — either way it's a pushed
    # literal predicate on token
    import re as _re

    assert _re.search(
        r"PushedFilters: \[[^\]]*(In|EqualTo)\(token", plan
    ), plan
    assert "levenshtein" not in plan.lower(), plan
    # the multi-leg shape keeps levenshtein out of the plan too (the
    # candidates are literals either way)
    q2 = boolean_search_indexed(idx, "merge~1 AND spark", spell_index=sp)
    assert "levenshtein" not in physical_plan(q2).lower()


def test_stored_fields_bounded_fetch_plan(spark, tmp_path):
    # the stored-fields serving contract: an ids-bounded fetch reads
    # each segment through a broadcast semi of the requested ids —
    # the store never sort-merge-joins, and the tombstone net is a
    # broadcast anti
    from esdb_spark.operators.storedfields import (
        build_stored_fields,
        stored_fields_segments,
    )

    docs = load_table(spark, SF_DIR, "documents")
    paths = []
    for i in range(2):
        p = str(tmp_path / f"sf{i}")
        build_stored_fields(
            docs.filter(F.col("doc_id") % 2 == i), "doc_id",
            ["text", "lang"],
        ).write.parquet(p)
        paths.append(p)
    segs = [spark.read.parquet(p) for p in paths]
    tomb = [docs.limit(5).select(F.col("doc_id").alias("doc"))]
    ids = docs.limit(3).select(F.col("doc_id").alias("doc"))
    out = stored_fields_segments(segs, tomb, ids=ids)
    plan = physical_plan(out)
    assert "SortMergeJoin" not in plan, plan
    # ≥2 broadcast semis (one per segment via the union) + the anti
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftAnti" in plan, plan
    # the literal tier (a driver-side id LIST — the page shape) must
    # push into every segment scan's row groups (r10 probe: 0.82 s vs
    # the semi's 2.19 s at 200k docs — joins don't prune scans)
    out2 = stored_fields_segments(segs, tomb, ids=[1, 2, 3])
    plan2 = physical_plan(out2)
    assert plan2.count("PushedFilters: [In(doc") == 2, plan2
    assert "SortMergeJoin" not in plan2, plan2


def test_delete_doc_lengths_state_never_shuffles(spark):
    # the anti+semi probes broadcast the removal batch; the lengths
    # table must reach both joins without an exchange of its own —
    # only the guard's tiny aggregates exchange (single-row)
    from esdb_spark.operators.search import (
        build_doc_lengths,
        delete_doc_lengths,
    )

    docs = load_table(spark, SF_DIR, "documents")
    dl = build_doc_lengths(docs)
    rm = docs.limit(5).select("doc_id")
    out = delete_doc_lengths(dl, rm)
    plan = physical_plan(out)
    assert plan.count("BroadcastHashJoin") >= 2, plan  # anti + semi
    # the doc-keyed STATE never exchanges: the only hashpartitioning
    # on doc allowed is the per-id guard's aggregate over the SEMI
    # output — a delta-bounded subset, not the table (r9: the guard
    # went per-id so a ghost and a duplicate cannot cancel)
    assert plan.count("hashpartitioning(doc") <= 1, plan


def test_ann_int8_prebuilt_store_partition_pruned(spark, emb_store):
    # covered functionally in test_similarity; here assert the plan:
    # the probed-cell in-filter must land in PartitionFilters of the
    # cell-partitioned store scan
    store, cent = emb_store
    from esdb_spark.operators.similarity import ann_topk_int8

    emb = load_table(spark, SF_DIR, "embeddings")
    q = ann_topk_int8(
        emb, emb.filter(F.col("vec_id") < 3), "embedding", "vec_id",
        k=5, n_centroids=8, n_probe=2, centroids=cent, assigned=store,
    )
    plan = physical_plan(q)
    # NOT just substring presence: 'PartitionFilters: [...]' prints
    # (possibly empty) on every partitioned scan and 'cell' matches
    # schema text — assert the probed-cell IN-predicate itself
    # (review finding: the loose form passes with zero pruning)
    import re as _re

    assert _re.search(
        r"PartitionFilters: \[[^\]]*cell#\d+[^\]]* IN \(", plan
    ), plan  # tolerate the partition-type cast some sessions add


@pytest.fixture(scope="module")
def emb_store(spark, tmp_path_factory):
    from esdb_spark.operators.cluster import kmeans_assign, kmeans_fit

    emb = load_table(spark, SF_DIR, "embeddings")
    c = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cent = kmeans_fit(c, "vec", "id", 8, iters=10, seed=42)
    p = str(tmp_path_factory.mktemp("plans") / "ivf")
    (
        kmeans_assign(c, cent, "vec", "id", keep_vec=True)
        .filter(F.col("cluster").isNotNull())
        .select("id", "vec", F.col("cluster").alias("cell"))
        .write.partitionBy("cell").parquet(p)
    )
    return spark.read.parquet(p), cent


def test_positional_segment_serving_pushes_term_filter(spark, tmp_path):
    # round-9 plan contract, positional flavor: the phrase's term
    # in-filter must reach every positional segment leg's parquet scan
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_segments,
    )

    docs = load_table(spark, SF_DIR, "documents")
    paths = []
    for i in range(3):
        p = str(tmp_path / f"pseg{i}")
        build_positional_index(
            docs.filter(F.col("doc_id") % 3 == i), "text", "doc_id"
        ).write.parquet(p)
        paths.append(p)
    segs = [spark.read.parquet(p) for p in paths]
    tomb = [docs.limit(3).select(F.col("doc_id").alias("doc"))]
    q = phrase_search_segments(segs, "fast table", tombstones=tomb)
    plan = physical_plan(q)
    assert plan.count("PushedFilters: [In(token") == 3, plan
    # the tombstone probe broadcasts the delete delta — the segment
    # rows never hash-exchange on doc for the subtraction itself
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_exact_corpus_never_shuffles_before_topk(spark):
    # the engine-exact ANN face: assignment is a projection-level HOF
    # fold (no explode/shuffle of the corpus); candidates meet the
    # per-query window through ONE broadcast join, and the partial
    # WindowGroupLimit prunes to k before the only exchange
    from esdb_spark.operators.similarity import ivf_topk_int8_exact
    from esdb_spark.queries import _ANN_EXACT_CENTS

    emb = load_table(spark, SF_DIR, "embeddings")
    q = ivf_topk_int8_exact(
        emb, emb.filter(F.col("vec_id") < 3), _ANN_EXACT_CENTS,
        "embedding", "vec_id", k=5, n_probe=2,
    )
    plan = physical_plan(q)
    assert "Python" not in plan and "InPandas" not in plan, plan
    # exactly one explode — the tiny query-side probe fan-out
    assert plan.count("Generate explode") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_proximity_search_plan_shape(spark, tmp_path):
    # both word in-filters reach the index scan; the pair join is an
    # equi-join on (doc, bucket) — never a nested-loop/cartesian
    from esdb_spark.operators.search import (
        build_positional_index,
        proximity_search,
    )

    docs = load_table(spark, SF_DIR, "documents")
    p = str(tmp_path / "pidx")
    build_positional_index(docs, "text", "doc_id").write.parquet(p)
    idx = spark.read.parquet(p)
    q = proximity_search(idx, "fast", "merge", 5)
    plan = physical_plan(q)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters: [" in ln]
    for w in ("fast", "merge"):
        assert any(f"EqualTo(token,{w})" in ln for ln in pushed), plan


def test_ann_search_segments_plan_pruned_and_anti_broadcast(
    spark, emb_store, tmp_path
):
    # the maintained-store serving shape: the probed-cell in-filter
    # must prune partitions of EVERY cell-partitioned segment leg, and
    # the tombstone netting must be a broadcast ANTI probe (delete
    # delta on the build side) — never a shuffle of the store
    from esdb_spark.operators.similarity import ann_search_segments

    store, cent = emb_store
    emb = load_table(spark, SF_DIR, "embeddings")
    tomb = emb.limit(3).select(F.col("vec_id").alias("id"))
    q = ann_search_segments(
        [store], emb.filter(F.col("vec_id") < 3), cent,
        "embedding", "vec_id", k=5, n_probe=2, tombstones=[tomb],
    )
    plan = physical_plan(q)
    import re as _re

    assert _re.search(
        r"PartitionFilters: \[[^\]]*cell#\d+[^\]]* IN \(", plan
    ), plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the store side never exchanges before the scorer
    assert "InPandas" in plan, plan


def test_boolean_search_one_scan_no_joins(spark):
    # the whole AND/OR/NOT AST must collapse into ONE scan + ONE
    # aggregate — a join per operator node is the textbook plan this
    # operator exists to avoid
    from esdb_spark.operators.search import boolean_search

    docs = load_table(spark, SF_DIR, "documents")
    q = boolean_search(docs, "(spark OR hash) AND data AND NOT merge")
    plan = physical_plan(q)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan and "Cartesian" not in plan, plan
    # only doc_id + text reach the scan (column pruning)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_spell_store_serving_pushes_vh_filter(spark, tmp_path):
    # the maintained spell store's serving contract (round 11): the
    # query word's deletion variants land as a literal In(vh) pushed
    # into EVERY segment scan (below the union AND the disjointness
    # window), the token tombstone nets as a broadcast ANTI, and no
    # SortMergeJoin appears (the NULL-tombstone guard's zero-row probe
    # leg contributes one literal-array explode — that is not a
    # re-expansion of the store)
    from esdb_spark.functions import tokens as _tokens
    from esdb_spark.operators.search import (
        build_spell_index,
        suggest_terms_segments,
    )

    docs = load_table(spark, SF_DIR, "documents")
    vocab = (
        docs.select(F.explode(_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("term_freq"))
    )
    paths = []
    for i in range(2):
        p = str(tmp_path / f"spell{i}")
        build_spell_index(vocab.filter(F.crc32("token") % 2 == i)).write.parquet(p)
        paths.append(p)
    segs = [spark.read.parquet(p) for p in paths]
    tomb = [
        spark.createDataFrame([("merge",)], "token string")
    ]
    q = suggest_terms_segments(segs, "mrege", max_dist=2, tombstones=tomb)
    plan = physical_plan(q)
    import re as _re

    assert len(_re.findall(r"PushedFilters: \[[^\]]*In\(vh", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_spell_vocab_literal_token_bound_prunes_scans(spark, tmp_path):
    # the maintenance path's k-bounded tier: a PYTHON-LIST tokens=
    # bound lands as a literal In(token) below the union AND the guard
    # window, pruning every segment scan's row groups; the frame tier
    # stays a broadcast semi (values equal either way)
    from esdb_spark.functions import tokens as _tokens
    from esdb_spark.operators.search import (
        build_spell_index,
        spell_segments_vocab,
    )

    docs = load_table(spark, SF_DIR, "documents")
    vocab = (
        docs.select(F.explode(_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("term_freq"))
    )
    for i in range(2):
        build_spell_index(
            vocab.filter(F.crc32("token") % 2 == i)
        ).write.parquet(str(tmp_path / f"sv{i}"))
    segs = [spark.read.parquet(str(tmp_path / f"sv{i}")) for i in range(2)]
    lit = spell_segments_vocab(segs, tokens=["merge", "spark"])
    plan = physical_plan(lit)
    import re as _re

    assert len(_re.findall(r"PushedFilters: \[[^\]]*In\(token", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    want = spark.createDataFrame([("merge",), ("spark",)], "token string")
    frame = spell_segments_vocab(segs, tokens=want)
    assert sorted(map(tuple, lit.collect())) == sorted(
        map(tuple, frame.collect())
    )


def test_spell_upsert_bounded_pushes_token_filter(spark, tmp_path):
    # round 12 (r11 verdict #5): the UPSERT path auto-tiers its live
    # view — a driver-sized delta collects its distinct tokens and
    # the literal In(token) lands below the segment union, so every
    # parquet segment scan on the upsert path prunes row groups (the
    # frame tier only kept rows out of flight); no SortMergeJoin
    # anywhere, and the tier choice never changes the (rows, tomb)
    # answer
    from esdb_spark.functions import tokens as _tokens
    from esdb_spark.operators.search import (
        build_spell_index,
        spell_index_upserts,
        spell_index_upserts_bounded,
        spell_segments_vocab,
    )

    docs = load_table(spark, SF_DIR, "documents")
    vocab = (
        docs.select(F.explode(_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("term_freq"))
    )
    for i in range(2):
        build_spell_index(
            vocab.filter(F.crc32("token") % 2 == i)
        ).write.parquet(str(tmp_path / f"su{i}"))
    segs = [spark.read.parquet(str(tmp_path / f"su{i}")) for i in range(2)]
    delta = spark.createDataFrame(
        [("merge", 2), ("spark", 1)], "token string, term_freq long"
    )
    rows, tomb = spell_index_upserts_bounded(segs, None, delta)
    import re as _re

    for leg in (rows, tomb):
        plan = physical_plan(leg)
        assert (
            len(_re.findall(r"PushedFilters: \[[^\]]*In\(token", plan)) == 2
        ), plan
        assert "SortMergeJoin" not in plan, plan
    # same answer as the un-tiered frame path
    f_rows, f_tomb = spell_index_upserts(
        spell_segments_vocab(segs, tokens=delta.select("token")), delta
    )
    assert sorted(map(tuple, rows.collect())) == sorted(
        map(tuple, f_rows.collect())
    )
    assert sorted(map(tuple, tomb.collect())) == sorted(
        map(tuple, f_tomb.collect())
    )
    # past the cap the frame tier serves unchanged (values equal)
    b_rows, b_tomb = spell_index_upserts_bounded(
        segs, None, delta, max_literal_tokens=1
    )
    assert sorted(map(tuple, b_rows.collect())) == sorted(
        map(tuple, f_rows.collect())
    )
    assert sorted(map(tuple, b_tomb.collect())) == sorted(
        map(tuple, f_tomb.collect())
    )
