"""Full-text retrieval (operators/search.py): inverted index,
boolean keyword search, exact phrase search. The text face of the
reference's name→head secondary indexes (README.md "Index scans")."""

import pytest

from pyspark.sql import functions as F

from esdb_spark.operators.search import (
    build_inverted_index,
    keyword_search,
    phrase_search,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins tables fast"),
            (2, "spark spark shuffle"),
            (3, "tables and tables of data"),
            (4, "  Spark   TABLES  "),  # case + whitespace normalize
            (5, ""),
        ],
        "doc_id int, text string",
    )


def test_inverted_index_flat_rows_and_stats(spark, corpus):
    # the FLAT (token, doc, tf) layout (round 10) + the |vocab|-row
    # stats face — no per-token posting array exists anywhere
    from esdb_spark.operators.search import inverted_index_stats

    idx = build_inverted_index(corpus)
    assert idx.columns == ["token", "doc", "tf"]
    spark_rows = sorted(
        (r["doc"], r["tf"])
        for r in idx.filter(F.col("token") == "spark").collect()
    )
    assert spark_rows == [(1, 1), (2, 2), (4, 1)]
    st = {
        r["token"]: (r["doc_freq"], r["term_freq"])
        for r in inverted_index_stats(idx).collect()
    }
    assert st["spark"] == (3, 4)
    assert st["tables"][0] == 3
    assert "" not in st  # blank doc contributes nothing


def test_cap_postings_keeps_top_tf_and_marks(spark, corpus):
    from esdb_spark.operators.search import cap_postings

    cap = cap_postings(build_inverted_index(corpus), 2)
    # spark: tf=2 in doc 2 beats tf=1 docs; tie (docs 1,4) → smaller id
    spark_rows = sorted(
        (r["doc"], r["tf"], r["truncated"])
        for r in cap.filter(F.col("token") == "spark").collect()
    )
    assert spark_rows == [(1, 1, True), (2, 2, True)]
    # an under-cap token survives unmarked
    assert [
        r["truncated"]
        for r in cap.filter(F.col("token") == "shuffle").collect()
    ] == [False]


def test_cap_postings_is_not_maintainable_state(spark, corpus):
    # the cut is a serving view: maintenance and stats faces refuse it
    from esdb_spark.operators.search import (
        cap_postings,
        delete_from_inverted_index,
        inverted_index_stats,
        update_inverted_index,
    )

    cap = cap_postings(build_inverted_index(corpus), 1)
    delta = spark.createDataFrame(
        [(9, "fresh words")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="capped"):
        update_inverted_index(cap, delta).collect()
    with pytest.raises(Exception, match="capped"):
        delete_from_inverted_index(cap, delta).collect()
    with pytest.raises(Exception, match="capped"):
        inverted_index_stats(cap).collect()


def test_keyword_search_and_or(spark, corpus):
    both = keyword_search(corpus, ["spark", "tables"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in both] == [(1, 2), (4, 2)]
    any_ = keyword_search(
        corpus, ["spark", "tables"], k=10, require_all=False
    ).collect()
    # doc 3 has tables twice → score 2; order: score desc, id asc
    assert [r["doc_id"] for r in any_] == [1, 2, 3, 4]


def test_keyword_search_k_and_case(spark, corpus):
    top1 = keyword_search(corpus, ["SPARK"], k=1).collect()
    assert [(r["doc_id"], r["score"]) for r in top1] == [(2, 2)]


def test_phrase_search_consecutive_and_overlap(spark, corpus):
    hits = {
        r["doc_id"]: r
        for r in phrase_search(corpus, "spark spark").collect()
    }
    assert set(hits) == {2}
    assert hits[2]["n_occurrences"] == 1
    assert hits[2]["first_pos"] == 0
    # overlap: 'tables and tables' has no 'tables tables'
    assert phrase_search(corpus, "tables tables").count() == 0
    ov = spark.createDataFrame(
        [(9, "a a a")], "doc_id int, text string"
    )
    r = phrase_search(ov, "a a").collect()[0]
    assert (r["n_occurrences"], r["first_pos"]) == (2, 0)


def test_phrase_search_multiword(spark, corpus):
    r = phrase_search(corpus, "Tables of data").collect()
    assert [(x["doc_id"], x["first_pos"]) for x in r] == [(3, 2)]


def test_keyword_search_pushes_term_filter_below_aggregate(spark, corpus):
    plan = keyword_search(corpus, ["spark"], k=5)._jdf.queryExecution(
    ).executedPlan().toString()
    # the literal in-filter must run before the aggregate: in the
    # top-down plan string the Filter node prints BELOW (after) the
    # HashAggregate that consumes it
    agg_pos = plan.find("HashAggregate")
    filt_pos = plan.find("Filter (token")
    assert agg_pos != -1 and filt_pos != -1
    assert filt_pos > agg_pos, plan
    assert plan.find("TakeOrderedAndProject") != -1


# ---------------------------------------------------------------------------
# BM25 ranking + reciprocal-rank fusion (round 6)
# ---------------------------------------------------------------------------


def _bm25_model(docs, terms, k1=1.2, b=0.75):
    """Pure-Python Okapi BM25 with Lucene IDF, folding per-term scores
    in sorted term order — the operator's bit-determinism contract."""
    import math

    toks = {d: t.lower().split() for d, t in docs}
    n = len([d for d in toks])
    total = sum(len(t) for t in toks.values())
    out = {}
    for d, t in toks.items():
        dl = float(len(t))
        score, matched = 0.0, 0
        for term in sorted({w.lower() for w in terms}):
            tf = float(t.count(term))
            if tf == 0.0:
                continue
            matched += 1
            df = float(sum(1 for tt in toks.values() if term in tt))
            idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
            denom = tf + k1 * (
                (1.0 - b) + b * (dl * float(n) / float(total))
            )
            score += idf * (tf * (k1 + 1.0)) / denom
        if matched:
            out[d] = (matched, score)
    return out


def test_bm25_matches_python_model_bitwise(spark, corpus):
    from esdb_spark.operators.search import bm25_search

    rows = bm25_search(corpus, ["spark", "tables"], k=10).collect()
    model = _bm25_model(
        [(r["doc_id"], r["text"]) for r in corpus.collect()],
        ["spark", "tables"],
    )
    assert {r["doc_id"] for r in rows} == set(model)
    for r in rows:
        m_matched, m_score = model[r["doc_id"]]
        assert r["n_terms_matched"] == m_matched
        assert r["bm25"] == m_score  # bit-exact: same fold order
    # ranking: desc score, ties to smallest id
    scores = [(r["bm25"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores, key=lambda s: (-s[0], s[1]))


def test_bm25_rare_term_outranks_common(spark):
    from esdb_spark.operators.search import bm25_search

    docs = spark.createDataFrame(
        [(i, "common filler words here") for i in range(20)]
        + [(100, "common rare"), (101, "common common common")],
        "doc_id int, text string",
    )
    rows = bm25_search(docs, ["rare", "common"], k=3).collect()
    assert rows[0]["doc_id"] == 100  # the rare term dominates


def test_rrf_fuse_two_lists_model(spark):
    from esdb_spark.operators.search import rrf_fuse, with_rank

    a = spark.createDataFrame(
        [(1, 10), (2, 5), (3, 1)], "doc_id int, score int"
    )
    b = spark.createDataFrame(
        [(2, 9), (4, 7)], "doc_id int, score int"
    )
    ra = with_rank(a, [F.desc("score"), F.asc("doc_id")])
    rb = with_rank(b, [F.desc("score"), F.asc("doc_id")])
    out = {r["doc_id"]: r for r in rrf_fuse([ra, rb], k=10, c=60).collect()}
    assert out[2]["n_lists"] == 2
    assert out[2]["rrf"] == 1.0 / 62.0 + 1.0 / 61.0  # rank 2 in a, 1 in b
    assert out[1]["rrf"] == 1.0 / 61.0
    assert out[4]["rrf"] == 1.0 / 62.0
    top = [r["doc_id"] for r in rrf_fuse([ra, rb], k=2).collect()]
    assert top == [2, 1]  # fused winner appears in both lists


def test_rrf_empty_input_raises(spark):
    from esdb_spark.operators.search import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_keyword_search_empty_terms_raise(spark, corpus):
    with pytest.raises(ValueError):
        keyword_search(corpus, [])
    with pytest.raises(ValueError):
        keyword_search(corpus, ["", "  "])  # blank terms are dropped


def test_keyword_search_indexed_matches_corpus_search(spark, corpus):
    from esdb_spark.operators.search import (
        build_inverted_index,
        keyword_search_indexed,
    )

    idx = build_inverted_index(corpus)
    for terms, require_all in (
        (["spark", "tables"], True),
        (["spark", "tables"], False),
        (["SPARK"], True),
    ):
        direct = [
            (r["doc_id"], r["n_terms_matched"], r["score"])
            for r in keyword_search(
                corpus, terms, k=10, require_all=require_all
            ).collect()
        ]
        served = [
            (r["doc"], r["n_terms_matched"], r["score"])
            for r in keyword_search_indexed(
                idx, terms, k=10, require_all=require_all
            ).collect()
        ]
        assert direct == served


def test_keyword_search_indexed_rejects_truncated(spark, corpus):
    from esdb_spark.operators.search import (
        build_inverted_index,
        cap_postings,
        keyword_search_indexed,
    )

    capped = cap_postings(build_inverted_index(corpus), 1)
    with pytest.raises(Exception, match="capped"):
        keyword_search_indexed(capped, ["spark"]).collect()


def test_bm25_null_text_counts_as_zero_length(spark):
    # a NULL-text doc must count toward N with doc length 0 — exactly
    # like an empty-string doc — not inflate N while skipping avgdl's
    # numerator (ADVICE r6: size(NULL) is NULL, biasing avgdl low)
    from esdb_spark.operators.search import bm25_search

    base = [
        (1, "spark joins tables"),
        (2, "spark spark streaming"),
        (3, "unrelated words here"),
    ]
    with_null = spark.createDataFrame(
        base + [(4, None)], "doc_id int, text string"
    )
    with_empty = spark.createDataFrame(
        base + [(4, "")], "doc_id int, text string"
    )
    got_null = [tuple(r) for r in bm25_search(with_null, ["spark"]).collect()]
    got_empty = [tuple(r) for r in bm25_search(with_empty, ["spark"]).collect()]
    assert got_null == got_empty and got_null
    model = _bm25_model(base + [(4, "")], ["spark"])
    for doc_id, matched, score in got_null:
        assert (matched, score) == model[doc_id]


# ---------------------------------------------------------------------------
# Incremental inverted-index maintenance (round 7)
# ---------------------------------------------------------------------------


def _idx_rows(df):
    # flat (token, doc, tf) layout (round 10)
    return sorted((r["token"], r["doc"], r["tf"]) for r in df.collect())


@pytest.fixture(scope="module")
def grown_corpus(spark):
    base = [
        (1, "spark joins tables fast"),
        (2, "spark spark shuffle"),
        (3, "tables and tables of data"),
        (4, "sort merge join"),
    ]
    delta = [
        (5, "spark sort spark sort sort"),
        (6, "brand new tokens only"),
        (7, "tables tables tables"),
    ]
    old = spark.createDataFrame(base, "doc_id int, text string")
    new = spark.createDataFrame(delta, "doc_id int, text string")
    full = spark.createDataFrame(base + delta, "doc_id int, text string")
    return old, new, full


def test_update_inverted_index_equals_rebuild(spark, grown_corpus):
    from esdb_spark.operators.search import update_inverted_index

    old, new, full = grown_corpus
    updated = update_inverted_index(build_inverted_index(old), new)
    assert _idx_rows(updated) == _idx_rows(build_inverted_index(full))


def test_cap_of_updated_equals_cap_of_rebuild(spark, grown_corpus):
    # the serving-cut discipline under maintenance: maintain the flat
    # UNCAPPED state, cap at serve time — cap(update(old, new)) ==
    # cap(build(full)) value-for-value, truncated marker included
    from esdb_spark.operators.search import (
        cap_postings,
        update_inverted_index,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    old, new, full = grown_corpus
    updated = update_inverted_index(build_inverted_index(old), new)
    assert rows(cap_postings(updated, 2)) == rows(
        cap_postings(build_inverted_index(full), 2)
    )


def test_update_inverted_index_rejects_reingested_doc(spark, grown_corpus):
    from esdb_spark.operators.search import update_inverted_index

    old, _, _ = grown_corpus
    dup = spark.createDataFrame(
        [(2, "spark again")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="re-ingests"):
        update_inverted_index(build_inverted_index(old), dup).collect()


def test_update_inverted_index_rejects_capped_input(spark, grown_corpus):
    from esdb_spark.operators.search import (
        cap_postings,
        update_inverted_index,
    )

    old, new, _ = grown_corpus
    capped = cap_postings(build_inverted_index(old), 1)
    with pytest.raises(Exception, match="truncated"):
        update_inverted_index(capped, new).collect()


def test_delete_from_inverted_index_equals_rebuild(spark, grown_corpus):
    from esdb_spark.operators.search import delete_from_inverted_index

    old, new, full = grown_corpus
    # delete the delta back out of the full index -> the old index
    pruned = delete_from_inverted_index(build_inverted_index(full), new)
    assert _idx_rows(pruned) == _idx_rows(build_inverted_index(old))


def test_delete_from_inverted_index_integrity_raises(spark, grown_corpus):
    from esdb_spark.operators.search import delete_from_inverted_index

    from esdb_spark.operators.search import cap_postings

    old, _, full = grown_corpus
    idx = build_inverted_index(full)
    # a doc the index never had (id 99 shares token 'spark')
    ghost = spark.createDataFrame(
        [(99, "spark ghost")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="does not match"):
        delete_from_inverted_index(idx, ghost).collect()
    # a doc the index never had under ANY of its tokens — the flat
    # layout's per-(token, doc) audit catches it too (the pre-flat
    # face could only reconcile shared tokens)
    alien = spark.createDataFrame(
        [(99, "zzqq nonsense")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="does not match"):
        delete_from_inverted_index(idx, alien).collect()
    # same doc id, different text (tf drift on shared token 'spark')
    drift = spark.createDataFrame(
        [(2, "spark shuffle")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="does not match"):
        delete_from_inverted_index(idx, drift).collect()
    # capped frames cannot be maintained under deletes
    capped = cap_postings(idx, 1)
    victim = spark.createDataFrame(
        [(2, "spark spark shuffle")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="truncated"):
        delete_from_inverted_index(capped, victim).collect()


def test_updated_index_serves_search_parity(spark, grown_corpus):
    from esdb_spark.operators.search import (
        keyword_search_indexed,
        update_inverted_index,
    )

    old, new, full = grown_corpus
    updated = update_inverted_index(build_inverted_index(old), new)
    terms = ["spark", "tables"]
    served = keyword_search_indexed(updated, terms, k=10, require_all=False)
    direct = keyword_search(full, terms, "text", "doc_id", k=10,
                            require_all=False)
    assert [
        (r["doc"], r["n_terms_matched"], r["score"]) for r in served.collect()
    ] == [
        (r["doc_id"], r["n_terms_matched"], r["score"])
        for r in direct.collect()
    ]


def test_rrf_fuse_exact_rational(spark):
    # the (P, S) integer fold must produce EXACTLY the correctly-
    # rounded double of the true rational sum 1/(c+r1)+1/(c+r2)+1/(c+r3)
    from esdb_spark.operators.search import rrf_fuse_exact

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id int, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2), (4, 3)], "doc_id int, rank int")
    c = spark.createDataFrame([(3, 1), (1, 2), (5, 3)], "doc_id int, rank int")
    out = {r["doc_id"]: r for r in rrf_fuse_exact([a, b, c], k=10).collect()}
    # doc 3: ranks 3, 2, 1
    p = 63 * 62 * 61
    s = 62 * 61 + 63 * 61 + 63 * 62
    assert out[3]["rrf"] == s / p and out[3]["n_lists"] == 3
    # doc 4: only one list, rank 3
    assert out[4]["rrf"] == 1.0 / 63.0 and out[4]["n_lists"] == 1
    # ranking: doc 3 (top in one list, high in all) first
    ranked = sorted(out.values(), key=lambda r: (-r["rrf"], r["doc_id"]))
    assert ranked[0]["doc_id"] == 3
    import pytest as _pt
    with _pt.raises(ValueError):
        rrf_fuse_exact([])


def test_fixed_merge_token_stats_hand_example(spark):
    from esdb_spark.operators.bpe import fixed_merge_token_stats

    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
              ("an", "d"), ("e", "r")]
    df = spark.createDataFrame(
        [(1, "the thin and other band"), (2, ""), (3, None), (4, "a a a")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_chars"])
           for r in fixed_merge_token_stats(df, merges).collect()}
    # the→the(1) thin→th,in(2) and→and(1) other→o,the,r(3) band→b,and(2)
    assert got[1] == (5, 9, 23)
    assert got[2] == (0, 0, 0)
    assert got[3] == (0, 0, 0)
    assert got[4] == (3, 3, 5)  # bare chars, no merge applies


def test_fixed_merge_token_stats_sentinel_collision_raises(spark):
    from esdb_spark.operators.bpe import fixed_merge_token_stats

    df = spark.createDataFrame(
        [(1, "bad \x1f byte")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="sentinel"):
        fixed_merge_token_stats(df, [("t", "h")]).collect()


def test_segment_union_serving_parity(spark, grown_corpus):
    # the O(delta) append face: a new segment index unions with the
    # base index and keyword_search_indexed serves the union exactly —
    # per-token segment rows aggregate inside the search (doc sets are
    # disjoint across segments), no merge/compaction required
    from esdb_spark.operators.search import keyword_search_indexed

    old, new, full = grown_corpus
    segs = build_inverted_index(old).unionByName(build_inverted_index(new))
    terms = ["spark", "tables"]
    served = keyword_search_indexed(segs, terms, k=10, require_all=False)
    direct = keyword_search(full, terms, "text", "doc_id", k=10,
                            require_all=False)
    assert [
        (r["doc"], r["n_terms_matched"], r["score"]) for r in served.collect()
    ] == [
        (r["doc_id"], r["n_terms_matched"], r["score"])
        for r in direct.collect()
    ]


def test_update_inverted_index_guard_overlap_off(spark, grown_corpus):
    from esdb_spark.operators.search import update_inverted_index

    old, new, full = grown_corpus
    updated = update_inverted_index(
        build_inverted_index(old), new, guard_overlap=False
    )
    assert _idx_rows(updated) == _idx_rows(build_inverted_index(full))


def test_cap_postings_tightening_and_stats_serving(spark):
    # tightening a cut is exact: cap(cap(idx, 3), 2)-equivalent state
    # never exists — cuts always derive from the flat state, so any
    # cap equals a from-scratch cap of the same state. Ranked serving
    # over a cut opts in via PRE-cap stats (bm25_search_indexed).
    from esdb_spark.operators.search import (
        bm25_search_indexed,
        build_doc_lengths,
        cap_postings,
        inverted_index_stats,
    )

    base_rows = [(i, "common word" + str(i % 2)) for i in range(1, 5)]
    full = spark.createDataFrame(base_rows, "doc_id int, text string")
    idx = build_inverted_index(full)
    cap2 = cap_postings(idx, 2)
    # the cut keeps per-token top-2 by (tf desc, doc asc): 'common'
    # has 4 tf-1 docs → docs 1, 2 survive, marked truncated
    got = sorted(
        (r["doc"], r["truncated"])
        for r in cap2.filter(F.col("token") == "common").collect()
    )
    assert got == [(1, True), (2, True)]
    # ranked serve over the cut with exact PRE-cap stats: df stays the
    # corpus truth (4), so surviving docs score exactly as they do on
    # the uncapped index
    stats = inverted_index_stats(idx)
    dl = build_doc_lengths(full)
    cut = {
        r["doc"]: r["bm25"]
        for r in bm25_search_indexed(
            cap2, dl, ["common"], k=10, stats=stats
        ).collect()
    }
    exact = {
        r["doc"]: r["bm25"]
        for r in bm25_search_indexed(idx, dl, ["common"], k=10).collect()
    }
    assert set(cut) == {1, 2}  # the cut's survivors only
    assert all(cut[d] == exact[d] for d in cut)  # identical scores


def test_fixed_merge_token_stats_rejects_bad_merges(spark):
    from esdb_spark.operators.bpe import fixed_merge_token_stats

    df = spark.createDataFrame([(1, "ok text")], "doc_id int, text string")
    for bad in [("", "x"), ("a b", "c"), ("A", "b"), ("a", "x\x1fy")]:
        with pytest.raises(ValueError, match="merge symbols"):
            fixed_merge_token_stats(df, [bad])


def test_bfs_distances_null_source_dropped(spark):
    from esdb_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    src = spark.createDataFrame([(0,), (None,)], "id long")
    got = {r["id"]: r["dist"]
           for r in bfs_distances(edges, src, max_hops=2).collect()}
    assert got == {0: 0, 1: 1}  # no spurious NULL row


def test_index_guards_survive_column_pruning(spark, grown_corpus):
    # the guards live in FILTERS: a consumer that reads only the
    # counts must still trip them — a projection-embedded raise would
    # be pruned away and let doc_freq double-count silently (review
    # finding)
    from esdb_spark.operators.search import (
        delete_from_inverted_index,
        update_inverted_index,
    )

    old, _, full = grown_corpus
    dup = spark.createDataFrame(
        [(2, "spark again")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="re-ingests"):
        update_inverted_index(build_inverted_index(old), dup).select(
            "token"
        ).collect()
    ghost = spark.createDataFrame(
        [(99, "spark ghost")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="does not match"):
        delete_from_inverted_index(
            build_inverted_index(full), ghost
        ).select("token").collect()


def test_bm25_indexed_bitwise_parity_with_corpus_search(spark, corpus):
    # the serving story's last piece: BM25 from index + lengths table
    # must be BIT-exact with the from-corpus path (same expression,
    # same sorted-term fold)
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        build_doc_lengths,
    )

    idx = build_inverted_index(corpus)
    dl = build_doc_lengths(corpus)
    for terms in (["spark", "tables"], ["spark"], ["data", "shuffle"]):
        served = bm25_search_indexed(idx, dl, terms, k=10).collect()
        direct = bm25_search(corpus, terms, k=10).collect()
        assert [
            (r["doc"], r["n_terms_matched"], r["bm25"]) for r in served
        ] == [
            (r["doc_id"], r["n_terms_matched"], r["bm25"]) for r in direct
        ]


def test_bm25_indexed_truncated_raises(spark, corpus):
    from esdb_spark.operators.search import (
        bm25_search_indexed,
        build_doc_lengths,
        cap_postings,
    )

    capped = cap_postings(build_inverted_index(corpus), 1)
    dl = build_doc_lengths(corpus)
    # without PRE-cap stats, the exact contract holds: capped raises
    with pytest.raises(Exception, match="truncated"):
        bm25_search_indexed(capped, dl, ["spark"]).collect()


def test_bm25_indexed_over_maintained_index(spark, grown_corpus):
    # serving parity holds over an UPDATED index + appended lengths
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        build_doc_lengths,
        update_inverted_index,
    )

    old, new, full = grown_corpus
    idx = update_inverted_index(build_inverted_index(old), new)
    dl = build_doc_lengths(old).unionByName(build_doc_lengths(new))
    served = bm25_search_indexed(idx, dl, ["spark", "sort"], k=10).collect()
    direct = bm25_search(full, ["spark", "sort"], k=10).collect()
    assert [(r["doc"], r["bm25"]) for r in served] == [
        (r["doc_id"], r["bm25"]) for r in direct
    ]


def test_bm25_indexed_lengths_integrity_raises(spark, corpus):
    # a forgotten or doubled lengths append must raise, not silently
    # drop docs / inflate scores (review findings, confirmed silent
    # before the guards)
    from esdb_spark.operators.search import (
        bm25_search_indexed,
        build_doc_lengths,
    )

    idx = build_inverted_index(corpus)
    dl = build_doc_lengths(corpus)
    with pytest.raises(Exception, match="duplicate doc_lengths"):
        bm25_search_indexed(idx, dl.unionByName(dl), ["spark"]).collect()
    missing = dl.filter(F.col("doc") != 2)  # doc 2 matches 'spark'
    with pytest.raises(Exception, match="missing from doc_lengths"):
        bm25_search_indexed(idx, missing, ["spark"]).collect()


def test_doc_lengths_maintenance_equals_rebuild(spark, grown_corpus):
    # append + delete faces compose to the from-scratch build over the
    # survivors — lengths are per-doc facts, so the invariant is exact
    from esdb_spark.operators.search import (
        build_doc_lengths,
        delete_doc_lengths,
        update_doc_lengths,
    )

    old, new, full = grown_corpus
    removed = full.filter(F.col("doc_id").isin(2, 6)).select("doc_id")
    survivors = full.filter(~F.col("doc_id").isin(2, 6))
    maintained = delete_doc_lengths(
        update_doc_lengths(build_doc_lengths(old), new), removed
    )
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, build_doc_lengths(survivors).collect())
    )


def test_update_doc_lengths_reappend_raises(spark, grown_corpus):
    from esdb_spark.operators.search import (
        build_doc_lengths,
        update_doc_lengths,
    )

    old, new, full = grown_corpus
    dl = build_doc_lengths(old)
    with pytest.raises(Exception, match="re-appends"):
        update_doc_lengths(dl, old.limit(1)).collect()
    # guard off: trusted pipelines skip the probe (dup then caught at
    # serve time by bm25_search_indexed's duplicate guard)
    n = update_doc_lengths(dl, old.limit(1), guard_overlap=False).count()
    assert n == old.count() + 1


def test_delete_doc_lengths_ghost_raises_even_when_output_empty(
    spark, grown_corpus
):
    from esdb_spark.operators.search import (
        build_doc_lengths,
        delete_doc_lengths,
    )

    old, new, full = grown_corpus
    dl = build_doc_lengths(full)
    ghost = spark.createDataFrame([(999,)], "doc_id int")
    with pytest.raises(Exception, match="ghost delete"):
        delete_doc_lengths(dl, ghost).collect()
    # the hard case: a delete that empties the table leaves no kept
    # row for a filter-carried guard to evaluate — the union-leg probe
    # must still raise
    everything_plus_ghost = full.select("doc_id").unionByName(ghost)
    with pytest.raises(Exception, match="ghost delete"):
        delete_doc_lengths(dl, everything_plus_ghost).collect()
    # legitimate delete-everything is fine (empty result, no raise)
    assert delete_doc_lengths(dl, full.select("doc_id")).count() == 0


def test_bm25_indexed_bit_exact_over_maintained_state_with_deletes(
    spark, grown_corpus
):
    # THE round-8 contract: maintained index + maintained lengths serve
    # bm25_search_indexed bit-exact vs the from-corpus path across an
    # epoch sequence with appends AND deletes (the close-compacts
    # contract covers ALL serving state, open_stream.go:146-201)
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_indexed,
        build_doc_lengths,
        build_inverted_index,
        delete_doc_lengths,
        delete_from_inverted_index,
        update_doc_lengths,
        update_inverted_index,
    )

    old, new, full = grown_corpus
    removed = full.filter(F.col("doc_id").isin(2, 7))
    survivors = full.filter(~F.col("doc_id").isin(2, 7))
    idx = delete_from_inverted_index(
        update_inverted_index(build_inverted_index(old), new), removed
    )
    dl = delete_doc_lengths(
        update_doc_lengths(build_doc_lengths(old), new),
        removed.select("doc_id"),
    )
    served = bm25_search_indexed(idx, dl, ["spark", "sort"], k=10).collect()
    direct = bm25_search(survivors, ["spark", "sort"], k=10).collect()
    assert served and [(r["doc"], r["bm25"]) for r in served] == [
        (r["doc_id"], r["bm25"]) for r in direct
    ]


@pytest.fixture(scope="module")
def lsm_segments(spark, grown_corpus):
    from esdb_spark.operators.search import build_inverted_index as bii

    old, new, full = grown_corpus
    seg1 = bii(old)
    seg2 = bii(new)
    removed = full.filter(F.col("doc_id").isin(2, 5))
    survivors = full.filter(~F.col("doc_id").isin(2, 5))
    tomb = bii(removed)
    return seg1, seg2, tomb, removed, survivors


def test_compact_segments_with_tombstones_equals_rebuild(
    spark, lsm_segments
):
    from esdb_spark.operators.search import compact_segments

    seg1, seg2, tomb, removed, survivors = lsm_segments
    got = _idx_rows(compact_segments([seg1, seg2], [tomb]))
    want = _idx_rows(build_inverted_index(survivors))
    assert got == want and got


def test_keyword_search_segments_with_tombstones_parity(
    spark, lsm_segments
):
    # THE round-8 contract: serve(segments ∪ tombstones) ==
    # keyword_search(build(survivors)) — deletes answered without
    # compacting first
    from esdb_spark.operators.search import keyword_search_segments

    seg1, seg2, tomb, removed, survivors = lsm_segments
    served = keyword_search_segments(
        [seg1, seg2], ["spark", "tables"], k=10, require_all=False,
        tombstones=[tomb],
    ).collect()
    direct = keyword_search(
        survivors, ["spark", "tables"], k=10, require_all=False
    ).collect()
    assert served and [tuple(r) for r in served] == [
        tuple(r) for r in direct
    ]


def test_segment_tombstone_guards_raise(spark, lsm_segments):
    from esdb_spark.operators.search import (
        build_inverted_index as bii,
        compact_segments,
        keyword_search_segments,
    )

    seg1, seg2, tomb, removed, survivors = lsm_segments
    ghost = bii(
        spark.createDataFrame([(99, "zzqq nonsense")], "doc_id int, text string")
    )
    with pytest.raises(Exception, match="ghost delete"):
        compact_segments([seg1, seg2], [ghost]).collect()
    with pytest.raises(Exception, match="more than one live segment"):
        compact_segments([seg1, seg2, seg1]).collect()
    with pytest.raises(Exception, match="duplicate tombstone"):
        compact_segments([seg1, seg2], [tomb, tomb]).collect()
    # tombstoned with different text: double every token's tf
    mism = bii(
        removed.withColumn(
            "text", F.concat(F.col("text"), F.lit(" "), F.col("text"))
        )
    )
    with pytest.raises(Exception, match="differs from the live entry"):
        compact_segments([seg1, seg2], [mism]).collect()
    with pytest.raises(Exception, match="truncated"):
        compact_segments([_idx_capped(seg1)]).collect()
    # serving face carries the same guards — for corruption the query
    # TOUCHES: the term in-filter runs before the net, so a ghost
    # whose tokens miss the query is invisible by design (serving
    # cost is O(terms), not an integrity sweep; compaction sees all)
    spark_ghost = bii(
        spark.createDataFrame([(99, "spark zzqq")], "doc_id int, text string")
    )
    with pytest.raises(Exception, match="ghost delete"):
        keyword_search_segments([seg1, seg2], ["spark"],
                                tombstones=[spark_ghost]).collect()
    assert (
        keyword_search_segments(
            [seg1, seg2], ["spark"], tombstones=[ghost]
        ).count()
        > 0
    )  # non-intersecting ghost: query unaffected, no raise


def _idx_capped(seg):
    # a truncated row without rebuilding: flip the flag on one token
    return seg.withColumn(
        "truncated", F.col("token") == F.lit("spark")
    )


def test_segment_guards_survive_constraint_propagation(
    spark, lsm_segments
):
    # round-8 Catalyst lesson: a raising guard filter followed by a
    # separate keep filter lets the optimizer constraint-propagate the
    # keep predicate INTO the guard and delete raise arms conditioned
    # on the contradicted column as unreachable (observed: only 1 of 4
    # arms survived in the optimized plan). The fused-CASE shape keeps
    # all arms; this pins the behavior under the pruning-prone count()
    # consumer.
    from esdb_spark.operators.search import compact_segments

    seg1, seg2, tomb, removed, survivors = lsm_segments
    with pytest.raises(Exception, match="duplicate tombstone"):
        compact_segments([seg1, seg2], [tomb, tomb]).count()
    with pytest.raises(Exception, match="ghost delete"):
        compact_segments(
            [seg1.filter(F.col("token") != "spark"), seg2], [tomb]
        ).count()


def _guard_cases(spark, grown):
    """Per guarded face: (bad output, healthy output, key, pattern,
    a frame holding every key of the healthy output). The bad output
    must raise its own message; the healthy one must not raise."""
    from esdb_spark.operators import search as S
    from esdb_spark.operators.similarity import (
        ann_store_append,
        ann_store_delete,
    )
    from esdb_spark.operators.storedfields import (
        build_stored_fields,
        compact_stored_segments,
    )

    old, new, full = grown
    ghost = spark.createDataFrame([(999,)], "doc_id int")
    first = full.filter(F.col("doc_id") == 1)
    pfull = S.build_positional_index(full)
    stored = build_stored_fields(full)
    spell = S.build_spell_index(_vocab(full))
    vecs = spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)]) for i in range(4)],
        "id int, vec array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    store = ann_store_append(None, vecs, cents, "vec", "id",
                             guard_overlap=False)
    fresh = vecs.select((F.col("id") + 10).alias("id"), "vec")
    ids = vecs.select("id").unionByName(fresh.select("id"))

    def tomb(rows, ddl):
        return [spark.createDataFrame(rows, ddl)]

    dl = S.build_doc_lengths(full)
    idx = S.build_inverted_index(full)
    docs = full.select(F.col("doc_id").alias("doc"))
    return {
        "delete_doc_lengths": (
            S.delete_doc_lengths(dl, ghost),
            S.delete_doc_lengths(dl, first),
            "doc", "ghost delete", docs,
        ),
        "delete_from_inverted_index": (
            S.delete_from_inverted_index(
                idx, spark.createDataFrame([(999, "spark")], full.schema)
            ),
            S.delete_from_inverted_index(idx, first),
            "doc", "removed doc does not match indexed rows", docs,
        ),
        "update_positional_index": (
            S.update_positional_index(
                S.build_positional_index(old),
                new.unionByName(new.filter(F.col("doc_id") == 5)),
            ),
            S.update_positional_index(S.build_positional_index(old), new),
            "doc", "duplicate doc id within the delta", docs,
        ),
        "delete_from_positional_index": (
            S.delete_from_positional_index(pfull, ghost),
            S.delete_from_positional_index(pfull, first),
            "doc", "ghost delete", docs,
        ),
        "compact_stored_segments": (
            compact_stored_segments([stored], tomb([(999,)], "doc int")),
            compact_stored_segments([stored], tomb([(1,)], "doc int")),
            "doc", "ghost delete", docs,
        ),
        "compact_spell_segments": (
            S.compact_spell_segments(
                [spell], tomb([("zzz",)], "token string")
            ),
            S.compact_spell_segments(
                [spell], tomb([("spark",)], "token string")
            ),
            "token", "ghost delete", spell.select("token"),
        ),
        "ann_store_delete": (
            ann_store_delete(store, spark.createDataFrame([(99,)], "id int")),
            ann_store_delete(store, spark.createDataFrame([(0,)], "id int")),
            "id", "ghost delete", ids,
        ),
        "ann_store_append": (
            ann_store_append(store, vecs, cents, "vec", "id"),
            ann_store_append(store, fresh, cents, "vec", "id"),
            "id", "re-appends ids already in the store", ids,
        ),
    }


@pytest.mark.parametrize(
    "face",
    [
        "delete_doc_lengths",
        "delete_from_inverted_index",
        "update_positional_index",
        "delete_from_positional_index",
        "compact_stored_segments",
        "compact_spell_segments",
        "ann_store_delete",
        "ann_store_append",
    ],
)
def test_guard_leg_survives_join_and_filter_consumers(
    spark, grown_corpus, face
):
    # a consumer joining or filtering on the key makes Catalyst push
    # isnotnull(key) into every union leg; over NULL-literal columns
    # that folds to false and prunes the raise away. The shared zero-
    # row leg derives its columns from the exploded value, so each
    # face's guard must still raise under both consumers — and stay
    # silent on a healthy input.
    bad, good, key, pattern, other = _guard_cases(spark, grown_corpus)[face]
    with pytest.raises(Exception, match=pattern):
        bad.join(other, key).collect()
    with pytest.raises(Exception, match=pattern):
        bad.filter(F.col(key).isNotNull()).collect()
    n = good.count()
    assert n > 0
    assert good.join(other.distinct(), key).count() == n
    assert good.filter(F.col(key).isNotNull()).count() == n


@pytest.mark.parametrize(
    "face", ["delete_doc_lengths", "ann_store_delete", "delete_stored_fields"]
)
def test_null_removed_id_raises_with_face_name(spark, face):
    # a NULL removed id matches no stored row, so it is a ghost delete;
    # the guard leg renders a NULL message part as "NULL", so the
    # message keeps the face name and the id instead of collapsing to
    # a bare NULL
    from esdb_spark.operators.search import (
        build_doc_lengths,
        delete_doc_lengths,
    )
    from esdb_spark.operators.similarity import (
        ann_store_append,
        ann_store_delete,
    )
    from esdb_spark.operators.storedfields import (
        build_stored_fields,
        delete_stored_fields,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    if face == "ann_store_delete":
        store = ann_store_append(
            None,
            spark.createDataFrame([(1, [1.0, 0.0])], "id int, vec array<double>"),
            [[1.0, 0.0]], "vec", "id", guard_overlap=False,
        )
        out = ann_store_delete(store, spark.createDataFrame([(None,)], "id int"))
    else:
        removed = spark.createDataFrame([(None,)], "doc_id int")
        if face == "delete_doc_lengths":
            out = delete_doc_lengths(build_doc_lengths(docs), removed)
        else:
            out = delete_stored_fields(build_stored_fields(docs), removed)
    with pytest.raises(Exception, match=rf"{face}: removed id matches 0 .*: NULL"):
        out.collect()


def test_update_doc_lengths_intra_delta_duplicate_raises(
    spark, grown_corpus
):
    # review finding: a feed delivering the same insert twice in ONE
    # batch appended two rows (N inflated) with the failure deferred
    # to serve time — now raises at maintenance time
    from esdb_spark.operators.search import (
        build_doc_lengths,
        update_doc_lengths,
    )

    old, new, full = grown_corpus
    dl = build_doc_lengths(old)
    doubled = new.unionByName(new.limit(1))
    with pytest.raises(Exception, match="duplicate doc id within"):
        update_doc_lengths(dl, doubled).collect()


def test_ann_int8_assigned_requires_centroids(spark, grown_corpus):
    from esdb_spark.operators.similarity import ann_topk_int8

    dummy = spark.range(1).select(
        F.col("id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="requires the `centroids`"):
        ann_topk_int8(dummy, dummy, "embedding", "id", assigned=dummy)


def test_bm25_segments_bit_exact_with_corpus_path(spark, lsm_segments):
    # every retrieval face now serves from maintained state: BM25
    # directly over live ∪ tombstone segments + the maintained lengths
    # table equals the from-corpus score bit-for-bit
    from esdb_spark.operators.search import (
        bm25_search,
        bm25_search_segments,
        build_doc_lengths,
        delete_doc_lengths,
    )

    seg1, seg2, tomb, removed, survivors = lsm_segments
    full = survivors.unionByName(removed)
    lengths = delete_doc_lengths(
        build_doc_lengths(full), removed.select("doc_id")
    )
    served = bm25_search_segments(
        [seg1, seg2], lengths, ["spark", "sort"], k=10, tombstones=[tomb]
    ).collect()
    direct = bm25_search(survivors, ["spark", "sort"], k=10).collect()
    assert served and [(r["doc"], r["n_terms_matched"], r["bm25"])
                       for r in served] == [
        (r["doc_id"], r["n_terms_matched"], r["bm25"]) for r in direct
    ]


def test_bm25_segments_lengths_drift_raises(spark, lsm_segments):
    # lengths NOT maintained in lockstep with the tombstones: the
    # tombstoned doc is still in the table (its row shifts N/avgdl),
    # and conversely a tombstoned doc's matching tokens now miss the
    # lengths row — both must raise, not mis-score
    from esdb_spark.operators.search import (
        bm25_search_segments,
        build_doc_lengths,
    )

    seg1, seg2, tomb, removed, survivors = lsm_segments
    full = survivors.unionByName(removed)
    stale = build_doc_lengths(full)  # forgot the delete face
    # stale lengths do NOT raise by themselves (every matched doc has
    # a row) — that drift is N/avgdl skew, the documented lockstep
    # contract; but a MISSING row for a matched doc does raise
    missing = build_doc_lengths(survivors.filter(F.col("doc_id") != 1))
    with pytest.raises(Exception, match="missing from doc_lengths"):
        bm25_search_segments(
            [seg1, seg2], missing, ["spark"], tombstones=[tomb]
        ).collect()
    with pytest.raises(Exception, match="duplicate doc_lengths"):
        bm25_search_segments(
            [seg1, seg2], stale.unionByName(stale), ["spark"],
            tombstones=[tomb],
        ).collect()


def test_phrase_search_indexed_parity_and_overlap(spark, corpus):
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_indexed,
    )

    idx = build_positional_index(corpus)
    for ph in ["spark spark", "tables of data", "spark tables"]:
        a = sorted(
            tuple(r) for r in phrase_search_indexed(idx, ph).collect()
        )
        b = sorted(
            tuple(r) for r in phrase_search(corpus, ph).collect()
        )
        assert a == b, ph
    ov = spark.createDataFrame(
        [(9, "a a a")], "doc_id int, text string"
    )
    r = phrase_search_indexed(
        build_positional_index(ov), "a a"
    ).collect()[0]
    assert (r["doc"], r["n_occurrences"], r["first_pos"]) == (9, 2, 0)
    with pytest.raises(ValueError):
        phrase_search_indexed(idx, "   ")


def test_phrase_search_indexed_over_segment_union(spark, grown_corpus):
    # docs are disjoint across segments, so a union of positional
    # segments serves phrases exactly — the LSM economics carry over
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_indexed,
    )

    old, new, full = grown_corpus
    u = build_positional_index(old).unionByName(
        build_positional_index(new)
    )
    a = sorted(tuple(r) for r in phrase_search_indexed(u, "spark sort").collect())
    b = sorted(tuple(r) for r in phrase_search(full, "spark sort").collect())
    assert a == b and a


def test_positional_index_flat_layout_and_stats(spark, corpus):
    # the round-8 judge finding: the index is FLAT — one row per
    # (token, doc), largest row bounded by one document's length, no
    # per-token collect_list megarow; stats live in a separate face
    from esdb_spark.operators.search import (
        build_positional_index,
        positional_index_stats,
    )

    idx = build_positional_index(corpus)
    assert idx.columns == ["token", "doc", "positions"]
    rows = {(r["token"], r["doc"]): r["positions"] for r in idx.collect()}
    assert len(rows) == len(set(rows))  # unique per (token, doc)
    assert rows[("spark", 2)] == [0, 1]
    assert rows[("tables", 3)] == [0, 2]
    assert all(p == sorted(p) for p in rows.values())
    st = {r["token"]: r for r in positional_index_stats(idx).collect()}
    assert (st["spark"]["doc_freq"], st["spark"]["term_freq"]) == (3, 4)
    assert (st["tables"]["doc_freq"], st["tables"]["term_freq"]) == (3, 4)


def test_phrase_search_segments_serves_deletes(spark, grown_corpus):
    # serve(segments ∪ doc-id tombstones) == phrase_search(survivors)
    # — deletes visible with no compaction, tombstone = ids only
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_segments,
    )

    old, new, full = grown_corpus
    seg1, seg2 = build_positional_index(old), build_positional_index(new)
    tomb = spark.createDataFrame([(2,), (7,)], "doc int")
    survivors = full.filter(~F.col("doc_id").isin([2, 7]))
    for ph in ["spark sort", "tables", "sort merge join"]:
        a = sorted(
            tuple(r)
            for r in phrase_search_segments(
                [seg1, seg2], ph, tombstones=[tomb]
            ).collect()
        )
        b = sorted(
            tuple(r) for r in phrase_search(survivors, ph).collect()
        )
        assert a == b, ph
    # k caps in doc-ascending order, and no-tombstone serving works
    top = phrase_search_segments([seg1, seg2], "tables", k=1).collect()
    assert [r["doc"] for r in top] == [1]  # docs ascending, capped
    with pytest.raises(ValueError):
        phrase_search_segments([seg1, seg2], "  ")
    with pytest.raises(ValueError, match="no segments"):
        phrase_search_segments([], "spark")


def test_phrase_search_segments_guards(spark, grown_corpus):
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_segments,
    )

    old, new, _ = grown_corpus
    seg1, seg2 = build_positional_index(old), build_positional_index(new)
    # re-append without compaction: doc 1 lives in two segments and
    # the query touches its tokens
    with pytest.raises(Exception, match="more than one live segment"):
        phrase_search_segments([seg1, seg2, seg1], "spark joins").collect()
    # duplicate tombstone on a doc the query touches
    t2 = spark.createDataFrame([(3,), (3,)], "doc int")
    with pytest.raises(Exception, match="duplicate tombstone"):
        phrase_search_segments(
            [seg1, seg2], "tables of data", tombstones=[t2]
        ).collect()
    # NULL tombstone id raises regardless of what the query touches —
    # equality-keyed netting could never match it again
    tn = spark.createDataFrame([(None,)], "doc int")
    with pytest.raises(Exception, match="NULL doc id in a tombstone"):
        phrase_search_segments(
            [seg1, seg2], "spark sort", tombstones=[tn]
        ).collect()
    # a GHOST tombstone is structurally invisible at serve time (the
    # term filter runs first) — compaction is the integrity sweep
    tg = spark.createDataFrame([(99,)], "doc int")
    r = phrase_search_segments(
        [seg1, seg2], "spark sort", tombstones=[tg]
    ).collect()
    assert [x["doc"] for x in r] == [5]


def test_compact_positional_segments_exact(spark, grown_corpus):
    from esdb_spark.operators.search import (
        build_positional_index,
        compact_positional_segments,
    )

    old, new, full = grown_corpus
    seg1, seg2 = build_positional_index(old), build_positional_index(new)
    tomb = spark.createDataFrame([(2,), (7,)], "doc int")
    survivors = full.filter(~F.col("doc_id").isin([2, 7]))
    a = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in compact_positional_segments(
            [seg1, seg2], tombstones=[tomb]
        ).collect()
    )
    b = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in build_positional_index(survivors).collect()
    )
    assert a == b and a
    # compaction sees every doc: the ghost delete raises HERE
    tg = spark.createDataFrame([(99,)], "doc int")
    with pytest.raises(Exception, match="ghost delete"):
        compact_positional_segments([seg1, seg2], tombstones=[tg]).collect()
    # and a compacted index serves phrases like any other flat index
    from esdb_spark.operators.search import phrase_search_indexed

    c = compact_positional_segments([seg1, seg2], tombstones=[tomb])
    got = sorted(
        tuple(r) for r in phrase_search_indexed(c, "spark sort").collect()
    )
    want = sorted(
        tuple(r) for r in phrase_search(survivors, "spark sort").collect()
    )
    assert got == want


def test_delete_doc_lengths_ghost_and_dup_cannot_cancel(spark):
    # r8 ADVICE: the old guard compared batch TOTALS (matched ==
    # removed), so a ghost delete plus a duplicated state row for
    # another removed id summed to equality and both corruptions
    # passed. The per-id guard must raise on this exact batch.
    from esdb_spark.operators.search import delete_doc_lengths

    dl = spark.createDataFrame(
        [(1, 3.0), (2, 4.0), (2, 4.0), (3, 5.0)], "doc int, dl double"
    )  # doc 2 duplicated (corrupt state)
    rm = spark.createDataFrame([(2,), (999,)], "doc_id int")
    # matched = 2 (two doc-2 rows), removed = 2 → totals cancel
    with pytest.raises(Exception, match="ghost delete|duplicate state"):
        delete_doc_lengths(dl, rm).collect()
    # each corruption alone still raises with its count in the message
    with pytest.raises(Exception, match="removed id matches 0"):
        delete_doc_lengths(dl, spark.createDataFrame(
            [(999,)], "doc_id int")).collect()
    with pytest.raises(Exception, match="removed id matches 2"):
        delete_doc_lengths(dl, spark.createDataFrame(
            [(2,)], "doc_id int")).collect()


def test_update_positional_index_equals_rebuild(spark, grown_corpus):
    # flat layout: append face is a pure union — update == rebuild
    from esdb_spark.operators.search import (
        build_positional_index,
        phrase_search_indexed,
        update_positional_index,
    )

    old, new, full = grown_corpus
    updated = update_positional_index(build_positional_index(old), new)
    want = build_positional_index(full)
    a = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in updated.collect()
    )
    b = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in want.collect()
    )
    assert a == b and a
    # and it serves phrases like a fresh build
    g = sorted(
        tuple(r) for r in phrase_search_indexed(updated, "spark sort").collect()
    )
    w = sorted(
        tuple(r) for r in phrase_search(full, "spark sort").collect()
    )
    assert g == w
    # DOC-LEVEL re-append guard: a re-appended doc with token-DISJOINT
    # text must still raise (the (token, doc) guard cannot see it and
    # phrases would serve from both versions)
    disjoint = spark.createDataFrame(
        [(1, "zzz qqq www")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="re-appends a doc"):
        update_positional_index(
            build_positional_index(old), disjoint
        ).collect()


def test_delete_from_positional_index_equals_rebuild(spark, grown_corpus):
    from esdb_spark.operators.search import (
        build_positional_index,
        delete_from_positional_index,
    )

    old, new, full = grown_corpus
    idx = build_positional_index(full)
    rm = spark.createDataFrame([(2,), (7,), (7,)], "doc_id int")  # dup ok
    survivors = full.filter(~F.col("doc_id").isin([2, 7]))
    got = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in delete_from_positional_index(idx, rm).collect()
    )
    want = sorted(
        (r["token"], r["doc"], tuple(r["positions"]))
        for r in build_positional_index(survivors).collect()
    )
    assert got == want and got
    # merged-face delete sees every doc: ghost raises
    ghost = spark.createDataFrame([(999,)], "doc_id int")
    with pytest.raises(Exception, match="ghost delete"):
        delete_from_positional_index(idx, ghost).collect()


def test_positional_net_empty_tombstone_frame_deletes_nothing(
    spark, grown_corpus
):
    # an empty tombstone frame is a legal no-op delete: the NULL-id
    # count over it must read 0, not NULL (a NULL count took the raise
    # arm with a NULL message)
    from esdb_spark.operators.search import (
        build_positional_index,
        delete_from_positional_index,
        phrase_search_segments,
    )

    _, _, full = grown_corpus
    idx = build_positional_index(full)
    empty = spark.createDataFrame([], "doc_id int")
    assert delete_from_positional_index(idx, empty).count() == idx.count()
    tomb = [empty.select(F.col("doc_id").alias("doc"))]
    assert sorted(
        r["doc"]
        for r in phrase_search_segments([idx], "tables", tombstones=tomb)
        .collect()
    ) == [1, 3, 7]


def test_update_positional_index_delta_guards(spark, grown_corpus):
    # third-review: a duplicated doc in one delta would silently merge
    # both versions' positions into one (token, doc) row; NULL ids can
    # never be matched again by equality-keyed faces
    from esdb_spark.operators.search import (
        build_positional_index,
        update_positional_index,
    )

    old, new, _ = grown_corpus
    idx = build_positional_index(old)
    dup = spark.createDataFrame(
        [(20, "fast table"), (20, "slow table")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="duplicate doc id within"):
        update_positional_index(idx, dup).collect()
    nulled = spark.createDataFrame(
        [(None, "fast table")], "doc_id int, text string"
    )
    with pytest.raises(Exception, match="NULL doc id in the delta"):
        update_positional_index(idx, nulled).collect()


def test_compact_positional_doc_level_audit(spark):
    # a doc re-inserted with token-DISJOINT text is invisible to the
    # (token, doc) guard — the compaction audit must still raise (and
    # even with no tombstones in play)
    from esdb_spark.operators.search import (
        build_positional_index,
        compact_positional_segments,
        phrase_search_segments,
    )

    seg1 = build_positional_index(spark.createDataFrame(
        [(7, "alpha beta"), (8, "keep me")], "doc_id int, text string"
    ))
    seg2 = build_positional_index(spark.createDataFrame(
        [(7, "gamma delta")], "doc_id int, text string"
    ))
    with pytest.raises(Exception, match="more than one live segment"):
        compact_positional_segments([seg1, seg2]).collect()
    # the serve face stays O(terms): a query touching only the new
    # version's tokens cannot see the corruption (by design — the
    # audit faces own it; auto-compaction surfaces it on cadence)
    r = phrase_search_segments([seg1, seg2], "gamma delta").collect()
    assert [x["doc"] for x in r] == [7]


def test_proximity_search_model(spark, corpus):
    # NEAR semantics vs a definitional model: pairs within max_dist,
    # unordered-distinct when both words are the same
    from esdb_spark.operators.search import (
        build_positional_index,
        proximity_search,
    )

    idx = build_positional_index(corpus)
    texts = {r["doc_id"]: r["text"].lower().split() for r in corpus.collect()}

    def model(w1, w2, d):
        out = []
        for doc in sorted(texts):
            toks = texts[doc]
            p1 = [i for i, t in enumerate(toks) if t == w1]
            p2 = [i for i, t in enumerate(toks) if t == w2]
            if w1 == w2:
                prs = [(a, b) for a in p1 for b in p2
                       if a < b and b - a <= d]
            else:
                prs = [(a, b) for a in p1 for b in p2 if abs(a - b) <= d]
            if prs:
                out.append(
                    (doc, len(prs), min(abs(a - b) for a, b in prs))
                )
        return out

    for w1, w2, d in [
        ("spark", "tables", 2), ("spark", "tables", 1),
        ("spark", "spark", 3), ("tables", "data", 5),
        ("spark", "zzz", 4),
    ]:
        got = [tuple(r) for r in proximity_search(idx, w1, w2, d).collect()]
        assert got == model(w1, w2, d), (w1, w2, d, got)
    # k caps in doc order; bad args raise
    top = proximity_search(idx, "spark", "tables", 3, k=1).collect()
    assert len(top) == 1 and top[0]["doc"] == 1
    with pytest.raises(ValueError):
        proximity_search(idx, "spark", "tables", 0)
    with pytest.raises(ValueError):
        proximity_search(idx, " ", "tables", 2)


def test_proximity_search_segments_serves_deletes(spark, grown_corpus):
    # NEAR from maintained state: serve(segments ∪ doc-id tombstones)
    # == proximity over the survivors
    from esdb_spark.operators.search import (
        build_positional_index,
        proximity_search,
        proximity_search_segments,
    )

    old, new, full = grown_corpus
    seg1, seg2 = build_positional_index(old), build_positional_index(new)
    tomb = spark.createDataFrame([(2,), (7,)], "doc int")
    survivors = full.filter(~F.col("doc_id").isin([2, 7]))
    for w1, w2, d in [("spark", "tables", 3), ("spark", "sort", 2),
                      ("sort", "sort", 4)]:
        got = [
            tuple(r)
            for r in proximity_search_segments(
                [seg1, seg2], w1, w2, d, tombstones=[tomb]
            ).collect()
        ]
        want = [
            tuple(r)
            for r in proximity_search(
                build_positional_index(survivors), w1, w2, d
            ).collect()
        ]
        assert got == want, (w1, w2, d)
    with pytest.raises(ValueError):
        proximity_search_segments([seg1], "", "x", 2)


# ---------------------------------------------------------------------------
# boolean query language (r9): AND/OR/NOT/parens over the three faces


@pytest.fixture(scope="module")
def bool_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins tables fast"),
            (2, "python shuffle tables"),
            (3, "spark tables python"),
            (4, "shuffle tables merge"),
            (5, "spark alone"),
            (6, "tables only here"),
        ],
        "doc_id int, text string",
    )


def test_parse_boolean_query_shapes():
    from esdb_spark.operators.search import parse_boolean_query as p

    assert p("a") == ("term", "a")
    assert p("a AND b") == ("and", [("term", "a"), ("term", "b")])
    assert p("a b") == p("a AND b")  # adjacency = implicit AND
    # OR binds loosest: a AND b OR c == (a AND b) OR c
    assert p("a b OR c") == (
        "or", [("and", [("term", "a"), ("term", "b")]), ("term", "c")]
    )
    assert p("NOT a AND b") == (
        "and", [("not", ("term", "a")), ("term", "b")]
    )
    assert p("a AND (b OR c)")[1][1][0] == "or"
    # operator words are not queryable terms — a lone one is an error
    for bad in ["", "(a OR b", "a )", "a AND", "NOT", "a OR OR b", "And"]:
        with pytest.raises(ValueError):
            p(bad)


def test_boolean_search_semantics_and_model(spark, bool_corpus):
    # cross-check against a pure-Python evaluation over token sets
    from esdb_spark.operators.search import boolean_search

    rows = [(r["doc_id"], set(r["text"].lower().split()))
            for r in bool_corpus.collect()]

    def model(pred):
        return sorted(d for d, toks in rows if pred(toks))

    cases = [
        ("(spark OR shuffle) AND tables AND NOT python",
         lambda t: (("spark" in t) or ("shuffle" in t))
         and ("tables" in t) and ("python" not in t)),
        ("tables AND NOT (python OR merge)",
         lambda t: "tables" in t and not ("python" in t or "merge" in t)),
        ("spark tables", lambda t: "spark" in t and "tables" in t),
        ("spark OR merge", lambda t: "spark" in t or "merge" in t),
        ("NOT NOT spark", lambda t: "spark" in t),
    ]
    for q, pred in cases:
        got = [r["doc"] for r in boolean_search(bool_corpus, q).collect()]
        assert got == model(pred), (q, got, model(pred))
    # n_terms_matched counts distinct query literals present
    out = {r["doc"]: r["n_terms_matched"] for r in boolean_search(
        bool_corpus, "(spark OR shuffle) AND tables AND NOT python"
    ).collect()}
    assert out == {1: 2, 4: 2}
    # k caps in doc-ascending order
    capped = [r["doc"] for r in boolean_search(
        bool_corpus, "tables", k=2
    ).collect()]
    assert capped == [1, 2]


def test_boolean_search_purely_negative_raises(spark, bool_corpus):
    from esdb_spark.operators.search import boolean_search

    for q in ["NOT python", "a OR NOT b", "NOT (a AND b)"]:
        with pytest.raises(ValueError, match="purely-negative"):
            boolean_search(bool_corpus, q)


def test_boolean_search_indexed_parity_and_truncation(spark, bool_corpus):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        build_inverted_index,
    )

    q = "(spark OR shuffle) AND tables AND NOT python"
    idx = build_inverted_index(bool_corpus)
    want = [tuple(r) for r in boolean_search(bool_corpus, q).collect()]
    got = [tuple(r) for r in boolean_search_indexed(idx, q).collect()]
    assert got == want and got
    # a capped index LOSES docs — boolean answers must refuse it
    from esdb_spark.operators.search import cap_postings

    capped = cap_postings(idx, 1)
    with pytest.raises(Exception, match="truncated"):
        boolean_search_indexed(capped, q).collect()


def test_boolean_search_segments_serves_deletes(spark, bool_corpus):
    # serve(segments ∪ tombstones) == boolean_search(survivors)
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_segments,
        build_inverted_index,
    )

    q = "(spark OR shuffle) AND tables AND NOT python"
    segs = [
        build_inverted_index(bool_corpus.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    tomb = [build_inverted_index(bool_corpus.filter("doc_id = 4"))]
    survivors = bool_corpus.filter("doc_id != 4")
    got = [tuple(r) for r in boolean_search_segments(
        segs, q, tombstones=tomb
    ).collect()]
    want = [tuple(r) for r in boolean_search(survivors, q).collect()]
    assert got == want and got


def test_parse_boolean_query_phrases():
    from esdb_spark.operators.search import parse_boolean_query as p

    assert p('"fast table"') == ("phrase", ("fast", "table"))
    assert p('"spark"') == ("term", "spark")  # one-word quote = term
    assert p('a AND "b c" OR d') == (
        "or",
        [("and", [("term", "a"), ("phrase", ("b", "c"))]), ("term", "d")],
    )
    for bad in ['""', '"a', 'a"']:
        with pytest.raises(ValueError):
            p(bad)


@pytest.fixture(scope="module")
def phrase_bool_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark joins fast table now"),
            (2, "python shuffle tables fast"),
            (3, "spark table fast python"),
            (4, "the fast table merge"),
            (5, "spark alone"),
            (6, "fast table fast table"),
        ],
        "doc_id int, text string",
    )


def test_boolean_search_phrase_operands_model(spark, phrase_bool_corpus):
    # quoted operands match as consecutive-token phrases; cross-check
    # against a pure-Python model over token lists
    from esdb_spark.operators.search import boolean_search

    rows = [(r["doc_id"], r["text"].lower().split())
            for r in phrase_bool_corpus.collect()]

    def has_phrase(toks, words):
        n = len(words)
        return any(
            toks[i:i + n] == list(words) for i in range(len(toks) - n + 1)
        )

    cases = [
        ('(spark OR "fast table") AND NOT python',
         lambda t: ("spark" in t or has_phrase(t, ("fast", "table")))
         and "python" not in t),
        ('"fast table" AND merge',
         lambda t: has_phrase(t, ("fast", "table")) and "merge" in t),
        ('fast AND "fast table fast"',  # duplicate phrase word + overlap
         lambda t: "fast" in t and has_phrase(t, ("fast", "table", "fast"))),
    ]
    for q, pred in cases:
        got = [r["doc"] for r in boolean_search(phrase_bool_corpus, q).collect()]
        want = sorted(d for d, toks in rows if pred(toks))
        assert got == want, (q, got, want)


def test_boolean_positional_faces_parity_and_deletes(
    spark, phrase_bool_corpus
):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_positional,
        boolean_search_positional_segments,
        build_positional_index,
    )

    q = '(spark OR "fast table") AND NOT python'
    want = [tuple(r) for r in boolean_search(phrase_bool_corpus, q).collect()]
    pidx = build_positional_index(phrase_bool_corpus)
    got = [tuple(r) for r in boolean_search_positional(pidx, q).collect()]
    assert got == want and got
    segs = [
        build_positional_index(phrase_bool_corpus.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    tomb = [spark.createDataFrame([(4,)], "doc int")]
    survivors = phrase_bool_corpus.filter("doc_id != 4")
    gs = [tuple(r) for r in boolean_search_positional_segments(
        segs, q, tombstones=tomb
    ).collect()]
    ws = [tuple(r) for r in boolean_search(survivors, q).collect()]
    assert gs == ws and gs


def test_boolean_index_faces_reject_phrases(spark, phrase_bool_corpus):
    from esdb_spark.operators.search import (
        boolean_search_indexed,
        boolean_search_segments,
        build_inverted_index,
    )

    idx = build_inverted_index(phrase_bool_corpus)
    with pytest.raises(ValueError, match="positional"):
        boolean_search_indexed(idx, 'a AND "b c"')
    with pytest.raises(ValueError, match="positional"):
        boolean_search_segments([idx], 'a AND "b c"')


def test_snippet_extract_windows_and_cap(spark):
    from esdb_spark.operators.search import snippet_extract

    docs = spark.createDataFrame(
        [
            (1, "alpha beta spark gamma delta epsilon"),
            (2, "spark at start and spark again later spark third spark x"),
            (3, "no match here"),
            (4, "tail word spark"),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    out = [tuple(r) for r in snippet_extract(docs, ["spark"], window=2).collect()]
    assert (1, 2, "alpha beta spark gamma delta") in out
    # start/end clipping
    assert (2, 0, "spark at start") in out
    assert (4, 2, "tail word spark") in out
    # cap keeps the EARLIEST hits (deterministic), 3 by default
    d2 = [r for r in out if r[0] == 2]
    assert [r[1] for r in d2] == [0, 4, 7]
    # non-matching and empty docs never appear
    assert all(r[0] in (1, 2, 4) for r in out)
    # total order (doc, pos)
    assert out == sorted(out, key=lambda r: (r[0], r[1]))
    with pytest.raises(ValueError):
        snippet_extract(docs, ["spark"], window=-1)
    with pytest.raises(ValueError):
        snippet_extract(docs, ["spark"], max_snippets_per_doc=0)


def test_faceted_counts_matches_model(spark):
    from esdb_spark.operators.search import faceted_counts

    docs = spark.createDataFrame(
        [
            (1, "spark data here", "en", "a"),
            (2, "spark data there", "en", "b"),
            (3, "spark only", "de", "a"),
            (4, "spark data again", None, "b"),
        ],
        "doc_id int, text string, lang string, source string",
    )
    got = [tuple(r) for r in faceted_counts(
        docs, "spark AND data", ["lang", "source"]
    ).collect()]
    assert got == [
        ("lang", "en", 2), ("lang", "NULL", 1),
        ("source", "b", 2), ("source", "a", 1),
    ], got
    with pytest.raises(ValueError):
        faceted_counts(docs, "spark", [])


def test_parse_boolean_query_near():
    from esdb_spark.operators.search import parse_boolean_query as p

    assert p("a NEAR/3 b") == ("near", ("a", "b", 3))
    assert p("a near/3 b AND c") == (
        "and", [("near", ("a", "b", 3)), ("term", "c")]
    )
    # NEAR binds tighter than AND/OR, operands must be single terms,
    # distances start at 1, no chaining, no dangling operator
    for bad in ['"a b" NEAR/2 c', "a NEAR/2 (b OR c)", "a NEAR/0 b",
                "NEAR/2 a", "a NEAR/2", "a NEAR/2 b NEAR/3 c"]:
        with pytest.raises(ValueError):
            p(bad)


def test_boolean_near_semantics_and_faces(spark):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        boolean_search_positional_segments,
        build_inverted_index,
        build_positional_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast car then much later a table appears"),  # dist 6
            (2, "fast table now"),                            # dist 1
            (3, "table and fast here python"),                # dist 2
            (4, "spark alone"),
            (5, "fast alone"),
        ],
        "doc_id int, text string",
    )
    q = "fast NEAR/3 table AND NOT python"
    assert [r["doc"] for r in boolean_search(docs, q).collect()] == [2]
    # NEAR is unordered (|pa - pb| <= d), composes under OR
    q2 = "(fast NEAR/6 table) OR spark"
    assert [r["doc"] for r in boolean_search(docs, q2).collect()] == [
        1, 2, 3, 4,
    ]
    pidx = build_positional_index(docs)
    assert [tuple(r) for r in boolean_search_positional(pidx, q).collect()] \
        == [tuple(r) for r in boolean_search(docs, q).collect()]
    segs = [
        build_positional_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    tomb = [spark.createDataFrame([(2,)], "doc int")]
    survivors = docs.filter("doc_id != 2")
    gs = [tuple(r) for r in boolean_search_positional_segments(
        segs, q2, tombstones=tomb
    ).collect()]
    ws = [tuple(r) for r in boolean_search(survivors, q2).collect()]
    assert gs == ws and gs
    # the boolean index stores no positions
    with pytest.raises(ValueError, match="positional"):
        boolean_search_indexed(build_inverted_index(docs), q)


def test_suggest_terms_exact_vs_bruteforce(spark):
    # the symmetric-delete index changes COST, never the answer: the
    # indexed path must equal a brute-force levenshtein scan exactly
    from esdb_spark.operators.search import (
        build_spell_index,
        suggest_terms,
        suggest_terms_indexed,
    )
    from esdb_spark.functions import tokens

    docs = spark.createDataFrame(
        [
            (1, "merge sort merge join merge"),
            (2, "marge simpson"),
            (3, "merg e mergee"),
            (4, "unrelated words"),
            (5, "serge and verge"),
        ],
        "doc_id int, text string",
    )
    ex = docs.select(F.explode(tokens("text")).alias("token"))
    vocab = ex.groupBy("token").agg(
        F.count("*").cast("long").alias("term_freq")
    )
    for term, d in [("mrege", 2), ("merg", 1), ("MERGE", 2)]:
        got = [tuple(r) for r in suggest_terms(
            docs, term, max_dist=d, k=10
        ).collect()]
        brute = [tuple(r) for r in vocab.withColumn(
            "dist",
            F.levenshtein("token", F.lit(term.lower())).cast("long"),
        ).filter(f"dist <= {d}").orderBy(
            "dist", F.desc("term_freq"), "token"
        ).limit(10).collect()]
        assert got == brute, (term, got, brute)
    # ranking: closer beats more frequent ('merge' freq 3 at dist 2
    # vs 'merg' freq 1 at dist 1 for query 'merg')
    top = suggest_terms(docs, "merg", max_dist=2, k=1).collect()[0]
    assert top["token"] == "merg" and top["dist"] == 0
    # prebuilt-index reuse + normalization
    idx = build_spell_index(vocab)
    a = [tuple(r) for r in suggest_terms_indexed(idx, " MrEgE ").collect()]
    b = [tuple(r) for r in suggest_terms_indexed(idx, "mrege").collect()]
    assert a == b and a
    with pytest.raises(ValueError):
        suggest_terms_indexed(idx, "two words")
    with pytest.raises(ValueError):
        suggest_terms_indexed(idx, "x", max_dist=3)
    with pytest.raises(ValueError):
        build_spell_index(vocab, max_dist=0)


def test_complete_prefix_and_guards(spark):
    from esdb_spark.operators.search import complete_prefix

    vocab = spark.createDataFrame(
        [("table", 10), ("tables", 4), ("tab", 4), ("token", 9),
         ("zebra", 99)],
        "token string, term_freq long",
    )
    got = [tuple(r) for r in complete_prefix(vocab, "ta", k=10).collect()]
    # freq desc, token asc on ties
    assert got == [("table", 10), ("tab", 4), ("tables", 4)], got
    assert complete_prefix(vocab, "TA ", k=1).collect()[0]["token"] == "table"
    assert complete_prefix(vocab, "zz").count() == 0
    with pytest.raises(ValueError):
        complete_prefix(vocab, "  ")


def test_more_like_this_rarest_terms_overlap(spark):
    from esdb_spark.operators.search import more_like_this

    docs = spark.createDataFrame(
        [
            (1, "rare1 rare2 common zebra"),
            (2, "rare1 rare2 common"),
            (3, "rare1 common"),
            (4, "common only here"),
            (5, "zebra rare2"),
        ],
        "doc_id int, text string",
    )
    # doc1's rarest 3 terms = {zebra(df2), rare1(df3), rare2(df3)} —
    # 'common'(df4) never enters the query, so doc4 cannot match
    got = [tuple(r) for r in more_like_this(
        docs, 1, k=5, max_query_terms=3
    ).collect()]
    assert got == [(2, 2), (5, 2), (3, 1)], got
    # unknown / token-less source → empty frame, never an error
    assert more_like_this(docs, 999).count() == 0
    empty = spark.createDataFrame(
        [(7, "")], "doc_id int, text string"
    )
    assert more_like_this(docs.unionByName(empty), 7).count() == 0
    with pytest.raises(ValueError):
        more_like_this(docs, 1, max_query_terms=0)


def test_boolean_wildcard_all_faces(spark):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        boolean_search_positional_segments,
        boolean_search_segments,
        build_inverted_index,
        build_positional_index,
        parse_boolean_query,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark sparkle sprint data"),
            (2, "sparse data merge"),
            (3, "spun data"),
            (4, "spark only"),
            (5, "data alone"),
        ],
        "doc_id int, text string",
    )
    q = "spar* AND data AND NOT merge"
    want = [tuple(r) for r in boolean_search(docs, q).collect()]
    assert want == [(1, 2)]  # one marker per wildcard, however many hits
    assert [tuple(r) for r in boolean_search_indexed(
        build_inverted_index(docs), q
    ).collect()] == want
    bsegs = [
        build_inverted_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    assert [tuple(r) for r in boolean_search_segments(
        bsegs, q
    ).collect()] == want
    pidx = build_positional_index(docs)
    assert [tuple(r) for r in boolean_search_positional(
        pidx, q
    ).collect()] == want
    psegs = [
        build_positional_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    tomb = [spark.createDataFrame([(1,)], "doc int")]
    survivors = docs.filter("doc_id != 1")
    gs = [tuple(r) for r in boolean_search_positional_segments(
        psegs, "spar* AND data", tombstones=tomb
    ).collect()]
    ws = [tuple(r) for r in boolean_search(survivors, "spar* AND data").collect()]
    assert gs == ws and gs
    # wildcards compose with phrases and NEAR
    q2 = 'spar* OR "data merge" OR (spun NEAR/2 data)'
    assert [r["doc"] for r in boolean_search(docs, q2).collect()] == \
        [r["doc"] for r in boolean_search_positional(pidx, q2).collect()] \
        == [1, 2, 3, 4]
    # parser: star only trailing, only unquoted; quoted star = literal
    assert parse_boolean_query('"spar*"') == ("term", "spar*")
    for bad in ["*", "sp*rk", "**", "a*b"]:
        with pytest.raises(ValueError):
            parse_boolean_query(bad)


def test_boolean_field_operands(spark):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        build_inverted_index,
        build_positional_index,
        parse_boolean_query,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark data here", "en", "a"),
            (2, "spark data there", "EN", "b"),   # value compare is ci
            (3, "spark merge", "de", "a"),
            (4, "no hits", "en", "b"),
            (5, "spark data", None, "b"),          # NULL stays unflagged
        ],
        "doc_id int, text string, lang string, source string",
    )
    assert parse_boolean_query("lang:en AND x") == (
        "and", [("field", ("lang", "en")), ("term", "x")]
    )
    got = [tuple(r) for r in boolean_search(
        docs, "lang:en AND spark AND NOT merge"
    ).collect()]
    assert got == [(1, 2), (2, 2)], got
    # field-only and field-OR-text queries
    assert [r["doc"] for r in boolean_search(docs, "lang:en").collect()] \
        == [1, 2, 4]
    assert [r["doc"] for r in boolean_search(
        docs, "source:a OR merge"
    ).collect()] == [1, 3]
    # composes with wildcards and phrases
    assert [r["doc"] for r in boolean_search(
        docs, 'lang:en AND (spar* OR "no hits")'
    ).collect()] == [1, 2, 4]
    # guards: unknown field; non-corpus faces; purely-negative; parse
    with pytest.raises(ValueError, match="names no column"):
        boolean_search(docs, "bogus:x AND spark")
    with pytest.raises(ValueError, match="corpus"):
        boolean_search_indexed(build_inverted_index(docs), "lang:en AND x")
    with pytest.raises(ValueError, match="corpus"):
        boolean_search_positional(
            build_positional_index(docs), "lang:en AND x"
        )
    with pytest.raises(ValueError, match="purely-negative"):
        boolean_search(docs, "NOT lang:en")
    with pytest.raises(ValueError):
        parse_boolean_query("lang: AND x")  # empty value
    # quoted colon stays a literal term
    assert parse_boolean_query('"lang:en"') == ("term", "lang:en")


def test_search_page_ranking_and_snippets(spark):
    from esdb_spark.operators.search import search_page

    docs = spark.createDataFrame(
        [
            (1, "aaa bbb spark ccc ddd", "en"),
            (2, "spark spark data xxx", "en"),
            (3, "no match here", "de"),
            (4, "data then spark", "en"),
            (5, "data only doc", "en"),
        ],
        "doc_id int, text string, lang string",
    )
    out = [tuple(r) for r in search_page(
        docs, "spark OR data", k=3, window=1
    ).collect()]
    # rank by (operands matched desc, doc asc); k caps; snippet is the
    # ±window tokens around the FIRST hit of any query word
    assert [r[:3] for r in out] == [(1, 2, 2), (2, 4, 2), (3, 1, 1)]
    assert out[2][3] == 2 and out[2][4] == "bbb spark ccc"
    assert out[1][4] == "data then"  # end-clipped window
    # field-only queries fall back to the leading snippet
    fo = [tuple(r) for r in search_page(
        docs, "lang:de", k=2, window=2
    ).collect()]
    assert fo == [(1, 3, 1, 0, "no match here")]
    with pytest.raises(ValueError):
        search_page(docs, "spark", window=-1)


def test_review_fixes_field_case_facet_doc_and_snippet_guard(spark):
    # review findings: (a) uppercase metadata columns are field-
    # queryable (case-insensitive resolution, like Spark's own);
    # (b) a facet column named 'doc' doesn't collide with the join
    # key; (c) a multi-word snippet term raises instead of silently
    # returning empty
    from esdb_spark.operators.search import (
        boolean_search,
        faceted_counts,
        snippet_extract,
    )

    docs = spark.createDataFrame(
        [(1, "spark data", "en"), (2, "spark merge", "de")],
        "doc_id int, text string, Lang string",
    )
    got = [r["doc"] for r in boolean_search(docs, "lang:en AND spark").collect()]
    assert got == [1], got
    got2 = [r["doc"] for r in boolean_search(docs, "Lang:EN AND spark").collect()]
    assert got2 == [1], got2

    docs2 = spark.createDataFrame(
        [(1, "spark x", "a"), (2, "spark y", "b")],
        "doc_id int, text string, doc string",
    )
    fc = [tuple(r) for r in faceted_counts(docs2, "spark", ["doc"]).collect()]
    assert fc == [("doc", "a", 1), ("doc", "b", 1)], fc

    with pytest.raises(ValueError, match="single words"):
        snippet_extract(docs, ["fast table"])


def test_more_like_this_null_text_source_is_empty(spark):
    # third-review finding: a NULL-text source doc must hit the
    # empty-panel path, not a driver TypeError
    from esdb_spark.operators.search import more_like_this

    docs = spark.createDataFrame(
        [(1, "spark data"), (2, None)], "doc_id int, text string"
    )
    assert more_like_this(docs, 2).count() == 0


# ---------------------------------------------------------------------------
# round 10: fuzzy operands + field ranges in the boolean grammar
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fz_docs(spark):
    return spark.createDataFrame(
        [
            (1, "spark data here", "en", 10),
            (2, "sprak data there", "EN", 25),  # lev 2 from 'spark'
            (3, "spork merge", "de", 30),       # lev 1 from 'spark'
            (4, "no hits", "en", 45),
            (5, "spark data", None, 50),
        ],
        "doc_id int, text string, lang string, n int",
    )


def test_parse_fuzzy_and_range_operands(spark):
    from esdb_spark.operators.search import parse_boolean_query

    assert parse_boolean_query("sprak~1") == ("fuzzy", ("sprak", 1))
    assert parse_boolean_query("sprak~") == ("fuzzy", ("sprak", 2))
    assert parse_boolean_query("n:[200 TO 400]") == (
        "frange", ("n", "200", "400"),
    )
    # string bounds lowercase like field values; TO is case-insensitive
    assert parse_boolean_query("lang:[aa to BB]") == (
        "frange", ("lang", "aa", "bb"),
    )
    with pytest.raises(ValueError, match="1 or 2"):
        parse_boolean_query("x~3")
    with pytest.raises(ValueError, match="unterminated"):
        parse_boolean_query("price:[3 TO")
    with pytest.raises(ValueError, match="malformed"):
        parse_boolean_query("price:[3 4]")
    # a mid-word tilde with no digit suffix stays a literal term
    assert parse_boolean_query("a~b") == ("term", "a~b")


def test_fuzzy_search_corpus_exact_levenshtein(spark, fz_docs):
    from esdb_spark.operators.search import boolean_search

    # spark~1: spark (docs 1, 5) + spork (doc 3, one substitution);
    # sprak is distance 2 (an adjacent swap costs two edits in plain
    # levenshtein — this grammar is not Damerau)
    got = [r["doc"] for r in boolean_search(fz_docs, "spark~1").collect()]
    assert got == [1, 3, 5]
    got2 = [r["doc"] for r in boolean_search(fz_docs, "spark~2").collect()]
    assert got2 == [1, 2, 3, 5]
    got3 = [
        r["doc"]
        for r in boolean_search(fz_docs, "spark~1 AND NOT merge").collect()
    ]
    assert got3 == [1, 5]


def test_field_range_operands_corpus(spark, fz_docs):
    from esdb_spark.operators.search import boolean_search

    got = [
        r["doc"]
        for r in boolean_search(fz_docs, "n:[20 TO 45] AND data").collect()
    ]
    assert got == [2]
    # string ranges compare lexicographically, case-insensitive; NULL
    # stays unflagged
    got2 = [
        r["doc"] for r in boolean_search(fz_docs, "lang:[de TO en]").collect()
    ]
    assert got2 == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="numeric"):
        boolean_search(fz_docs, "n:[aa TO bb]")


def test_fuzzy_and_range_serve_on_index_faces(spark, fz_docs):
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        boolean_search_positional_segments,
        boolean_search_segments,
        build_inverted_index,
        build_positional_index,
        build_spell_index,
        expand_fuzzy_operands,
        inverted_index_stats,
    )
    from esdb_spark.operators.storedfields import build_stored_fields

    idx = build_inverted_index(fz_docs)
    sp = build_spell_index(inverted_index_stats(idx))
    meta = build_stored_fields(fz_docs, cols=["lang", "n"])
    # SymSpell expansion equals the levenshtein truth over the vocab
    cm = expand_fuzzy_operands(sp, [("spark", 1)])
    assert cm == {"spark~1 FUZZY": ["spark", "spork"]}
    q = "spark~1 AND n:[5 TO 49] AND NOT merge"
    want = [tuple(r) for r in boolean_search(fz_docs, q).collect()]
    assert want
    isegs = [
        build_inverted_index(fz_docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    psegs = [
        build_positional_index(fz_docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    faces = [
        boolean_search_indexed(idx, q, fields=meta, spell_index=sp),
        boolean_search_positional(
            build_positional_index(fz_docs), q, fields=meta, spell_index=sp
        ),
        boolean_search_segments(isegs, q, fields=meta, spell_index=sp),
        boolean_search_positional_segments(
            psegs, q, fields=meta, spell_index=sp
        ),
    ]
    for got in faces:
        assert [tuple(r) for r in got.collect()] == want
    # rejects: fuzzy without a spell index, range without fields
    with pytest.raises(ValueError, match="spell_index"):
        boolean_search_indexed(idx, "spark~1")
    with pytest.raises(ValueError, match="metadata"):
        boolean_search_indexed(idx, "n:[1 TO 2]")


def test_search_page_bm25_scores_and_snippets(spark):
    # the BM25-ranked page: scores == bm25_search_indexed bit-for-bit,
    # snippets slice the STORED text around the first hit, drift
    # (page doc missing from the store) raises
    from esdb_spark.operators.search import (
        bm25_search_indexed,
        build_doc_lengths,
        build_inverted_index,
        search_page_bm25,
    )
    from esdb_spark.operators.storedfields import build_stored_fields

    docs = spark.createDataFrame(
        [
            (1, "aaa bbb spark ccc ddd"),
            (2, "spark spark data xxx"),
            (3, "no match here"),
            (4, "data then spark"),
        ],
        "doc_id int, text string",
    )
    idx = build_inverted_index(docs)
    dl = build_doc_lengths(docs)
    stored = build_stored_fields(docs)
    page = search_page_bm25(idx, dl, stored, ["spark", "data"], k=3,
                            window=1).collect()
    ranked = bm25_search_indexed(idx, dl, ["spark", "data"], k=3).collect()
    assert [(r["doc"], r["n_terms_matched"], r["bm25"]) for r in page] == [
        (r["doc"], r["n_terms_matched"], r["bm25"]) for r in ranked
    ]
    assert [r["rank"] for r in page] == [1, 2, 3]
    by_doc = {r["doc"]: r for r in page}
    # doc 1: first hit 'spark' at pos 2, window 1 -> 'bbb spark ccc'
    assert by_doc[1]["first_pos"] == 2
    assert by_doc[1]["snippet"] == "bbb spark ccc"
    with pytest.raises(Exception, match="diverged"):
        search_page_bm25(
            idx, dl, stored.filter("doc != 2"), ["spark", "data"], k=3
        ).collect()


def test_spell_index_depth_mismatch_raises(spark):
    # r10 hardening: querying distance 2 against a d=1-built index
    # would silently MISS candidates (the symmetric-delete superset
    # needs both sides' variants to depth d) — an incomplete "did you
    # mean" is a wrong answer, so it raises driver-side
    from esdb_spark.functions import tokens
    from esdb_spark.operators.search import (
        boolean_search_indexed,
        build_inverted_index,
        build_spell_index,
        suggest_terms_indexed,
    )

    docs = spark.createDataFrame(
        [(1, "merge sort"), (2, "marge simpson")],
        "doc_id int, text string",
    )
    ex = docs.select(F.explode(tokens("text")).alias("token"))
    vocab = ex.groupBy("token").agg(
        F.count("*").cast("long").alias("term_freq")
    )
    shallow = build_spell_index(vocab, max_dist=1)
    with pytest.raises(ValueError, match="exceeds the spell index"):
        suggest_terms_indexed(shallow, "mrege", max_dist=2)
    # d=1 against a d=1 index stays legal
    assert suggest_terms_indexed(shallow, "merg", max_dist=1).count() > 0
    # the grammar's fuzzy expansion hits the same guard
    idx = build_inverted_index(docs)
    with pytest.raises(ValueError, match="exceeds the spell index"):
        boolean_search_indexed(idx, "mrege~2", spell_index=shallow)
    # a pre-r10 index (no max_dist column) is trusted as built deep
    legacy = shallow.drop("max_dist")
    assert suggest_terms_indexed(legacy, "mrege", max_dist=2) is not None


def test_search_page_serves_fuzzy_operands(spark):
    # the corpus page composes with fuzzy terms end to end: the match
    # comes from the levenshtein disjunct and first_pos counts
    # fuzzy-matched tokens as hits
    from esdb_spark.operators.search import search_page

    docs = spark.createDataFrame(
        [(1, "aaa spork bbb"), (2, "no match"), (3, "spark here")],
        "doc_id int, text string",
    )
    out = [tuple(r) for r in search_page(
        docs, "spark~1", k=5, window=1
    ).collect()]
    assert [r[1] for r in out] == [1, 3]
    assert out[0][3] == 1 and out[0][4] == "aaa spork bbb"


def test_search_page_keyset_pagination(spark):
    # page 2 via the (n_terms_matched, doc) cursor == rows k+1..2k of
    # the global order with ranks restarting at 1; an exhausted cursor
    # returns an empty page; a malformed cursor raises
    from esdb_spark.operators.search import search_page

    docs = spark.createDataFrame(
        [(i, "tango merge" + (" tango" if i % 2 else ""))
         for i in range(1, 8)],
        "doc_id int, text string",
    )
    q = "ta* AND merge"
    full = search_page(docs, q, k=7, window=1).collect()
    p1 = search_page(docs, q, k=3, window=1).collect()
    last = p1[-1]
    p2 = search_page(
        docs, q, k=3, window=1,
        after=(last["n_terms_matched"], last["doc"]),
    ).collect()
    assert [tuple(r)[1:] for r in p1 + p2] == [
        tuple(r)[1:] for r in full[:6]
    ]
    assert [r["rank"] for r in p2] == [1, 2, 3]
    end = search_page(
        docs, q, k=3, window=1,
        after=(full[-1]["n_terms_matched"], full[-1]["doc"]),
    )
    assert end.count() == 0
    with pytest.raises(ValueError, match="after"):
        search_page(docs, q, after=(1,))


def test_sloppy_phrase_semantics_and_faces(spark):
    # "fast data"~s: words IN ORDER within (n-1)+s positions;
    # order-preserving (never matches reversed); duplicate words
    # chain; s=0 equals the exact phrase; positional faces are
    # value-exact with the corpus face; the boolean index raises
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        boolean_search_positional_segments,
        build_inverted_index,
        build_positional_index,
        parse_boolean_query,
    )

    assert parse_boolean_query('"fast data"~2') == (
        "slop", (("fast", "data"), 2),
    )
    with pytest.raises(ValueError, match="at least two"):
        parse_boolean_query('"one"~2')
    docs = spark.createDataFrame(
        [
            (1, "fast big data here"),
            (2, "fast data"),
            (3, "data comes fast"),   # reversed: never matches
            (4, "fast x y z data"),   # span 4: needs s >= 3
            (5, "fast fast data"),
        ],
        "doc_id int, text string",
    )
    for s, want in [(0, [2, 5]), (1, [1, 2, 5]), (3, [1, 2, 4, 5])]:
        got = [
            r["doc"]
            for r in boolean_search(docs, f'"fast data"~{s}').collect()
        ]
        assert got == want, (s, got)
    pidx = build_positional_index(docs)
    psegs = [
        build_positional_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    q = '"fast data"~1 AND NOT here'
    want = [tuple(r) for r in boolean_search(docs, q).collect()]
    assert [
        tuple(r) for r in boolean_search_positional(pidx, q).collect()
    ] == want
    assert [
        tuple(r)
        for r in boolean_search_positional_segments(psegs, q).collect()
    ] == want
    with pytest.raises(ValueError, match="positions"):
        boolean_search_indexed(build_inverted_index(docs), '"fast data"~1')


def _vocab(df):
    from esdb_spark.functions import tokens

    return (
        df.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("term_freq"))
    )


def test_maintained_spell_store_batch_faces(spark):
    # round 11 (r10 verdict "What's missing #2"): the spell store's
    # variant rows as LSM state — upsert algebra, pre-compaction on
    # re-insert, dead-token tombstones; suggest(segments ∪ tombstones)
    # == suggest(rebuild(survivor vocab)) and compact == rebuild
    from esdb_spark.operators.search import (
        build_spell_index,
        compact_spell_segments,
        spell_index_upserts,
        spell_segments_vocab,
        suggest_terms_indexed,
        suggest_terms_segments,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge spark data"),
            (2, "merge merge table unique"),
            (3, "spork fast"),
            (4, "merge appended here"),
            (5, "spark appended"),
        ],
        "doc_id int, text string",
    )
    base, grow = docs.filter("doc_id <= 3"), docs.filter("doc_id > 3")
    dead = docs.filter("doc_id in (2, 4)")
    v0 = _vocab(base)
    seg0 = build_spell_index(v0)
    r1, t1 = spell_index_upserts(v0, _vocab(grow))
    seg_p = compact_spell_segments([seg0], [t1])
    seg1 = build_spell_index(r1)
    r2, t2 = spell_index_upserts(
        spell_segments_vocab([seg_p, seg1]), _vocab(dead), remove=True
    )
    t2_re = t2.join(r2.select("token"), "token", "left_semi")
    t2_dead = t2.join(r2.select("token"), "token", "left_anti")
    seg_c = compact_spell_segments([seg_p, seg1], [t2_re])
    seg2 = build_spell_index(r2)
    surv = docs.filter("doc_id not in (2, 4)")
    got = [
        tuple(r)
        for r in suggest_terms_segments(
            [seg_c, seg2], "mrege", max_dist=2, k=5,
            tombstones=[t2_dead],
        ).collect()
    ]
    want = [
        tuple(r)
        for r in suggest_terms_indexed(
            build_spell_index(_vocab(surv)), "mrege", max_dist=2, k=5
        ).collect()
    ]
    assert got == want and got
    assert sorted(
        tuple(r)
        for r in compact_spell_segments(
            [seg_c, seg2], [t2_dead]
        ).collect()
    ) == sorted(
        tuple(r) for r in build_spell_index(_vocab(surv)).collect()
    )
    # the store's live-vocab view nets exactly to the survivors'
    assert sorted(
        tuple(r)
        for r in spell_segments_vocab(
            [seg_c, seg2], [t2_dead]
        ).collect()
    ) == sorted(tuple(r) for r in _vocab(surv).collect())


def test_maintained_spell_store_guards(spark):
    from esdb_spark.operators.search import (
        build_spell_index,
        spell_index_upserts,
        spell_segments_vocab,
        suggest_terms_segments,
    )

    v = _vocab(
        spark.createDataFrame([(1, "merge spark")], "doc_id int, text string")
    )
    seg = build_spell_index(v)
    # ghost decrement raises (over-delete desynchronizes the store)
    rx, _tx = spell_index_upserts(
        v,
        _vocab(
            spark.createDataFrame(
                [(9, "nonexistent")], "doc_id int, text string"
            )
        ),
        remove=True,
    )
    with pytest.raises(Exception, match="ghost or over-delete"):
        rx.collect()
    # re-insert without pre-compaction raises when touched
    dup = build_spell_index(v)
    with pytest.raises(Exception, match="more than once"):
        suggest_terms_segments([seg, dup], "mrege", max_dist=2).collect()
    # a shallow segment refuses a deeper query (silent candidate loss)
    shallow = build_spell_index(v, max_dist=1)
    with pytest.raises(ValueError, match="exceeds the spell index"):
        suggest_terms_segments([seg, shallow], "mrege", max_dist=2)
    # NULL token tombstones raise
    with pytest.raises(Exception, match="NULL token"):
        spell_segments_vocab(
            [seg],
            [spark.createDataFrame([(None,)], "token string")],
        ).collect()


def test_maintain_spell_index_epoch_parity(spark, tmp_path):
    # the streaming maintainer: per-epoch variant segments + token
    # tombstones; an upsert is delete-epoch then insert-epoch (the
    # id-keyed contract) and serving equals the rebuilt truth
    from esdb_spark.operators.search import (
        build_spell_index,
        suggest_terms_indexed,
        suggest_terms_segments,
    )
    from esdb_spark.streaming import (
        maintain_spell_index,
        read_maintained_index_segments,
    )

    src = str(tmp_path / "chg")
    state = str(tmp_path / "spell")
    ckpt = str(tmp_path / "ck")
    schema = "token string, term_freq long, op string"
    batches = [
        [("merge", 3, "insert"), ("spark", 2, "insert"),
         ("table", 1, "insert")],
        # upsert of merge: delete epoch...
        [("merge", 0, "delete"), ("table", 0, "delete")],
        # ...then the re-insert epoch (self-heals via pre-compaction)
        [("merge", 5, "insert"), ("spork", 1, "insert")],
    ]
    for i, batch in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            mode
        ).json(src)
        stream = spark.readStream.schema(schema).json(src)
        q = maintain_spell_index(
            stream, state, op_col="op", checkpoint=ckpt,
            query_name=f"msp_{i}",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    live, tomb = read_maintained_index_segments(spark, state)
    got = [
        tuple(r)
        for r in suggest_terms_segments(
            live, "mrege", max_dist=2, k=5, tombstones=tomb or None
        ).collect()
    ]
    truth = spark.createDataFrame(
        [("merge", 5), ("spark", 2), ("spork", 1)],
        "token string, term_freq long",
    )
    want = [
        tuple(r)
        for r in suggest_terms_indexed(
            build_spell_index(truth), "mrege", max_dist=2, k=5
        ).collect()
    ]
    assert got == want and got[0][0] == "merge" and got[0][1] == 5


def test_spell_index_segments_plugs_into_fuzzy_faces(spark):
    # the netted store view is a drop-in spell_index: fuzzy operands
    # on the index faces expand from maintained state and equal the
    # corpus face's levenshtein truth over the survivors
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        build_inverted_index,
        build_spell_index,
        spell_index_segments,
        suggest_terms_indexed,
        suggest_terms_segments,
    )

    docs = spark.createDataFrame(
        [(1, "merge spark data"), (2, "marge table"), (3, "spork fast")],
        "doc_id int, text string",
    )
    v = _vocab(docs)
    segs = [
        build_spell_index(v.filter(F.crc32("token") % 2 == i))
        for i in range(2)
    ]
    sp = spell_index_segments(segs)
    idx = build_inverted_index(docs)
    q = "merge~1 AND spark"
    got = [
        tuple(r)
        for r in boolean_search_indexed(idx, q, spell_index=sp).collect()
    ]
    want = [tuple(r) for r in boolean_search(docs, q).collect()]
    assert got == want and got
    # suggest through the generic socket == the dedicated segments face
    a = [tuple(r) for r in suggest_terms_indexed(sp, "mrege").collect()]
    b = [tuple(r) for r in suggest_terms_segments(segs, "mrege").collect()]
    assert a == b and a


def test_regex_operand_all_faces_and_guards(spark):
    # round 11: /pattern/ — fully-anchored whole-token regex. The
    # corpus face rides the anchored rlike disjunct; index faces
    # expand against the VOCABULARY (never the postings) and serve
    # candidates as a literal in-filter; every face value-equals the
    # corpus truth; no vocab / over-broad patterns / bad syntax raise
    from esdb_spark.operators.search import (
        boolean_search,
        boolean_search_indexed,
        boolean_search_positional,
        boolean_search_positional_segments,
        boolean_search_segments,
        build_inverted_index,
        build_positional_index,
        expand_regex_operands,
        inverted_index_stats,
        parse_boolean_query,
        search_page,
        search_page_maintained,
    )
    from esdb_spark.operators.storedfields import (
        build_stored_fields,
        stored_fields_segments,
    )

    docs = spark.createDataFrame(
        [
            (1, "merge spark data"),
            (2, "marge table here"),
            (3, "spork fast"),
            (4, "merge merge spark"),
            (5, "no hits at all"),
        ],
        "doc_id int, text string",
    )
    assert parse_boolean_query("/m[ae]rge/") == ("regex", "m[ae]rge")
    with pytest.raises(ValueError, match="invalid regex"):
        parse_boolean_query("/[bad/")
    q = "/m[ae]rge/ AND spark"
    want = [tuple(r) for r in boolean_search(docs, q).collect()]
    assert want == [(1, 2), (4, 2)]
    idx = build_inverted_index(docs)
    vocab = inverted_index_stats(idx)
    assert expand_regex_operands(vocab, ["m[ae]rge"]) == {
        "/m[ae]rge/ REGEX": ["marge", "merge"]
    }
    pidx = build_positional_index(docs)
    isegs = [
        build_inverted_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    psegs = [
        build_positional_index(docs.filter(f"doc_id % 2 = {i}"))
        for i in range(2)
    ]
    for got in [
        boolean_search_indexed(idx, q, vocab=vocab),
        boolean_search_positional(pidx, q, vocab=vocab),
        boolean_search_segments(isegs, q, vocab=vocab),
        boolean_search_positional_segments(psegs, q, vocab=vocab),
    ]:
        assert [tuple(r) for r in got.collect()] == want
    # the corpus page serves regex: match, rank, AND the first hit
    page = [
        tuple(r)
        for r in search_page(docs, "/sp.rk?/ OR data", k=5, window=1)
        .collect()
    ]
    assert [p[1] for p in page] == [1, 3, 4]
    assert page[1][3] == 0 and page[1][4] == "spork fast"
    # guards: vocab-less index faces, the candidate cap, the
    # maintained page's unconditional reject
    with pytest.raises(ValueError, match="vocabulary-candidate"):
        boolean_search_indexed(idx, q)
    with pytest.raises(ValueError, match="more than 3 vocabulary"):
        expand_regex_operands(vocab, [".*"], max_candidates=3)
    stored = stored_fields_segments(
        [build_stored_fields(docs)], None
    )
    # the maintained page serves regex through vocab= (value-equal to
    # the corpus page); without vocab it raises — unconditionally,
    # even when a fuzzy operand supplies a cand_map
    from esdb_spark.operators.search import (
        build_spell_index,
        positional_index_stats,
    )

    want_page = [
        tuple(r)
        for r in search_page(docs, q, k=5, window=1).collect()
    ]
    got_page = [
        tuple(r)
        for r in search_page_maintained(
            [pidx], stored, q, k=5, window=1,
            vocab=positional_index_stats(pidx),
        ).collect()
    ]
    assert got_page == want_page and got_page
    with pytest.raises(ValueError, match="vocabulary-candidate"):
        search_page_maintained([pidx], stored, q)
    sp = build_spell_index(
        positional_index_stats(pidx).select("token", "term_freq")
    )
    with pytest.raises(ValueError, match="vocabulary-candidate"):
        search_page_maintained(
            [pidx], stored, "/m[ae]rge/ AND spark~1", spell_index=sp
        )


def test_regex_lexeme_survives_parens_and_subset_enforced():
    # r11 advice: the lexer split '/a(b|c)d/' on the grammar parens
    # and silently re-parsed the pieces as terms. '/.../' is now ONE
    # lexeme ahead of the paren split; unterminated '/'-leading tokens
    # raise; and the portable Java/RE2/Python subset is ENFORCED
    # driver-side ('(?...' constructs and backreferences reject).
    from esdb_spark.operators.search import parse_boolean_query as p

    assert p("/a(b|c)d/") == ("regex", "a(b|c)d")
    assert p("(/a.c/)") == ("regex", "a.c")
    assert p("(/ab+/ OR x) AND NOT y") == (
        "and",
        [
            ("or", [("regex", "ab+"), ("term", "x")]),
            ("not", ("term", "y")),
        ],
    )
    # grammar parens adjacent to the lexeme still close correctly
    assert p("NOT (/a(b)c/)") == ("not", ("regex", "a(b)c"))
    with pytest.raises(ValueError, match="unterminated regex"):
        p("/a(b")
    with pytest.raises(ValueError, match="unterminated regex"):
        p("/abc AND x")
    with pytest.raises(ValueError, match="invalid regex"):
        p("/a)b/")
    with pytest.raises(ValueError, match=r"\(\?\.\.\."):
        p("/a(?=b)c/")
    with pytest.raises(ValueError, match=r"\(\?\.\.\."):
        p("/(?i)abc/")
    with pytest.raises(ValueError, match="backreference"):
        p(r"/(a)\1/")
    # an ESCAPED backslash before a digit is NOT a backreference
    assert p(r"/a\\1/") == ("regex", r"a\\1")
    # quoted tokens still match literal slashes (no regex lexing)
    assert p('"/usr/bin"') == ("term", "/usr/bin")
