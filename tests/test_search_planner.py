"""The search serving core: one operand planner, one postings
resolver, one boolean evaluator, one phrase kernel and one NEAR
kernel behind every face. These tests pin the resolver's materialize
rule (no eager job for a single-leg query or over bare parquet scans,
one materialization for a multi-leg query) and cross-face value
parity."""

import pytest
from pyspark.sql import functions as F

from conftest import count_jobs
from esdb_spark.operators.search import (
    _all_leaf_relations,
    boolean_search,
    boolean_search_indexed,
    boolean_search_positional,
    boolean_search_positional_segments,
    boolean_search_segments,
    build_inverted_index,
    build_positional_index,
    phrase_search,
    phrase_search_indexed,
    phrase_search_segments,
)

DOCS = [
    (1, "spark merges the fast table"),
    (2, "fast table hash join"),
    (3, "spark hash merge"),
    (4, "the table is fast"),
    (5, "spark mergers and fast tables"),
    (6, "merge the fast table with spark"),
    (7, "python reads a table fast"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _split(docs, n=3):
    return [docs.filter(F.col("doc_id") % n == i) for i in range(n)]


def test_all_leaf_relations(spark, docs, tmp_path):
    p = str(tmp_path / "idx")
    build_inverted_index(docs).write.parquet(p)
    leaf = spark.read.parquet(p)
    assert _all_leaf_relations([leaf])
    assert _all_leaf_relations([leaf, spark.read.parquet(p)])
    assert not _all_leaf_relations([leaf.filter(F.col("tf") > 1)])
    assert not _all_leaf_relations([leaf.unionByName(leaf)])
    assert not _all_leaf_relations([build_inverted_index(docs)])
    assert not _all_leaf_relations([leaf, build_inverted_index(docs)])

    class NoJvmHandle:
        @property
        def _jdf(self):
            raise RuntimeError("no JVM-side plan (e.g. Spark Connect)")

    assert not _all_leaf_relations([NoJvmHandle()])


def test_phrase_on_inline_positional_faces_runs_no_eager_job(spark, docs):
    q = '"fast table"'
    want = _rows(boolean_search(docs, q))
    assert [d for d, _n in want] == [1, 2, 6]
    with count_jobs(spark) as built:
        pidx = boolean_search_positional(build_positional_index(docs), q)
    assert built.jobs == 0
    assert _rows(pidx) == want
    with count_jobs(spark) as built:
        psegs = boolean_search_positional_segments(
            [build_positional_index(d) for d in _split(docs)], q
        )
    assert built.jobs == 0
    assert _rows(psegs) == want


def test_multi_operand_on_parquet_segments_runs_no_eager_job(
    spark, docs, tmp_path
):
    q = "spark AND mer* AND NOT hash"
    want = _rows(boolean_search(docs, q))
    assert want == [(1, 2), (5, 2), (6, 2)]
    paths = []
    for i, d in enumerate(_split(docs)):
        paths.append(str(tmp_path / f"seg{i}"))
        build_inverted_index(d).write.parquet(paths[-1])
    segs = [spark.read.parquet(p) for p in paths]
    with count_jobs(spark) as built:
        served = boolean_search_segments(segs, q)
    assert built.jobs == 0
    assert _rows(served) == want
    # every other face returns the corpus face's rows too
    assert _rows(boolean_search_indexed(build_inverted_index(docs), q)) == want
    assert _rows(
        boolean_search_positional(build_positional_index(docs), q)
    ) == want
    assert _rows(
        boolean_search_positional_segments(
            [build_positional_index(d) for d in _split(docs)], q
        )
    ) == want


def test_near_with_term_materializes_postings_once(spark, docs):
    # a NEAR operand's pair join reads the postings twice and the term
    # leg once: the resolver materializes them once, and nothing else
    # runs before the action
    q = "(fast NEAR/4 table) AND spark"
    with count_jobs(spark) as built:
        served = boolean_search(docs, q)
    assert built.jobs <= 1
    want = [(1, 2), (6, 2)]
    assert _rows(served) == want
    assert _rows(
        boolean_search_positional(build_positional_index(docs), q)
    ) == want
    assert _rows(
        boolean_search_positional_segments(
            [build_positional_index(d) for d in _split(docs)], q
        )
    ) == want


PHRASE_DOCS = [
    (1, "fast x table"),  # the words with a gap: no hit
    (2, "table fast"),  # reversed order: no hit
    (3, "a a a"),  # 'a a' twice, overlapping
    (4, "fast table then more"),  # a hit at position 0
    (5, "fast table fast table"),  # back-to-back hits
    (6, "the fast table"),
    (7, "a b a a"),
]


def _phrase_model(texts, phrase):
    """(doc, n_occurrences, first_pos) by brute force over the tokens."""
    words = phrase.lower().split()
    n = len(words)
    out = []
    for doc, text in sorted(texts):
        toks = text.lower().split()
        starts = [
            i for i in range(len(toks) - n + 1) if toks[i:i + n] == words
        ]
        if starts:
            out.append((doc, len(starts), starts[0]))
    return out


def test_phrase_faces_match_a_python_model(spark):
    docs = spark.createDataFrame(PHRASE_DOCS, "doc_id long, text string")
    idx = build_positional_index(docs)
    segs = [build_positional_index(d) for d in _split(docs)]
    tomb = spark.createDataFrame([(6,)], "doc long")
    survivors = [(d, t) for d, t in PHRASE_DOCS if d != 6]
    for ph in ["fast table", "a a", "table fast", "fast", "a a a"]:
        want = _phrase_model(PHRASE_DOCS, ph)
        assert _rows(phrase_search(docs, ph)) == want, ph
        assert _rows(phrase_search_indexed(idx, ph)) == want, ph
        assert _rows(
            phrase_search_segments(segs, ph, tombstones=[tomb])
        ) == _phrase_model(survivors, ph), ph
        quoted = _rows(boolean_search_positional(idx, f'"{ph}"'))
        assert quoted == [(d, 1) for d, _n, _p in want], ph
    assert _phrase_model(PHRASE_DOCS, "fast table") == [
        (4, 1, 0), (5, 2, 0), (6, 1, 1)
    ]
    assert _phrase_model(PHRASE_DOCS, "a a") == [(3, 2, 0), (7, 1, 2)]
