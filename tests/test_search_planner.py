"""The boolean serving core: one operand planner, one postings
resolver, one evaluator behind every boolean face. These tests pin
the resolver's materialize rule (no eager job for a single-leg query
or over bare parquet scans) and cross-face value parity."""

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
