"""Round-12 optimization guards: the bench's staged stores must stay
row-identical to the direct builds they replaced.

The r12 optimization round restructured ``bench.stage_gate_stores``:
independent segment writes run pooled (guide §2.6), the events
textualization materializes once, and the plain-index family derives
the flat inverted index + vocabulary stats from the written
positional index instead of tokenizing the corpus a second time
(tf = size(positions)). These tests pin the equivalences so a future
edit cannot silently diverge the staged serving state from the
catalog rows' inline builds.

``build_spell_index`` also dropped its frame-wide ``.distinct()``
(a data no-op: deletion variants are deduped per token and a
vocabulary is one row per token by contract) — pinned here too.
"""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_flat_index_derives_from_positional(spark):
    """tf == size(positions) row-for-row: deriving the flat index
    from the positional one (one tokenize pass) is exact."""
    from esdb_spark.operators.search import (
        build_inverted_index,
        build_positional_index,
        derive_flat_index,
    )
    from esdb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    flat = build_inverted_index(docs, "text", "doc_id")
    derived = derive_flat_index(build_positional_index(docs, "text", "doc_id"))
    assert _rows(flat, ["token", "doc", "tf"]) == _rows(
        derived, ["token", "doc", "tf"]
    )


def test_vocab_stats_equal_across_faces(spark):
    """inverted_index_stats(flat) == positional_index_stats(pos):
    the staged fvocab may aggregate from either face."""
    from esdb_spark.operators.search import (
        build_inverted_index,
        build_positional_index,
        inverted_index_stats,
        positional_index_stats,
    )
    from esdb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    a = inverted_index_stats(build_inverted_index(docs, "text", "doc_id"))
    b = positional_index_stats(build_positional_index(docs, "text", "doc_id"))
    cols = ["token", "doc_freq", "term_freq"]
    assert _rows(a, cols) == _rows(b, cols)


def test_spell_index_rows_already_distinct(spark):
    """build_spell_index without the frame-wide distinct emits the
    same row set: per-token deletion variants are deduped inside
    _deletion_variants, and a vocabulary is one row per token."""
    from esdb_spark.functions import tokens
    from esdb_spark.operators.search import build_spell_index
    from esdb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("term_freq"))
    )
    for d in (1, 2):
        idx = build_spell_index(vocab, max_dist=d)
        n = idx.count()
        assert idx.distinct().count() == n
        # and per (vh, token) uniqueness specifically — the invariant
        # _keyed_net's multiplicity guard relies on within a segment
        assert (
            idx.groupBy("vh", "token").count().filter("count > 1").count()
            == 0
        )


def test_stage_gate_stores_artifacts_match_direct_builds(spark, tmp_path):
    """The pooled staging writes the exact artifacts the sequential
    staging wrote: spot-check the derived plain-index family and one
    positional segment against direct builds."""
    import bench as B
    from esdb_spark.operators.search import (
        build_inverted_index,
        build_positional_index,
        inverted_index_stats,
    )
    from esdb_spark.sources.tables import load_table

    tmp = str(tmp_path / "staged")
    os.makedirs(tmp, exist_ok=True)
    B.stage_gate_stores(spark, SF_DIR, tmp)
    docs = load_table(spark, SF_DIR, "documents")

    fidx = spark.read.parquet(os.path.join(tmp, "fidx_full"))
    direct = build_inverted_index(docs, "text", "doc_id")
    cols = ["token", "doc", "tf"]
    assert _rows(fidx, cols) == _rows(direct, cols)

    fvocab = spark.read.parquet(os.path.join(tmp, "fvocab"))
    dvocab = inverted_index_stats(direct)
    vcols = ["token", "doc_freq", "term_freq"]
    assert _rows(fvocab, vcols) == _rows(dvocab, vcols)

    pseg1 = spark.read.parquet(os.path.join(tmp, "pseg1"))
    dseg1 = build_positional_index(
        docs.filter(F.col("doc_id") % 3 == 1), "text", "doc_id"
    )
    pcols = ["token", "doc", "positions"]
    assert _rows(pseg1, pcols) == _rows(dseg1, pcols)


def test_bench_rows_superset_of_prior_rounds():
    """The bench contract forbids removing or renaming `queries` rows
    across rounds (the driver diffs them). Assert the emitted row-name
    set is a strict superset of every committed round-11 artifact —
    the round-12 build/serve splits ADD `_serve`/`_build` rows, they
    must never drop the original inline rows."""
    import json

    import bench as B

    emitted = set(B.BENCH_QUERIES)
    emitted.update(name for name, _ in B.STAGED_SERVES)
    emitted.update(
        {
            "docs_hybrid_rrf_maintained_build",
            "docs_hybrid_rrf_maintained_serve",
            "bulk_ingest",
        }
    )
    # gate-store build rows: stage_gate_stores families record as
    # maintained_<fam>_build (or their literal name if already *_build)
    emitted.update(
        {
            "maintained_spell_build",
            "maintained_positional_build",
            "maintained_storedfields_build",
            "maintained_ann_exact_build",
            "maintained_events_page_build",
            "plain_index_build",
        }
    )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for artifact in ("bench_r11_idle.json", "bench_r11_second_run.json"):
        with open(os.path.join(here, "benchmarks", artifact)) as fh:
            prior = set(json.load(fh)["queries"])
        missing = prior - emitted
        assert not missing, f"{artifact}: bench rows removed: {missing}"


def test_bench_tail_line_fits_driver_window():
    """The driver parses the LAST stdout line out of a 2000-byte tail
    (r11's full line overflowed it → parsed:null). The tail line built
    from the current 71-row artifact must fit AND keep every contract
    key, `metric` included."""
    import json

    import bench as B

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    art = json.load(
        open(
            os.path.join(
                here,
                "benchmarks",
                "bench_r12_post_opt_run6_contended.json",
            )
        )
    )
    line = B.tail_line(
        art["queries"], art["total"], art["sf"], art["metric"],
        cal=0.0782,
    )
    assert len(line) <= 1990, len(line)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert parsed["unit"] == "sec"
    # r13 (r12 verdict ask #2): the calibration median rides the tail
    # line so a driver artifact self-identifies a degraded window
    assert parsed["cal"] == 0.078
    # every served (non-build) row must survive the shedding
    served = {k for k in art["queries"] if not k.endswith("_build")}
    assert served <= set(parsed["queries"])


def test_bench_tail_line_fits_even_with_huge_catalog():
    """r12 ADVICE: the old tier loop returned its slimmest line even
    when that still overflowed 1990 bytes. The truncation tiers must
    guarantee a fit for ANY row count, keeping the most expensive rows
    (the adjudication signal) and the contract keys."""
    import json

    import bench as B

    timings = {
        f"some_very_long_query_name_row_{i:04d}": float(i) for i in range(500)
    }
    line = B.tail_line(timings, 123.4, 0.1, "esdb_spark headline", cal=0.08)
    assert len(line) <= 1990, len(line)
    parsed = json.loads(line)
    for key in ("value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert parsed["value"] == 123.4
    # the surviving rows are the most expensive ones
    kept = set(parsed["queries"])
    dropped = [v for k, v in timings.items() if k not in kept]
    if kept and dropped:
        assert min(parsed["queries"].values()) >= max(dropped) - 1e-9
