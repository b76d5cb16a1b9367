"""Scale probe: the maintained spell store's serve and upsert costs.

Builds a ~200k-token synthetic vocabulary as 4 persisted spell
segments (deletion-variant rows, max_dist=2) plus a 2k-token
tombstone, then times (median of 3 after warmup):
  (a) suggest_terms_segments — the vh-pruned serve shape
  (b) the same suggest against the UNBOUNDED netted view with the
      vh filter applied above a blocking cache boundary — what serving
      would cost if the variant filter could not reach the scans
  (c) spell_index_upserts over a 2k-token delta with the tokens=
      bound — the per-epoch maintenance shape
Writes nothing to the repo; prints one line per timing. Run on an
idle box: python benchmarks/spell_probe.py
"""
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from esdb_spark import get_spark
from esdb_spark.operators.search import (
    build_spell_index,
    spell_index_upserts,
    spell_segments_vocab,
    suggest_terms_segments,
)


def _med(fn, n=3):
    fn()  # warm
    return statistics.median(
        [(lambda t0: (fn(), time.perf_counter() - t0)[1])(time.perf_counter())
         for _ in range(n)]
    )


def main():
    spark = get_spark(app_name="spell_probe")
    tmp = tempfile.mkdtemp(prefix="spell_probe_")
    # ~200k distinct tokens, 5-9 chars, zipf-ish freqs
    base = spark.range(200_000).select(
        "id",
        F.concat(
            F.lit("tok"),
            F.conv(F.col("id").cast("string"), 10, 36),
            F.lit("x"),
        ).alias("token"),
        (F.col("id") % 1000 + 1).cast("long").alias("term_freq"),
    )
    vocab = base.select("token", "term_freq")
    for i in range(4):
        build_spell_index(
            base.filter(F.col("id") % 4 == i).select("token", "term_freq")
        ).write.mode("overwrite").parquet(os.path.join(tmp, f"s{i}"))
    segs = [spark.read.parquet(os.path.join(tmp, f"s{i}")) for i in range(4)]
    vocab.filter(F.crc32("token") % 100 == 7).select("token").write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "tomb"))
    tomb = [spark.read.parquet(os.path.join(tmp, "tomb"))]

    a = _med(
        lambda: suggest_terms_segments(
            segs, "tok1a2bx", max_dist=2, k=5, tombstones=tomb
        ).collect()
    )
    print(f"suggest vh-pruned serve: {a:.2f}s")

    # the counterfactual: materialize the full net once per query (no
    # vh reaches the scans) — cache() is the blocking boundary
    def unpruned():
        import hashlib

        from esdb_spark.operators.search import _py_deletion_variants
        from esdb_spark.operators.storedfields import _keyed_net

        net = _keyed_net(
            segs, tomb, "probe", "token", ["vh", "token"]
        ).localCheckpoint()
        hashes = sorted(
            hashlib.md5(v.encode()).hexdigest()
            for v in _py_deletion_variants("tok1a2bx", 2)
        )
        net.filter(F.col("vh").isin(hashes)).collect()

    b = _med(unpruned)
    print(f"suggest full-net counterfactual: {b:.2f}s")

    delta = vocab.filter(F.crc32("token") % 100 == 13).select(
        "token", "term_freq"
    ).localCheckpoint()
    live = spell_segments_vocab(segs, tomb, tokens=delta.select("token"))

    def upsert():
        r, t = spell_index_upserts(live, delta)
        r.count(), t.count()

    c = _med(upsert)
    print(f"frame-tier upsert (2k tokens, semi-bounded scan): {c:.2f}s")

    # round 12 (r11 verdict #5): the literal In(token) tier. The
    # crossover is MEASURED (SCALE.md): literal wins/ties below ~1k
    # delta tokens, loses past a few thousand (planning cost + parquet
    # refusing to point-push big In-lists) — so the auto-tier face
    # must fall back to the frame tier at this 2k delta, and a small
    # delta must engage the literal tier and beat the frame tier.
    from esdb_spark.operators.search import spell_index_upserts_bounded

    def upsert_auto():
        r, t = spell_index_upserts_bounded(segs, tomb, delta)
        r.count(), t.count()

    d = _med(upsert_auto)
    print(f"auto-tier upsert (2k tokens -> frame fallback): {d:.2f}s")

    def upsert_forced_literal():
        r, t = spell_index_upserts_bounded(
            segs, tomb, delta, max_literal_tokens=100_000
        )
        r.count(), t.count()

    e = _med(upsert_forced_literal)
    print(f"forced-literal upsert (2k tokens, past crossover): {e:.2f}s")

    small = vocab.filter(F.crc32("token") % 1000 == 13).select(
        "token", "term_freq"
    ).localCheckpoint()
    live_s = spell_segments_vocab(segs, tomb, tokens=small.select("token"))

    def small_frame():
        r, t = spell_index_upserts(live_s, small)
        r.count(), t.count()

    def small_auto():
        r, t = spell_index_upserts_bounded(segs, tomb, small)
        r.count(), t.count()

    f = _med(small_frame)
    g = _med(small_auto)
    print(f"frame-tier upsert (~200 tokens): {f:.2f}s")
    print(f"auto-tier upsert (~200 tokens -> literal In(token)): {g:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
