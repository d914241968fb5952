"""Seen-set dedup micro-bench: exact anti-join vs the Bloom prefilter,
each mode in its own process/SparkSession. Prints ONE JSON line.

Modes:
  dedup <master>        — 2M seen x 1M candidates (corpus-sized candidates)
  dedup_scale <master>  — 10M seen x 200k candidates (one cycle's links);
                          the 10M-row seen set is cached under $SC_BENCH_DIR

Usage: python scripts/bench_worker.py dedup local[4]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_DIR = os.environ.get("SC_BENCH_DIR", "/tmp/sc_bench")


def bench_dedup(master: str) -> dict:
    """Seen-set dedup micro-bench (BASELINE.md secondary metric): exact
    anti-join vs Bloom-prefiltered dedup at 2M seen x 1M candidates
    (50% overlap). Asserts identical results, and that absorbing the
    prefilter's keys leaves the bits a fresh add of seen ∪ candidates
    builds (compared executor-side, partition by partition)."""
    from pyspark.sql import functions as F

    from supercrawler_spark.bloom import PartitionedBloom
    from supercrawler_spark.fixtures import make_seed_frontier
    from supercrawler_spark.session import get_spark

    spark = get_spark("bench-dedup", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    urls = make_seed_frontier(2_500_000, n_hosts=1500)[["url"]]
    seen = spark.createDataFrame(urls.iloc[:2_000_000]).repartition(32).persist()
    n_seen = seen.count()
    cand = spark.createDataFrame(urls.iloc[1_500_000:]).repartition(32).persist()
    n_cand = cand.count()

    t0 = time.time()
    n_exact = cand.join(seen, "url", "left_anti").count()
    t_exact = time.time() - t0

    bloom = PartitionedBloom(partitions=32, capacity=2_000_000)
    t0 = time.time()
    bloom.add(spark, seen)
    t_build = time.time() - t0
    t0 = time.time()
    n_bloom = bloom.prefilter(spark, cand, "url", seen).count()
    t_bloom = time.time() - t0
    assert n_bloom == n_exact, (n_bloom, n_exact)
    # the crawl cycle's path: the probe already ORed the candidates' bits,
    # absorb pins them; the result must be a fresh build of seen ∪ cand
    t0 = time.time()
    bloom.absorb(n_bloom)
    t_absorb = time.time() - t0
    ref = PartitionedBloom(partitions=32, capacity=2_000_000)
    ref.add(spark, seen.unionByName(cand).distinct())
    assert bloom.n_added == ref.n_added == n_seen + n_exact
    a = bloom.to_df(spark).select("pid", F.col("bitset").alias("a"))
    b = ref.to_df(spark).select("pid", F.col("bitset").alias("b"))
    n_diff = (a.join(b, "pid", "full_outer")
              .filter(~F.col("a").eqNullSafe(F.col("b"))).count())
    assert n_diff == 0, f"{n_diff} partitions differ from a fresh add"
    return {"mode": "dedup", "master": master, "seen": int(n_seen),
            "candidates": int(n_cand), "new": int(n_exact),
            "exact_antijoin_s": round(t_exact, 2),
            "bloom_build_s": round(t_build, 2),
            "bloom_absorb_s": round(t_absorb, 2),
            "bloom_prefilter_s": round(t_bloom, 2),
            "bloom_fpr_est": round(bloom.fp_rate_estimate(), 4)}


def bench_dedup_scale(master: str) -> dict:
    """The crawl-cycle dedup shape at a 10^7-row seen set: candidates are
    POLITENESS-BOUNDED (one cycle's links, ~200k, half already seen) while
    the seen set is huge — the regime the Bloom prefilter exists for.
    Compares the plain shuffle anti-join (exchanges the whole seen side)
    against the persisted-filter path (probe touches only candidates; the
    exact verify streams seen through a broadcast semi — zero seen-side
    shuffle). Results asserted identical."""
    from pyspark.sql import functions as F

    from supercrawler_spark.bloom import PartitionedBloom
    from supercrawler_spark.session import get_spark

    n_seen, n_cand = 10_000_000, 200_000
    spark = get_spark("bench-dedup-scale", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(BENCH_DIR, f"seen_{n_seen}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (spark.range(n_seen)
         .select(F.concat(F.lit("http://h"), F.col("id") % 50000,
                          F.lit(".example/p"), F.col("id")).alias("url"))
         .repartition(64).write.mode("overwrite").parquet(path))
    seen = spark.read.parquet(path)
    # candidates: half are exact seen rows (scattered across the id space),
    # half are new
    j = (F.when(F.col("id") % 2 == 0, (F.col("id") * 37) % n_seen)
         .otherwise(F.col("id") + n_seen))
    cand = (spark.range(n_cand)
            .select(F.concat(F.lit("http://h"), j % 50000,
                             F.lit(".example/p"), j).alias("url"))
            .repartition(32).persist())
    cand.count()

    def timed(fn):
        t0 = time.time()
        n = fn()
        return round(time.time() - t0, 2), n

    def seen_side_exchanged(df) -> bool:
        """True if the plan shuffles (hash-exchanges) the seen table —
        the thing that costs a network at cluster scale. Broadcast
        exchanges of the politeness-bounded key sets don't count."""
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        import re
        # formatted mode puts Exchange args on their own detail line
        return bool(re.search(r"hashpartitioning\(url", plan))

    # warmup both paths once (page cache / codegen), then measure
    bloom = PartitionedBloom(partitions=32, capacity=16_000_000)
    t_build, _ = timed(lambda: bloom.add(spark, seen))
    exact_df = cand.join(seen, "url", "left_anti")
    timed(lambda: exact_df.count())
    t_exact, n_exact = timed(lambda: exact_df.count())
    pre_df = bloom.prefilter(spark, cand, "url", seen, verify="broadcast")
    timed(lambda: pre_df.count())
    t_bloom, n_bloom = timed(lambda: pre_df.count())
    assert n_bloom == n_exact, (n_bloom, n_exact)
    return {"mode": "dedup_scale", "master": master, "seen": n_seen,
            "candidates": n_cand, "new": int(n_exact),
            "exact_antijoin_s": t_exact,
            "bloom_build_s": t_build,
            "bloom_prefilter_s": t_bloom,
            "bloom_fpr_est": round(bloom.fp_rate_estimate(), 4),
            # the cluster-scale quantity: does each plan exchange the
            # 10^7-row seen side? (local disk makes shuffles look cheap;
            # a network does not)
            "exact_shuffles_seen_side": seen_side_exchanged(exact_df),
            "prefilter_shuffles_seen_side": seen_side_exchanged(pre_df)}


if __name__ == "__main__":
    mode, master = sys.argv[1], sys.argv[2]
    out = {"dedup": bench_dedup, "dedup_scale": bench_dedup_scale}[mode](master)
    print(json.dumps(out))
