"""Frontier-scale micro-bench: per-cycle wall time vs frontier size.

Round-1 architecture rewrote (union + localCheckpoint) the WHOLE frontier
every cycle — O(|frontier|) per cycle. The LSM base+delta frontier makes a
cycle O(batch + |delta|): the parquet-backed base layer is only scanned
(due-filter pushed to row-group stats) and only rewritten at compaction.

This bench seeds a synthetic frontier of N rows (mostly far-future recrawl
backlog + a small due set — the steady-state shape of a web-scale crawl),
runs budget-bounded cycles against an empty web (pure frontier work), and
reports the median per-cycle time at N = 1M and N = 10M. The design target
is sublinear growth (a 10x frontier must NOT cost 10x per cycle).

Usage: python scripts/bench_frontier_scale.py [sizes...]  (default 1e6 1e7)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F
from pyspark.sql import types as T

from supercrawler_spark.crawler import FRONTIER_SCHEMA, CrawlConfig, SparkCrawler
from supercrawler_spark.session import get_spark

YEAR_MS = 365.0 * 86400000.0
N_DUE = 200_000          # due backlog (far more than the cycles consume)
BUDGET = 64
N_CYCLES = int(os.environ.get("SC_FS_CYCLES", "12"))


def build_frontier(spark, n: int, workdir: str) -> str:
    """N-row frontier parquet: ids < N_DUE are due now, the rest are
    recrawl-scheduled ~1 year out. Sorted by next_fetch_time so parquet
    row-group stats prune the due-scan."""
    n_hosts = 4096
    df = (spark.range(n)
          .select(
              F.lit(None).cast("long").alias("url_hash"),
              F.concat(F.lit("http://h"), (F.col("id") % n_hosts),
                       F.lit(".example/p"), F.col("id")).alias("url"),
              F.concat(F.lit("h"), (F.col("id") % n_hosts),
                       F.lit(".example")).alias("host"),
              F.when(F.col("id") < N_DUE, F.lit(None).cast("int"))
               .otherwise(F.lit(200)).alias("status_code"),
              F.lit(None).cast("string").alias("error_code"),
              F.lit(None).cast("string").alias("error_message"),
              F.lit(0).alias("num_errors"),
              F.when(F.col("id") < N_DUE,
                     -(F.col("id") + 1).cast("double"))
               .otherwise(F.lit(YEAR_MS)
                          + (F.col("id") % 1000000).cast("double"))
               .alias("next_fetch_time"),
              F.col("id").alias("seq")))
    path = os.path.join(workdir, f"frontier_{n}")
    (df.repartitionByRange(64, "next_fetch_time")
       .sortWithinPartitions("next_fetch_time")
       .write.mode("overwrite").parquet(path))
    return path


def bench_size(spark, n: int) -> dict:
    wd = tempfile.mkdtemp(prefix=f"fbench{n}-")
    path = build_frontier(spark, n, wd)

    web_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("body", T.BinaryType()),
    ])
    web = spark.createDataFrame([], schema=web_schema)

    cfg = CrawlConfig(budget=BUDGET, order_mode="random",
                      robots_enabled=False, checkpoint_every=10**9)
    cr = SparkCrawler(spark, web, wd, cfg)
    cr._base = spark.read.parquet(path)
    cr.max_seq = n - 1
    cr.cycle_time = 0.0

    times = []
    for i in range(N_CYCLES):
        t0 = time.time()
        stats = cr.run_cycle()
        times.append(time.time() - t0)
        assert stats.popped == BUDGET, stats.popped
    times_sorted = sorted(times[2:])  # drop 2 warmup cycles
    med = times_sorted[len(times_sorted) // 2]
    return {"n_rows": n, "median_cycle_s": round(med, 3),
            "min_cycle_s": round(times_sorted[0], 3),
            "all_cycles_s": [round(t, 3) for t in times]}


def main():
    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 10_000_000]
    spark = get_spark("frontier-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = [bench_size(spark, n) for n in sizes]
    ratio = (out[-1]["median_cycle_s"] / out[0]["median_cycle_s"]
             if len(out) > 1 and out[0]["median_cycle_s"] > 0 else None)
    # min-cycle ratio: each size's least-stalled cycle — steal-robust
    # companion to the median (a single stolen cycle shifts the median
    # at N_CYCLES=6 but almost never the min)
    min_ratio = (out[-1]["min_cycle_s"] / out[0]["min_cycle_s"]
                 if len(out) > 1 and out[0]["min_cycle_s"] > 0 else None)
    size_ratio = out[-1]["n_rows"] / out[0]["n_rows"] if len(out) > 1 else None
    print(json.dumps({
        "metric": "per-cycle wall seconds vs frontier size (LSM base+delta)",
        "sizes": out,
        "cycle_time_ratio": round(ratio, 3) if ratio else None,
        "min_cycle_time_ratio": round(min_ratio, 3) if min_ratio else None,
        "frontier_size_ratio": size_ratio,
        "sublinear": bool(ratio and size_ratio and ratio < size_ratio / 2),
    }))


if __name__ == "__main__":
    main()
