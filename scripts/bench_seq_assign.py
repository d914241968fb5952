"""Sitemap-dump cycle seq assignment at 10^6 links: the range-partitioned
offset scheme vs the flat single-partition window.

The reference bulk-inserts ~50k URLs per sitemap page
(/root/reference/lib/DbUrlList.js:123-127); a budget of 20 such pages is a
10^6-link cycle. Above crawler.SEQ_PARTITION_THRESHOLD the engine
assigns dense seqs via repartitionByRange + per-partition row_number +
cumulative offsets (crawler.assign_dense_seq) — this script shows
(a) both paths produce identical seqs, (b) the distributed path has no
single-task stage (max rows per partition ~ n/P, not n), and (c) the
wall-clock at 10^6 rows.

Run: python scripts/bench_seq_assign.py [n_links] [master]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window
from pyspark.sql import functions as F


def main():
    n_links = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    master = sys.argv[2] if len(sys.argv) > 2 else None
    from supercrawler_spark.crawler import assign_dense_seq
    from supercrawler_spark.session import get_spark

    spark = get_spark("bench-seq", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    max_seq = 999  # arbitrary prior frontier position
    order = ["batch_idx", "source_order", "link_idx"]

    # 20 sitemap pages x 50k links each (batch_idx = page in the batch)
    links = (spark.range(n_links).select(
        (F.col("id") / (n_links // 20)).cast("long").alias("batch_idx"),
        F.lit(1).alias("source_order"),
        (F.col("id") % (n_links // 20)).alias("link_idx"),
        F.concat(F.lit("http://h"), F.col("id") % 4999,
                 F.lit(".example/p"), F.col("id")).alias("url"))
        .repartition(32).persist())
    links.count()

    # checksum over url->seq pairs: forces full seq materialization (a bare
    # count() would let Catalyst prune the window/join away entirely);
    # bounded terms — no int64 overflow at 10^6 rows
    chk = lambda df: df.select(
        F.sum(F.xxhash64(F.col("url"), F.col("seq")) % F.lit(1_000_000_007))
        .alias("s")).first()["s"]

    # distributed path (what run_cycle uses above the threshold)
    t0 = time.time()
    dist, _ = assign_dense_seq(spark, links, order, max_seq)
    chk_dist = chk(dist)
    t_dist = round(time.time() - t0, 2)
    stats = (dist.groupBy(F.spark_partition_id().alias("p"))
             .count().agg(F.max("count").alias("mx"),
                          F.count(F.lit(1)).alias("parts")).first())
    max_part = int(stats["mx"])

    # flat single-partition window (the sub-threshold path)
    t0 = time.time()
    w = Window.partitionBy(F.lit(0)).orderBy(*order)
    flat = links.withColumn(
        "seq", F.lit(max_seq) + F.row_number().over(w).cast("long"))
    chk_flat = chk(flat)
    t_flat = round(time.time() - t0, 2)

    identical = chk_dist == chk_flat
    assert identical, "seq assignment mismatch between paths"

    print(json.dumps({
        "mode": "seq_assign", "n_links": n_links,
        "master": spark.sparkContext.master,
        "distributed_s": t_dist, "flat_window_s": t_flat,
        "max_rows_single_partition_distributed": max_part,
        "partitions": int(stats["parts"]),
        "single_task_stage": max_part >= n_links,  # False = fixed
        "identical_seqs": identical,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
