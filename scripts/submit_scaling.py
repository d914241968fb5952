"""spark-submit entrypoint for the N -> 4N executor scaling measurement.

scripts/cluster_scaling.py ships the package zip via --py-files and runs
THIS script under spark-submit at N and 4N executors on identical cached
input — same bytes, same plan, 4x the executors. The timed job is a copy
of the micro-cycle's distributed core (parse kernel -> first-occurrence
dedup -> anti-join seen -> per-host rank), not a SparkCrawler cycle.

Uses the ambient spark-submit-provided SparkSession config (master comes
from --master), exercising the exact deployment path a cluster run uses.
Prints one JSON line {"master": ..., "wall_s": ..., "pages": ...}.
"""

import json
import os
import sys
import time

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

BENCH_DIR = os.environ.get("SC_BENCH_DIR", "/tmp/sc_bench")


def main():
    spark = (SparkSession.builder.appName("submit-scaling")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.files.maxPartitionBytes", "2m")
             .config("spark.sql.files.openCostInBytes", "0")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # the package arrived via --py-files: import AFTER the session exists
    from supercrawler_spark.crawler import _KERNEL_OUT_SCHEMA, _make_handler_kernel
    from supercrawler_spark.handlers import default_registry

    web = spark.read.parquet(os.path.join(BENCH_DIR, "web_pages_big"))
    # SC_SUBMIT_SCALE replicates the corpus k times (distinct urls per
    # replica) so the distributed work dominates multi-JVM fixed costs —
    # local-cluster walls under ~30s are mostly netty/scheduler overhead
    # and python-worker spin-up, which a real 100TB job amortizes away.
    k = int(os.environ.get("SC_SUBMIT_SCALE", "1"))
    if k > 1:
        replicas = [
            web.withColumn(
                "url", F.concat(F.col("url"), F.lit(f"?r={i}")))
            for i in range(k)
        ]
        base = replicas[0]
        for r in replicas[1:]:
            base = base.unionByName(r)
        web = base.repartition(
            spark.sparkContext.defaultParallelism * 4)
    web = web.persist()
    seen = spark.read.parquet(os.path.join(BENCH_DIR, "seen_big")).persist()
    seen.count()
    n_pages = web.count()

    def run_once():
        t0 = time.time()
        kernel_in = web.filter(F.col("status_code") < 400).select(
            F.monotonically_increasing_id().alias("batch_idx"), "url",
            F.col("status_code").alias("f_status"),
            F.col("content_type").alias("f_content_type"),
            F.col("location").alias("f_location"),
            F.col("body").alias("f_body"))
        kernel = _make_handler_kernel(default_registry())
        links = (kernel_in.mapInPandas(kernel, schema=_KERNEL_OUT_SCHEMA)
                 .filter(F.col("link").isNotNull())
                 .select(F.col("link").alias("url"), "batch_idx", "link_idx",
                         "host"))
        w_dup = Window.partitionBy("url").orderBy("batch_idx", "link_idx")
        unique = (links.withColumn("_rn", F.row_number().over(w_dup))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        new = unique.join(seen, "url", "left_anti")
        # host comes from the kernel (urls.hostname_of, the oracle's own
        # host function); parse_url raises INVALID_URL under ANSI mode on
        # links such as "/x y.html"
        w = Window.partitionBy("host").orderBy("batch_idx", "link_idx")
        popped = (new.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= 64))
        n = popped.count()
        return time.time() - t0, n

    run_once()  # untimed warmup (cache fill + python worker spin-up)
    if k > 1:
        run_once()  # second warmup: JIT tiers settle on the bigger job
    n_timed = int(os.environ.get("SC_SUBMIT_RUNS", "3"))
    walls = [run_once()[0] for _ in range(n_timed)]
    print(json.dumps({
        "master": spark.sparkContext.master,
        "pages": int(n_pages),
        "wall_s": round(min(walls), 2),
        "walls_s": [round(w, 2) for w in walls],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
