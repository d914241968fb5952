"""Decompose each headline query's FIRST-RUN cost (what a single-shot
timing sees) into:

  build  — Python-side DataFrame construction (py4j expression assembly)
  plan   — analysis + optimization + physical planning
           (forcing queryExecution().executedPlan(), no execution)
  exec1  — first noop-sink execution (whole-stage codegen compile +
           Python-worker spawn + actual run)
  exec2  — second noop-sink execution of a REBUILT DataFrame (codegen
           cache warm, workers up: the steady per-run floor)

Uses the library's session factory (sized from the host's cores, or
$SPARK_GRAFT_CPUS) and one untimed warmup scan; queries run in order.
Usage:

  python scripts/profile_firstrun.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "flagship_frontier_pop", "q1_pricing_summary", "q3_top_revenue",
    "host_decay_priority", "anti_join_dedup", "dedup_exact_fp",
    "minhash_lsh_pairs", "simhash_near_pairs", "token_jaccard",
    "lang_id", "quality_score", "embedding_cosine_topk", "ann_lsh_topk",
    "multimodal_pipeline", "ngram_span_dedup",
]


def main():
    import importlib.util

    from supercrawler_spark.session import get_spark
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py"))
    entrymod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entrymod)
    queries = entrymod.queries()
    spark = get_spark("profile_firstrun")
    spark.sparkContext.setLogLevel("ERROR")
    (spark.read.parquet(f"{SF_DIR}/events.parquet").limit(10_000)
     .write.format("noop").mode("overwrite").save())

    names = sys.argv[1:] or HEADLINE
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        df = queries[name](spark, SF_DIR)
        t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        df2 = queries[name](spark, SF_DIR)
        t4 = time.time()
        df2.write.format("noop").mode("overwrite").save()
        t5 = time.time()
        rec = {"build": round(t1 - t0, 3), "plan": round(t2 - t1, 3),
               "exec1": round(t3 - t2, 3), "first_total": round(t3 - t0, 3),
               "rebuild_exec2": round(t5 - t4, 3)}
        out[name] = rec
        print(f"{name}: {rec}", flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
