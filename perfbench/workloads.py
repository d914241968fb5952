"""The benchmark's workloads. Each runs closed-loop with one client (the
next cycle or query starts when the previous one returns), on a session
the caller opened, and returns a ``Result``.

All engine access goes through public APIs: ``SparkCrawler.seed/resume/
run_cycle/frontier_pdf``, ``SnapshotStore.commit``, ``PartitionedBloom``,
``HandlerRegistry.fire``, ``RobotsTxt``, ``OracleCrawler`` and
``__spark_entry__.queries()/oracle_sql()``.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gates, inputs
from perfbench.trace import (StealMeter, Spans, dir_bytes, tree_cpu_s,
                             tree_peak_rss_mb)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes and engine settings per workload (see README.md for why).
CRAWL_OLD = {"n_rows": 20_000, "n_hosts": 1000}
CRAWL_WEB = {"n_hosts": 32, "pages_per_host": 16, "links_per_page": 25,
             "filler_bytes": 2048, "seeds_per_host": 4}
CRAWL_CFG = {"budget": 128, "per_host_cap": 16, "order_mode": "random",
             "robots_enabled": True, "use_bloom": True,
             "collect_events": False, "checkpoint_every": 2}
# cycles in one round: one whole checkpoint group, each cycle popping a
# full budget (the web holds about seven full cycles of due URLs)
CRAWL_ROUND = 2
CRAWL_T0 = 1_000_000_000.0
# sf0.1 row counts of the tables the suite reads: 600k lineitem, 100k
# events, 5k documents, 2k embeddings
SUITE = {"n_docs": 5000, "n_vecs": 2000, "n_events": 100_000,
         "n_lineitem": 600_000}
SUITE_QUERIES = ["flagship_frontier_pop", "q1_pricing_summary",
                 "dedup_exact_fp", "minhash_lsh_pairs", "quality_score",
                 "embedding_cosine_topk"]
# warm executions of each query, at least: its median then drops one
# execution that a burst of host load slowed
WARM_PASSES = 3
SETUP_ATTEMPTS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    spans: Spans
    session_s: float
    traced: bool = False


@dataclass
class Result:
    setup: dict                      # session_s, input_s, seed_s
    ops: list                        # per timed op: dict(name, wall, ...)
    attempted: int
    failed: int
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)     # + cpu.*, host.steal_ratio
    extra: dict = field(default_factory=dict)   # workload-specific layer data


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def write_parquet(pdf, path: str, n_files: int) -> str:
    """Write ``pdf`` as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def _run_round(ctx: Ctx, crawler, rnd: int) -> list[dict]:
    """``CRAWL_ROUND`` run_cycle calls in a closed loop. A cycle that
    raises is recorded as a failed op and ends the round."""
    ops: list[dict] = []
    pid = os.getpid()
    for i in range(CRAWL_ROUND):
        name = f"cycle.{rnd}.{i}"
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            with ctx.spans.span(name):
                s = crawler.run_cycle()
        except Exception as exc:  # a failed cycle is a counted failure
            ops.append({"name": name, "round": rnd, "wall":
                        time.perf_counter() - t0, "cpu": tree_cpu_s(pid) - c0,
                        "failed": True, "error": repr(exc)[:300]})
            return ops
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(pid) - c0
        ops.append({"name": name, "round": rnd, "wall": wall, "cpu": cpu,
                    "popped": s.popped, "links_found": s.links_found,
                    "links_new": s.links_new, "dedup_hits": s.dedup_hits,
                    "errors": s.errors, "commit": crawler.cycle_id
                    % crawler.config.checkpoint_every == 0})
    return ops


def initial_frontier(old, seeds: list[str]):
    """The crawled rows plus one due row per seed URL, scheduled like the
    engine's own seed(): next_fetch_time = t0 - priority(url) * year."""
    from supercrawler_spark import urls as urls_mod
    n = len(old)
    due = pd.DataFrame({
        "url_hash": pd.Series([None] * len(seeds), dtype="Int64"),
        "url": seeds,
        "host": [urls_mod.hostname_of(u) for u in seeds],
        "status_code": pd.Series([None] * len(seeds), dtype="Int32"),
        "error_code": None, "error_message": None,
        "num_errors": 0,
        "next_fetch_time": [CRAWL_T0 - urls_mod.deterministic_priority(u)
                            * inputs.YEAR_MS for u in seeds],
        "seq": range(n, n + len(seeds)),
    })
    out = pd.concat([old, due], ignore_index=True)
    out["num_errors"] = out["num_errors"].astype("int32")
    out["seq"] = out["seq"].astype("int64")
    return out


def oracle_states(web, frontier, cfg, rounds: int):
    """Run OracleCrawler from the same initial frontier for ``rounds``
    rounds; returns its seen set, per-URL final states and the number of
    URLs each round popped."""
    from supercrawler_spark import OracleConfig, OracleCrawler, web_pages_dict
    from supercrawler_spark.oracle import OracleRow
    oracle = OracleCrawler(web_pages_dict(web), OracleConfig(
        budget=cfg.budget, per_host_cap=cfg.per_host_cap,
        order_mode=cfg.order_mode, robots_enabled=cfg.robots_enabled))
    for u, st, nft, seq in zip(frontier["url"], frontier["status_code"],
                               frontier["next_fetch_time"], frontier["seq"]):
        oracle.rows[u] = OracleRow(
            url=u, seq=int(seq), next_fetch_time=float(nft),
            status_code=None if pd.isna(st) else int(st))
    oracle.max_seq = int(frontier["seq"].max())
    oracle.now = CRAWL_T0
    res = oracle.crawl(max_rounds=rounds)
    popped = [0] * rounds
    for r, _, _ in res.crawl_order:
        popped[r] += 1
    return res.seen_urls(), res.final_states(), popped


def crawl_e2e(ops: list, setup: dict, pid: int) -> dict:
    """Over all of the run's cycles; cold = the first one."""
    walls = [o["wall"] for o in ops]
    return {
        "throughput_per_s": sum(o.get("popped", 0) for o in ops) / sum(walls),
        "op_s_p50": _median(walls),
        "cold_s": ops[0]["wall"],
        "cpu.op_s": statistics.fmean(o["cpu"] for o in ops),
        "cpu.cold_s": ops[0]["cpu"],
        "setup_s": setup["session_s"] + setup["input_s"] + setup["seed_s"],
        "peak_rss_mb": tree_peak_rss_mb(pid),
    }


# ---------------------------------------------------------------------------
# crawl_large_frontier
# ---------------------------------------------------------------------------

def crawl_large_frontier(ctx: Ctx) -> Result:
    """Rounds of ``CRAWL_ROUND`` cycles, each resumed from its own commit
    of the same start, until ``ctx.seconds`` of cycle time are spent:
    every round does the same work, so a faster engine runs more rounds,
    not different cycles."""
    from pyspark.sql import functions as F

    from supercrawler_spark import CrawlConfig, SparkCrawler
    from supercrawler_spark import functions as SF
    from supercrawler_spark.bloom import PartitionedBloom
    from supercrawler_spark.crawler import FRONTIER_SCHEMA
    from supercrawler_spark.storage import SnapshotStore
    spark = ctx.spark
    cfg = CrawlConfig(**CRAWL_CFG)

    # input: the web as parquet, and the start of a crawl whose frontier
    # holds the crawled rows plus the seeds of the new web, with its Bloom
    t0 = time.perf_counter()
    old = inputs.crawled_frontier(ctx.seed, t0=CRAWL_T0, **CRAWL_OLD)
    seeds, web = inputs.discovery_web(ctx.seed, old_urls=list(old["url"]),
                                      **CRAWL_WEB)
    web_df = spark.read.parquet(write_parquet(
        web, os.path.join(ctx.work, "web"),
        spark.sparkContext.defaultParallelism))
    start = initial_frontier(old, seeds)
    with ctx.spans.span("setup.input"):
        front = (spark.createDataFrame(start, schema=FRONTIER_SCHEMA)
                 .withColumn("url_hash", SF.url_hash(F.col("url")))).cache()
        bloom = PartitionedBloom(cfg.bloom_partitions, cfg.bloom_capacity)
        bloom.add(spark, front.select("url"))
        bloom_df = bloom.to_df(spark).cache()
        bloom_df.count()
    input_s = time.perf_counter() - t0

    def workdir(rnd: int) -> str:
        return os.path.join(ctx.work, f"crawl{rnd}")

    def resumed(rnd: int):
        """A crawler resumed from a fresh commit of the start."""
        wd = workdir(rnd)
        shutil.rmtree(wd, ignore_errors=True)
        SnapshotStore(os.path.join(wd, "snapshots")).commit(
            {"frontier": front, "bloom": bloom_df},
            meta={"cycle_id": 0, "cycle_time": CRAWL_T0,
                  "max_seq": int(start["seq"].max())})
        crawler = SparkCrawler(spark, web_df, wd, cfg)
        if not crawler.resume():
            raise RuntimeError("resume found no snapshot")
        return crawler

    # seed: commit + resume, SETUP_ATTEMPTS times; keep the last
    walls = []
    for _ in range(SETUP_ATTEMPTS):
        t0 = time.perf_counter()
        with ctx.spans.span("setup.seed"):
            crawler = resumed(0)
        walls.append(time.perf_counter() - t0)
    setup = {"session_s": ctx.session_s, "input_s": input_s,
             "seed_s": _median(walls)}

    # the oracle's result for one round; every round must match it
    seen, states, _ = oracle_states(web, start, cfg, CRAWL_ROUND)
    initial = set(start["url"])
    old_urls = set(old["url"])

    steal = StealMeter()
    ops, problems, failed, spent, rnd = [], [], 0, 0.0, 0
    commit_bytes: list[int] = []
    bloom_fpr = 0.0
    while True:
        if rnd:
            crawler = resumed(rnd)   # untimed
        got = _run_round(ctx, crawler, rnd)
        ops += got
        spent += sum(o["wall"] for o in got)
        # untimed correctness gate of the round
        if got[-1].get("failed"):
            p = ["a cycle raised: " + got[-1]["error"]]
        else:
            frontier = crawler.frontier_pdf()
            p = gates.crawl_gate(frontier, initial,
                                 sum(o["links_new"] for o in got),
                                 seen, states, [o["popped"] for o in got],
                                 cfg.budget)
        if p:
            problems += [f"round {rnd}: {x}" for x in p]
            failed += len(got)
            break
        if ctx.traced:
            # on-disk size of each version the round committed (the store
            # keeps the last three: the start and the round's commits)
            snaps = os.path.join(workdir(rnd), "snapshots")
            commit_bytes += [dir_bytes(os.path.join(snaps, f"v{v:06d}"))
                             for v in SnapshotStore(snaps).versions() if v]
            # the engine's own per-cycle metrics log carries the Bloom FPR
            # estimate; the round ends on a commit, which flushes the log
            log = crawler.metrics_log.read(spark)
            last = (log.orderBy(F.col("cycle_id").desc()).first()
                    if log is not None else None)
            bloom_fpr = last["bloom_fpr_est"] if last else 0.0
        shutil.rmtree(workdir(rnd), ignore_errors=True)
        rnd += 1
        if spent >= ctx.seconds:
            break
    steal_ratio = steal()
    extra: dict = {"web": web, "popped": [], "commit_bytes": commit_bytes}
    if not problems:
        crawled = (frontier["status_code"].notna()
                   | frontier["error_code"].notna())
        extra["popped"] = [u for u in frontier["url"][crawled]
                           if u not in old_urls]
        extra["bloom_fpr_est"] = bloom_fpr
    e2e = crawl_e2e(ops, setup, os.getpid())
    e2e["host.steal_ratio"] = steal_ratio
    front.unpersist()
    bloom_df.unpersist()
    bloom.release()
    return Result(setup, ops, len(ops), failed, problems, e2e, extra)


# ---------------------------------------------------------------------------
# operator_suite
# ---------------------------------------------------------------------------

def load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_suite_tables(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in inputs.suite_tables(seed, **SUITE).items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(sf_dir, f"{name}.parquet"))


def operator_suite(ctx: Ctx) -> Result:
    """A cold pass (each query once, noop sink), then warm passes; a warm
    execution collects the result with toPandas, as a caller would, and
    checks it, untimed, against the query's DuckDB twin."""
    import duckdb

    from scripts.check_correctness import compare
    spark = ctx.spark
    entry = load_entry()
    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = os.path.join(ctx.work, "sf")
    input_walls = []
    for _ in range(SETUP_ATTEMPTS):
        shutil.rmtree(sf_dir, ignore_errors=True)
        t0 = time.perf_counter()
        write_suite_tables(ctx.seed, sf_dir)
        input_walls.append(time.perf_counter() - t0)
    setup = {"session_s": ctx.session_s, "input_s": _median(input_walls),
             "seed_s": 0.0}

    ops, problems = [], []
    plan_s, cold = {}, {}
    pid = os.getpid()
    cpu: dict[str, list[float]] = {"cold": [], "warm": []}

    def execute(name: str, tag: str):
        """(wall, result): the result is None for the noop-sink cold run;
        wall is None if the query raised."""
        c0, t0 = tree_cpu_s(pid), time.perf_counter()
        got = None
        try:
            with ctx.spans.span(f"query.{name}.{tag}"):
                df = queries[name](spark, sf_dir)
                if tag == "cold":
                    df._jdf.queryExecution().executedPlan()
                    plan_s[name] = time.perf_counter() - t0
                    df.write.format("noop").mode("overwrite").save()
                else:
                    got = df.toPandas()
        except Exception as exc:  # a failed query is a counted failure
            problems.append(f"{name}: {exc!r}"[:300])
            return None, None
        wall = time.perf_counter() - t0
        cpu[tag].append(tree_cpu_s(pid) - c0)
        return wall, got

    # the DuckDB twins, untimed (None: a rows-only query)
    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}'")
    want = {n: con.execute(oracles[n]).fetchdf() if n in oracles else None
            for n in SUITE_QUERIES}
    con.close()

    warm: dict[str, list[float]] = {n: [] for n in SUITE_QUERIES}

    def run_warm(name: str, n_pass: int) -> None:
        w, got = execute(name, "warm")
        failed = w is None
        if not failed:
            warm[name].append(w)
            try:
                p = gates.query_gate(got, want[name], compare)
            except Exception as exc:  # the gate raising is a failure
                p = [f"check raised {exc!r}"[:300]]
            if p:
                problems.append(f"{name} pass {n_pass}: {p}")
                failed = True
        ops.append({"name": f"query.{name}.warm", "wall": w or 0.0,
                    "failed": failed})

    # the cold pass, then at least WARM_PASSES warm passes and more until
    # the warm executions used up the run's seconds; a query's warm
    # samples lie a pass apart, so a burst of host load slows one of them
    steal = StealMeter()
    for name in SUITE_QUERIES:
        cold[name], _ = execute(name, "cold")
        ops.append({"name": f"query.{name}.cold", "wall": cold[name] or 0.0,
                    "failed": cold[name] is None})
    passes = 0
    while not problems and (passes < WARM_PASSES or
                            sum(map(sum, warm.values())) < ctx.seconds):
        for name in SUITE_QUERIES:
            run_warm(name, passes)
        passes += 1
    rss, steal_ratio = tree_peak_rss_mb(pid), steal()
    failed = sum(1 for o in ops if o["failed"])

    cold_sum = sum(v for v in cold.values() if v is not None)
    # each query's median warm wall; their sum is one typical warm pass
    per_query = [_median(warm[n]) for n in SUITE_QUERIES if warm[n]]
    warm_pass = sum(per_query)
    e2e = {
        "throughput_per_s": len(per_query) / warm_pass if warm_pass else 0.0,
        "op_s_p50": _median(per_query),
        "cold_s": cold_sum,
        "cpu.op_s": statistics.fmean(cpu["warm"]) if cpu["warm"] else 0.0,
        "cpu.cold_s": sum(cpu["cold"]),
        "host.steal_ratio": steal_ratio,
        "setup_s": setup["session_s"] + setup["input_s"],
        "peak_rss_mb": rss,
    }
    return Result(setup, ops, len(ops), failed, problems, e2e,
                  {"plan_s": plan_s, "cold": cold, "warm": warm,
                   "suite_cold_s": cold_sum, "suite_warm_s": warm_pass,
                   "warm_passes": passes})


WORKLOADS = {
    "crawl_large_frontier": crawl_large_frontier,
    "operator_suite": operator_suite,
}
