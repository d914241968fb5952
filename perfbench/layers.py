"""Per-layer metrics of a traced run, and the table of every metric name
with its unit. A layer a workload does not exercise reports 0."""

from __future__ import annotations

import statistics
import time

from perfbench.trace import EventLog, Spans, union_s
from perfbench.workloads import SUITE_QUERIES, Result

E2E_UNITS = {
    "throughput_per_s": "1/s",
    "op_s_p50": "s",
    "cold_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# measured in every run next to the end-to-end metrics; reported by the
# traced run: CPU seconds of the whole process tree, and the share of the
# host's CPU time the hypervisor stole while the timed operations ran
HOST_UNITS = {
    "cpu.op_s": "s",
    "cpu.cold_s": "s",
    "host.steal_ratio": "ratio",
}

_CRAWLER = {
    "crawler.rounds": "count",
    "crawler.first_cycle_s": "s", "crawler.commit_cycle_s": "s",
    "crawler.jobs_per_cycle": "count", "crawler.tasks_per_cycle": "count",
    "crawler.job_s_per_cycle": "s", "crawler.driver_gap_s_per_cycle": "s",
    "crawler.executor_cpu_s_per_cycle": "s", "crawler.gc_s_per_cycle": "s",
    "crawler.shuffle_read_bytes_per_cycle": "bytes",
    "crawler.shuffle_write_bytes_per_cycle": "bytes",
    "crawler.spill_bytes_per_cycle": "bytes",
    "crawler.links_found": "count", "crawler.links_new": "count",
    "crawler.dedup_hit_ratio": "ratio", "crawler.errors": "count",
}
_OTHER = {
    "storage.commits": "count", "storage.commit_s": "s",
    "storage.commit_bytes": "bytes", "storage.append_s": "s",
    "storage.load_s": "s",
    "bloom.adds": "count", "bloom.add_s": "s", "bloom.fpr_est": "ratio",
    "handlers.kernel_pages_per_s": "1/s",
    "handlers.spark_overhead_ratio": "ratio",
    "robots.is_allowed_per_s": "1/s",
    "setup.session_s": "s", "setup.input_s": "s", "setup.seed_s": "s",
    "suite.cold_s": "s", "suite.warm_s": "s", "suite.warm_passes": "count",
    "suite.job_s_share": "ratio",
    "fail_ratio": "ratio",
}
_QUERY = {"plan_s": "s", "cold_s": "s", "warm_s": "s",
          "executor_cpu_s": "s", "shuffle_bytes": "bytes"}

LAYER_UNITS = dict(HOST_UNITS)
LAYER_UNITS.update(_CRAWLER)
LAYER_UNITS.update(_OTHER)
for _q in SUITE_QUERIES:
    for _k, _u in _QUERY.items():
        LAYER_UNITS[f"query.{_q}.{_k}"] = _u
for _m, _u in E2E_UNITS.items():
    LAYER_UNITS[f"trace_overhead.{_m}"] = _u


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def cycle_rollups(spans: Spans, log: EventLog) -> list[dict]:
    """Per timed cycle: wall, the union of its jobs' intervals clipped to
    the cycle (job_s), the rest (driver_gap_s = wall - job_s) and the task
    totals of the jobs tagged with the cycle's job group."""
    out = []
    for sp in spans.items:
        if not sp.name.startswith("cycle."):
            continue
        jobs = log.jobs_in(sp.name)
        wall = sp.end - sp.start
        job_s = union_s([(j.start, j.end if j.end is not None else sp.end)
                         for j in jobs], sp.start, sp.end)
        row = {"name": sp.name, "wall": wall, "jobs": len(jobs),
               "job_s": job_s, "driver_gap_s": wall - job_s}
        row.update(log.task_totals(jobs))
        out.append(row)
    return out


def _crawled_pages(res: Result) -> list[tuple]:
    """(url, body, content_type) of every page the timed crawl popped that
    the web serves with a 2xx status (robots-denied pages included: the
    pure kernel is an upper bound on the parse work)."""
    web = res.extra["web"]
    rows = web[web["url"].isin(set(res.extra["popped"]))
               & (web["status_code"] < 300)]
    return list(zip(rows["url"], rows["body"], rows["content_type"]))


def kernel_rates(res: Result) -> dict:
    """Pure-kernel rates outside Spark over the run's crawled pages:
    the handler registry's ``fire`` per page and ``RobotsTxt.is_allowed``
    per crawled URL."""
    from supercrawler_spark import default_registry
    from supercrawler_spark import urls as urls_mod
    from supercrawler_spark.crawler import CrawlConfig
    from supercrawler_spark.robots import RobotsTxt
    pages = _crawled_pages(res)
    if not pages:
        return {"pages": 0, "kernel_s": 0.0, "handlers.kernel_pages_per_s": 0.0,
                "robots.is_allowed_per_s": 0.0}
    reg = default_registry()
    t0 = time.perf_counter()
    for url, body, ct in pages:
        reg.fire(bytes(body), url, urls_mod.normalize_content_type(ct, url))
    kernel_s = time.perf_counter() - t0

    robots = dict(zip(res.extra["web"]["url"], res.extra["web"]["body"]))
    ua = CrawlConfig().user_agent
    popped = res.extra["popped"]
    t0 = time.perf_counter()
    parsed: dict[str, RobotsTxt] = {}
    for u in popped:
        key = urls_mod.robots_url(u)
        txt = parsed.get(key)
        if txt is None:
            body = robots.get(key)
            txt = parsed[key] = RobotsTxt(bytes(body).decode() if body else "")
        txt.is_allowed(u, ua)
    robots_s = time.perf_counter() - t0
    return {"pages": len(pages), "kernel_s": kernel_s,
            "handlers.kernel_pages_per_s": len(pages) / kernel_s,
            "robots.is_allowed_per_s": len(popped) / robots_s}


def layer_metrics(res: Result, spans: Spans, log: EventLog,
                  calls: dict[str, list]) -> dict[str, float]:
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    for k in HOST_UNITS:
        m[k] = res.e2e[k]
    m["setup.session_s"] = res.setup["session_s"]
    m["setup.input_s"] = res.setup["input_s"]
    m["setup.seed_s"] = res.setup["seed_s"]
    m["fail_ratio"] = res.failed / max(1, res.attempted)

    cycles = [o for o in res.ops if o["name"].startswith("cycle.")
              and not o.get("failed")]
    if cycles:
        roll = cycle_rollups(spans, log)
        n = len(roll)
        rounds = len({o["round"] for o in cycles})
        found = sum(o["links_found"] for o in cycles)
        new = sum(o["links_new"] for o in cycles)
        hits = sum(o["dedup_hits"] for o in cycles)
        m.update({
            "crawler.rounds": rounds,
            "crawler.first_cycle_s": cycles[0]["wall"],
            "crawler.commit_cycle_s": _median(
                [o["wall"] for o in cycles if o["commit"]]),
            "crawler.jobs_per_cycle": sum(r["jobs"] for r in roll) / n,
            "crawler.tasks_per_cycle": sum(r["tasks"] for r in roll) / n,
            "crawler.job_s_per_cycle": _mean([r["job_s"] for r in roll]),
            "crawler.driver_gap_s_per_cycle": _mean(
                [r["driver_gap_s"] for r in roll]),
            "crawler.executor_cpu_s_per_cycle": _mean([r["cpu_s"] for r in roll]),
            "crawler.gc_s_per_cycle": _mean([r["gc_s"] for r in roll]),
            "crawler.shuffle_read_bytes_per_cycle": _mean(
                [r["shuffle_read_bytes"] for r in roll]),
            "crawler.shuffle_write_bytes_per_cycle": _mean(
                [r["shuffle_write_bytes"] for r in roll]),
            "crawler.spill_bytes_per_cycle": _mean(
                [r["spill_bytes"] for r in roll]),
            "crawler.links_found": found / rounds,
            "crawler.links_new": new / rounds,
            "crawler.dedup_hit_ratio": hits / max(1, hits + new),
            "crawler.errors": sum(o["errors"] for o in cycles) / rounds,
        })
        windows = [(sp.start, sp.end) for sp in spans.items
                   if sp.name.startswith("cycle.")]

        def timed(key):
            return [c for c in calls.get(key, [])
                    if any(a <= c.end <= b for a, b in windows)]
        # counts and sums per round: the same work in every round
        commits = timed("SnapshotStore.commit")
        m["storage.commits"] = len(commits) / rounds
        m["storage.commit_s"] = _median([c.wall for c in commits])
        m["storage.commit_bytes"] = _median(res.extra["commit_bytes"])
        m["storage.append_s"] = sum(
            c.wall for c in timed("AppendLog.append")) / rounds
        m["storage.load_s"] = sum(
            c.wall for c in timed("SnapshotStore.load")) / rounds
        adds = timed("PartitionedBloom.add")
        m["bloom.adds"] = len(adds) / rounds
        m["bloom.add_s"] = _median([c.wall for c in adds])
        m["bloom.fpr_est"] = res.extra.get("bloom_fpr_est") or 0.0

        rates = kernel_rates(res)
        m["handlers.kernel_pages_per_s"] = rates["handlers.kernel_pages_per_s"]
        m["robots.is_allowed_per_s"] = rates["robots.is_allowed_per_s"]
        # executor run time of the stages that ran the handler kernel (SQL
        # plans with MapInPandas, stages that ran Python), per page, over
        # the pure kernel's time per page
        kernel_run_s = 0.0
        for r in roll:
            jobs = log.jobs_in(r["name"])
            kernel_run_s += log.task_totals(
                jobs, lambda j, sid: sid in log.stage_python
                and "MapInPandas" in log.sql_plans.get(j.sql_id, ""))["run_s"]
        if rates["kernel_s"]:
            m["handlers.spark_overhead_ratio"] = kernel_run_s / rates["kernel_s"]

    if "cold" in res.extra:
        x = res.extra
        m["suite.cold_s"] = x["suite_cold_s"]
        m["suite.warm_s"] = x["suite_warm_s"]
        m["suite.warm_passes"] = x["warm_passes"]
        # share of warm query wall spent inside Spark jobs; the rest is
        # building, planning and driver work, which does not grow with rows
        warm = [sp for sp in spans.items if sp.name.endswith(".warm")]
        job_s = sum(union_s([(j.start, j.end if j.end is not None else sp.end)
                             for j in log.jobs_in(sp.name)], sp.start, sp.end)
                    for sp in warm)
        wall = sum(sp.end - sp.start for sp in warm)
        m["suite.job_s_share"] = job_s / wall if wall else 0.0
        for q in SUITE_QUERIES:
            jobs = log.jobs_in(f"query.{q}.cold")
            tot = log.task_totals(jobs)
            m[f"query.{q}.plan_s"] = x["plan_s"].get(q, 0.0)
            m[f"query.{q}.cold_s"] = x["cold"].get(q) or 0.0
            m[f"query.{q}.warm_s"] = _median(x["warm"].get(q, []))
            m[f"query.{q}.executor_cpu_s"] = tot["cpu_s"]
            m[f"query.{q}.shuffle_bytes"] = (tot["shuffle_read_bytes"]
                                             + tot["shuffle_write_bytes"])
    return m
