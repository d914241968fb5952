"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The event-log test starts a small local Spark session (about a minute on
a 4-core host); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import gates, inputs, workloads  # noqa: E402
from perfbench.layers import E2E_UNITS, LAYER_UNITS, cycle_rollups  # noqa: E402
from perfbench.trace import MethodTimer, Spans, union_s  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    for name, unit in {**E2E_UNITS, **LAYER_UNITS}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_union_s_clips_and_merges():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_s([], 0, 1) == 0.0


def test_inputs_follow_the_seed():
    old_a = inputs.crawled_frontier(1, 200, 10, 0.0)
    old_b = inputs.crawled_frontier(2, 200, 10, 0.0)
    assert old_a.equals(inputs.crawled_frontier(1, 200, 10, 0.0))
    assert list(old_a["url"]) != list(old_b["url"])
    kw = {"n_hosts": 4, "pages_per_host": 5, "links_per_page": 12,
          "filler_bytes": 60}
    seeds_a, web_a = inputs.discovery_web(1, old_urls=list(old_a["url"]),
                                          seeds_per_host=2, **kw)
    seeds_a2, web_a2 = inputs.discovery_web(1, old_urls=list(old_a["url"]),
                                            seeds_per_host=2, **kw)
    seeds_b, web_b = inputs.discovery_web(2, old_urls=list(old_a["url"]),
                                          seeds_per_host=2, **kw)
    assert web_a.equals(web_a2) and seeds_a == seeds_a2
    assert len(web_a) == len(web_b) and len(seeds_a) == len(seeds_b) == 8
    assert seeds_a != seeds_b   # the due set follows the seed

    def targets(web):
        return [re.findall(rb'href="([^"]*)"', b) for b in web["body"]]
    assert targets(web_a) != targets(web_b)
    t1 = inputs.suite_tables(1, 50, 20, 100, 320)
    t2 = inputs.suite_tables(2, 50, 20, 100, 320)
    assert {k: len(v) for k, v in t1.items()} == {k: len(v) for k, v in t2.items()}
    assert not t1["documents"]["text"].equals(t2["documents"]["text"])


# ---------------------------------------------------------------------------
# correctness gates on corrupted results
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def oracle_crawl():
    """A small crawl run by the oracle: its final rows serve as a correct
    engine frontier for the gate."""
    from supercrawler_spark import CrawlConfig
    old = inputs.crawled_frontier(5, 300, 20, workloads.CRAWL_T0)
    seeds, web = inputs.discovery_web(
        5, n_hosts=4, pages_per_host=6, links_per_page=10, filler_bytes=60,
        old_urls=list(old["url"]))
    start = workloads.initial_frontier(old, seeds)
    cfg = CrawlConfig(budget=8, per_host_cap=4, order_mode="random")
    seen, states, _ = workloads.oracle_states(web, start, cfg, rounds=3)
    frontier = pd.DataFrame(
        [(u, *states[u]) for u in sorted(seen)],
        columns=["url", "status_code", "error_code", "error_message",
                 "num_errors"])
    initial = set(start["url"])
    return frontier, initial, len(seen - initial), seen, states


FULL = ([8, 8, 8], 8)   # three cycles, each popping the full budget of 8


def test_crawl_gate_accepts_the_oracle_result(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    assert n_new > 0
    assert gates.crawl_gate(frontier, initial, n_new, seen, states,
                            *FULL) == []


def test_crawl_gate_fails_on_a_dropped_frontier_row(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    dropped = frontier.drop(index=frontier.index[0])
    assert gates.crawl_gate(dropped, initial, n_new, seen, states, *FULL)


def test_crawl_gate_fails_on_a_duplicate_row(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    dup = pd.concat([frontier, frontier.iloc[[0]]], ignore_index=True)
    assert gates.crawl_gate(dup, initial, n_new, seen, states, *FULL)


def test_crawl_gate_fails_on_a_changed_state(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    crawled = frontier.index[frontier["status_code"].notna()][0]
    bad = frontier.copy()
    bad.loc[crawled, "num_errors"] = 3
    assert gates.crawl_gate(bad, initial, n_new, seen, states, *FULL)


def test_crawl_gate_fails_on_a_wrong_links_new_sum(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    assert gates.crawl_gate(frontier, initial, n_new + 1, seen, states,
                            *FULL)


def test_crawl_gate_fails_on_a_cycle_below_the_budget(oracle_crawl):
    frontier, initial, n_new, seen, states = oracle_crawl
    assert gates.crawl_gate(frontier, initial, n_new, seen, states,
                            [8, 8, 5], 8)


def test_the_crawl_web_fills_every_cycle_of_a_round():
    """Every cycle of a benchmark round pops the full budget, by the
    oracle, on the benchmark's own input geometry."""
    from supercrawler_spark import CrawlConfig
    old = inputs.crawled_frontier(3, t0=workloads.CRAWL_T0,
                                  **workloads.CRAWL_OLD)
    seeds, web = inputs.discovery_web(3, old_urls=list(old["url"]),
                                      **workloads.CRAWL_WEB)
    start = workloads.initial_frontier(old, seeds)
    cfg = CrawlConfig(**workloads.CRAWL_CFG)
    _, _, popped = workloads.oracle_states(web, start, cfg,
                                           workloads.CRAWL_ROUND)
    assert popped == [cfg.budget] * workloads.CRAWL_ROUND
    assert workloads.CRAWL_ROUND % cfg.checkpoint_every == 0


def test_method_timer_records_and_restores():
    class Store:
        def commit(self, x):
            return x + 1
    orig = Store.commit
    timer = MethodTimer([(Store, "commit")])
    assert Store().commit(1) == 2
    timer.restore()
    assert Store.commit is orig
    (call,) = timer.calls["Store.commit"]
    assert call.wall >= 0 and call.end > 0


def test_query_gate_fails_on_an_altered_row():
    from scripts.check_correctness import compare
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert gates.query_gate(want.iloc[::-1].copy(), want, compare) == []
    altered = want.copy()
    altered.loc[1, "v"] = 9.0
    assert gates.query_gate(altered, want, compare)
    assert gates.query_gate(want.iloc[:2], want, compare)
    assert gates.query_gate(want.iloc[:0], None, compare)
    assert gates.query_gate(want, None, compare) == []


# ---------------------------------------------------------------------------
# event-log job attribution on a tiny crawl
# ---------------------------------------------------------------------------

def test_event_log_attributes_every_cycle_job(tmp_path):
    from pyspark.sql import functions as F

    from perfbench import run
    from perfbench.trace import read_event_log
    from supercrawler_spark import CrawlConfig, SparkCrawler
    from supercrawler_spark import functions as SF
    from supercrawler_spark.crawler import FRONTIER_SCHEMA
    from supercrawler_spark.storage import SnapshotStore

    work, events = str(tmp_path / "work"), str(tmp_path / "events")
    spark = run.open_session(work, events)
    try:
        spans = Spans(spark.sparkContext)
        old = inputs.crawled_frontier(7, 200, 10, workloads.CRAWL_T0)
        seeds, web = inputs.discovery_web(
            7, n_hosts=3, pages_per_host=4, links_per_page=6,
            filler_bytes=30, old_urls=list(old["url"]))
        start = workloads.initial_frontier(old, seeds)
        web_df = spark.read.parquet(workloads.write_parquet(
            web, os.path.join(work, "web"), 2))
        front = (spark.createDataFrame(start, schema=FRONTIER_SCHEMA)
                 .withColumn("url_hash", SF.url_hash(F.col("url"))))
        SnapshotStore(os.path.join(work, "crawl", "snapshots")).commit(
            {"frontier": front},
            meta={"cycle_id": 0, "cycle_time": workloads.CRAWL_T0,
                  "max_seq": int(start["seq"].max())})
        cr = SparkCrawler(spark, web_df, os.path.join(work, "crawl"),
                          CrawlConfig(budget=6, checkpoint_every=2,
                                      collect_events=False))
        with spans.span("setup.seed"):
            assert cr.resume()
        for i in range(2):
            with spans.span(f"cycle.{i}"):
                cr.run_cycle()
    finally:
        spark.stop()
        run.stop_jvm()
    log = read_event_log(events)
    cycles = [s for s in spans.items if s.name.startswith("cycle.")]
    for sp in cycles:
        mine = log.jobs_in(sp.name)
        assert mine, sp.name
        for j in mine:
            assert sp.start - 0.5 <= j.start <= sp.end + 0.5
    # every job submitted while a cycle ran is attributed to that cycle
    for j in log.jobs.values():
        for sp in cycles:
            if sp.start + 0.05 < j.start < sp.end - 0.05:
                assert j.group == sp.name, (j.job_id, j.group, sp.name)
    for r in cycle_rollups(spans, log):
        assert r["jobs"] > 0 and r["tasks"] > 0
        assert abs(r["job_s"] + r["driver_gap_s"] - r["wall"]) < 1e-9
        assert 0 <= r["job_s"] <= r["wall"]


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark cannot import the engine: it must fail fast, printing no
    result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
