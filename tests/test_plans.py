"""Plan-shape asserts for the REAL micro-cycle (PLANS.md run_cycle audit,
programmatic twin): the plans we'd want on a 1000-executor cluster —
due-filter pushdown into the parquet base, batch broadcast into the pages
scan, broadcast semi/anti dedup (frontier never shuffled), no sort-merge or
cartesian anywhere in the cycle."""

import re
import tempfile

import pytest
from pyspark.sql import functions as F

from supercrawler_spark import fixtures
from supercrawler_spark.crawler import CrawlConfig, SparkCrawler


@pytest.fixture(scope="module")
def cycle_plans(spark):
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=6, order_mode="random",
                                  robots_enabled=False))
    cr.seed_df(spark.createDataFrame(
        [(u,) for u in sorted(set(seeds["url"]))], ["url"]))
    sink = {}
    cr.plan_sink = sink
    stats = cr.run_cycle()
    assert stats.popped > 0 and stats.links_found > 0
    return sink


def test_pop_pushes_due_filter_into_parquet_base(cycle_plans):
    p = cycle_plans["pop"]
    assert re.search(
        r"PushedFilters: \[IsNotNull\(next_fetch_time\), "
        r"LessThan\(next_fetch_time", p), p
    assert "TakeOrderedAndProject" in p
    # the frontier base is scanned, never exchanged for the pop
    assert not re.search(r"Exchange hashpartitioning\(next_fetch_time", p)


def test_fetch_join_broadcasts_batch_into_pages(cycle_plans):
    p = cycle_plans["fetch_join"]
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p


def test_kernel_is_single_arrow_stage(cycle_plans):
    p = cycle_plans["kernel"]
    assert re.search(r"MapInPandas|ArrowEvalPython", p), p


def test_dedup_streams_seen_side_through_broadcasts(cycle_plans):
    p = cycle_plans["dedup"]
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "SortMergeJoin" not in p  # frontier never exchanged on url


def test_merge_delta_is_batch_sized(cycle_plans):
    p = cycle_plans["merge"]
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


@pytest.fixture(scope="module")
def robots_cycle_plans(spark):
    """The same cycle with robots checks on."""
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=6, order_mode="random"))
    cr.seed(sorted(set(seeds["url"])))
    sink = {}
    cr.plan_sink = sink
    stats = cr.run_cycle()
    assert stats.popped > 0
    return sink


def test_robots_udf_runs_once_in_the_pinned_batch(robots_cycle_plans):
    """The robots-evaluated batch is pinned as soon as it is built, so the
    fetch join reads stored verdicts and never re-runs the Python UDF."""
    p = robots_cycle_plans["fetch_join"]
    assert "BroadcastHashJoin" in p, p
    assert "ArrowEvalPython" not in p, p


@pytest.fixture(scope="module")
def http_cycle_plans(spark):
    """Same cycle, fetch_mode="http" through the mapInPandas HTTP kernel
    (stub transport serving the fixture web)."""
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    pages = {rec["url"]: (int(rec["status_code"]), rec.get("content_type"),
                          rec.get("location"), rec.get("body"))
             for rec in web.to_dict("records")}

    def transport(session, url, options):
        if url not in pages:
            raise ConnectionError(url)
        return pages[url]

    cr = SparkCrawler(spark, None, tempfile.mkdtemp(),
                      CrawlConfig(budget=6, order_mode="random",
                                  robots_enabled=False, fetch_mode="http",
                                  fetch_transport=transport))
    cr.seed_df(spark.createDataFrame(
        [(u,) for u in sorted(set(seeds["url"]))], ["url"]))
    sink = {}
    cr.plan_sink = sink
    stats = cr.run_cycle()
    assert stats.popped > 0
    return sink


def test_http_fetch_stage_is_arrow_kernel(http_cycle_plans):
    """fetch_mode="http": the fetch is a MapInPandas stage over the
    politeness-budget batch, rejoined to the batch by broadcast — never a
    shuffle or sort-merge."""
    p = http_cycle_plans["fetch_join"]
    assert re.search(r"MapInPandas", p), p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_http_cycle_dedup_and_merge_shapes_unchanged(http_cycle_plans):
    """The rest of the cycle keeps the join-mode plan shapes under
    fetch_mode="http"."""
    assert "SortMergeJoin" not in http_cycle_plans["dedup"]
    assert "SortMergeJoin" not in http_cycle_plans["merge"]
    assert "CartesianProduct" not in http_cycle_plans["merge"]
