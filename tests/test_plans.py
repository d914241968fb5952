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
def bloom_cycle(spark):
    """The same cycle with the Bloom seen filter on. Every frame the
    driver collects during the cycle is recorded by schema (the spy goes
    on the session's concrete DataFrame class, which overrides
    collect/toPandas)."""
    DataFrame = type(spark.range(0))
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=6, use_bloom=True, bloom_partitions=4,
                                  bloom_capacity=1 << 12,
                                  robots_enabled=False))
    cr.seed_df(spark.createDataFrame(
        [(u,) for u in sorted(set(seeds["url"]))], ["url"]))
    sink, collected = {}, []
    cr.plan_sink = sink
    orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas

    def spy_collect(self):
        collected.append(self.schema)
        return orig_collect(self)

    def spy_topandas(self):
        collected.append(self.schema)
        return orig_topandas(self)

    DataFrame.collect, DataFrame.toPandas = spy_collect, spy_topandas
    try:
        stats = cr.run_cycle()
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas
    assert stats.popped > 0 and stats.links_new > 0
    return sink, collected


def test_bloom_dedup_is_cogroup_probe_then_broadcast_verify(bloom_cycle):
    """With the Bloom on, candidates meet the bitset table in a cogroup
    (no Python UDF holding a broadcast bit matrix) and the suspects'
    exact verify still streams the frontier through broadcast joins."""
    p = bloom_cycle[0]["dedup"]
    assert "FlatMapCoGroupsInPandas" in p, p
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "ArrowEvalPython" not in p, p
    assert "SortMergeJoin" not in p


def test_bloom_cycle_never_ships_bitsets_to_driver(bloom_cycle):
    """A whole Bloom cycle (probe, verify, add, commit) collects no frame
    with a bitset column: the bit matrix stays executor-side."""
    collected = bloom_cycle[1]
    assert collected
    assert not [s for s in collected if "bitset" in s.fieldNames()]


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


def _steady_cycles(spark, collect_events):
    """A robots-on, Bloom-on crawl, each cycle run in its own job group;
    returns [(jobs, generated classes compiled)] per cycle for four
    non-commit cycles."""
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=6, use_bloom=True, bloom_partitions=4,
                                  bloom_capacity=1 << 12,
                                  collect_events=collect_events))
    cr.seed(sorted(set(seeds["url"])))
    out = []
    for i in range(4):
        group = f"steady-cycle-{id(cr)}-{i}"
        compiled = codegen.METRIC_COMPILATION_TIME().getCount()
        sc.setJobGroup(group, group)
        try:
            stats = cr.run_cycle()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats.popped > 0
        assert cr.cycle_id % cr.config.checkpoint_every != 0  # no commit
        out.append((len(sc.statusTracker().getJobIdsForGroup(group)),
                    codegen.METRIC_COMPILATION_TIME().getCount() - compiled))
    return out


@pytest.fixture(scope="module")
def steady_cycles(spark):
    """The steady crawl without per-URL events."""
    return _steady_cycles(spark, collect_events=False)


@pytest.fixture(scope="module")
def steady_event_cycles(spark):
    """The steady crawl with per-URL events collected to the driver."""
    return _steady_cycles(spark, collect_events=True)


def test_steady_cycle_runs_at_most_15_jobs(steady_cycles):
    """Counters ride on jobs the cycle already runs (Observations on the
    pop, the delta fold and the Bloom merge) and the robots keys sort on
    the driver: a steady non-commit cycle runs at most 15 Spark jobs."""
    jobs = steady_cycles[1][0]
    assert jobs <= 15, steady_cycles


def test_steady_cycle_reuses_generated_code(steady_cycles):
    """The codegen cache holds a crawl's working set: the 4th cycle
    compiles only the classes whose literals changed (a cache of 100
    entries recompiles ~140 classes every cycle)."""
    compiled = steady_cycles[3][1]
    assert compiled < 40, steady_cycles


def test_steady_event_cycle_runs_at_most_15_jobs(steady_event_cycles):
    """With per-URL events on, the outcome rows are the cycle's one per-URL
    collect: the crawl order is read from them, and the robots-denied and
    error counts stay Observations, so events add one job to the
    events-off cycle."""
    jobs = steady_event_cycles[1][0]
    assert jobs <= 15, steady_event_cycles
