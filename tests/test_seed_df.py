"""DataFrame-native seeding (the 10^10-URL seed-list path)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from supercrawler_spark import fixtures
from supercrawler_spark.crawler import CrawlConfig, SparkCrawler
from supercrawler_spark.oracle import OracleConfig, OracleCrawler, web_pages_dict


def test_seed_df_matches_list_seed_and_crawls(spark):
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    web_df = spark.createDataFrame(web)
    url_sorted = sorted(seeds["url"])

    # list path (sorted so both paths assign identical seqs)
    cr_a = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                        CrawlConfig(budget=8, order_mode="random"))
    cr_a.seed(url_sorted)
    cr_a.crawl(max_cycles=100)

    # DataFrame path
    cr_b = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                        CrawlConfig(budget=8, order_mode="random"))
    n = cr_b.seed_df(spark.createDataFrame([(u,) for u in seeds["url"]],
                                           ["url"]))
    assert n == len(set(seeds["url"]))
    cr_b.crawl(max_cycles=100)

    assert cr_a.crawl_order == cr_b.crawl_order
    assert cr_a.seen_urls() == cr_b.seen_urls()

    # and both match the oracle
    ora = OracleCrawler(web_pages_dict(web),
                        OracleConfig(budget=8, order_mode="random"))
    ora.seed(url_sorted)
    res = ora.crawl(max_rounds=100)
    assert cr_b.crawl_order == res.crawl_order


def test_seed_df_dedups_and_anti_joins(spark):
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    web_df = spark.createDataFrame(web)
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(budget=4, order_mode="random"))
    cr.seed(["http://host0.example/index.html"])
    dup_df = spark.createDataFrame(
        [("http://host0.example/index.html",),   # already seeded
         ("http://new.example/a",), ("http://new.example/a",),  # in-batch dup
         ("http://new.example/b",)], ["url"])
    n = cr.seed_df(dup_df)
    assert n == 2
    assert cr.frontier.count() == 3
    assert cr.frontier.select("seq").distinct().count() == 3  # dense, unique


def test_seed_df_fifo_order_col(spark):
    _, web, _ = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    web_df = spark.createDataFrame(web)
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(budget=2, order_mode="fifo",
                                  robots_enabled=False))
    rows = [(f"http://h.example/p{i}", 100 - i) for i in range(20)]
    cr.seed_df(spark.createDataFrame(rows, ["url", "rank"]), order_col="rank")
    pdf = cr.frontier_pdf()  # ordered by seq
    got = list(pdf["url"])
    want = [u for u, _ in sorted(rows, key=lambda r: (r[1], r[0]))]
    assert got == want


def test_seed_df_scale_1m(spark):
    """1M-row DataFrame seed: distributed dense seqs, no driver list."""
    web_schema = "url string, status_code int, content_type string, location string, body binary"
    web_df = spark.createDataFrame([], schema=web_schema)
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(budget=4, order_mode="random",
                                  robots_enabled=False))
    urls = spark.range(1_000_000).select(
        F.concat(F.lit("http://h"), F.col("id") % 997,
                 F.lit(".example/p"), F.col("id")).alias("url"))
    n = cr.seed_df(urls)
    assert n == 1_000_000
    assert cr.max_seq == 999_999
    agg = cr.frontier.agg(F.count(F.lit(1)).alias("n"),
                          F.countDistinct("seq").alias("d"),
                          F.min("seq").alias("lo"),
                          F.max("seq").alias("hi")).collect()[0]
    assert (agg["n"], agg["d"], agg["lo"], agg["hi"]) == \
        (1_000_000, 1_000_000, 0, 999_999)
    # base layer is parquet-backed (committed), delta empty
    assert cr._delta is None and cr._base is not None
    # and the engine can immediately run cycles on it
    stats = cr.run_cycle()
    assert stats.popped == 4


def test_parquet_base_due_scan_pushes_down(spark):
    """After compaction the frontier base is parquet-backed, so the
    due-scan predicate must reach the scan (row-group min/max pruning —
    the O1 design)."""
    web_df = spark.createDataFrame(
        [], schema="url string, status_code int, content_type string, location string, body binary")
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(budget=4, order_mode="random",
                                  robots_enabled=False))
    urls = spark.range(10_000).select(
        F.concat(F.lit("http://h"), F.col("id") % 97,
                 F.lit(".example/p"), F.col("id")).alias("url"))
    cr.seed_df(urls)
    due = cr.frontier.filter(F.col("next_fetch_time") < F.lit(0.0))
    plan = due._sc._jvm.PythonSQLUtils.explainString(
        due._jdf.queryExecution(), "formatted")
    assert "PushedFilters" in plan and "next_fetch_time" in plan.split(
        "PushedFilters", 1)[1][:200], plan


def test_seed_df_rejects_decay_mode(spark):
    web_df = spark.createDataFrame(
        [], schema="url string, status_code int, content_type string, location string, body binary")
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(order_mode="decay"))
    with pytest.raises(ValueError):
        cr.seed_df(spark.createDataFrame([("http://a/",)], ["url"]))


def test_seed_df_then_resume_keeps_bloom_complete(spark):
    """The bloom table persisted by seed_df's snapshot commit must already
    contain every seeded URL: a resume() restores the filter verbatim, and
    a filter missing the seeds would mark them 'definitively never seen',
    bypass the exact verify, and re-insert duplicate frontier rows."""
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    web_df = spark.createDataFrame(web)

    def cfg():
        return CrawlConfig(budget=4, order_mode="random", use_bloom=True,
                           bloom_partitions=4, bloom_capacity=1 << 12,
                           checkpoint_every=1)

    wd = tempfile.mkdtemp()
    c1 = SparkCrawler(spark, web_df, wd, cfg())
    n = c1.seed_df(spark.createDataFrame([(u,) for u in seeds["url"]], ["url"]))
    assert n > 0

    # resume in a fresh engine straight off the seed snapshot
    c2 = SparkCrawler(spark, web_df, wd, cfg())
    assert c2.resume()
    seeded = spark.createDataFrame([(u,) for u in set(seeds["url"])], ["url"])
    flagged = c2._bloom.maybe_seen_flag(spark, seeded, "url").toPandas()
    assert flagged["_maybe_seen"].all()  # restored filter knows the seeds

    c2.crawl(max_cycles=100)
    # unique-url invariant holds through seed_df → resume → crawl
    n_rows = c2.frontier.count()
    n_urls = c2.frontier.select("url").distinct().count()
    assert n_rows == n_urls

def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg VERSION-AS-OF analog: each retained snapshot is
    self-describing (per-version manifest), load_as_of reads an older
    frontier than the live one, GC'd versions return None, and the
    engine's frontier_as_of surfaces it."""
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler
    from supercrawler_spark.storage import SnapshotStore

    # store-level: three commits, read the middle one back
    st = SnapshotStore(str(tmp_path / "snaps"))
    for i in range(3):
        df = spark.createDataFrame([(i, f"row{i}")], "v int, s string")
        st.commit({"t": df}, meta={"i": i}, keep_last=2)
    assert st.versions() == [1, 2]          # v0 GC'd by keep_last=2
    assert st.load_as_of(spark, "t", 0) is None
    mid = st.load_as_of(spark, "t", 1).collect()
    assert [(r["v"], r["s"]) for r in mid] == [(1, "row1")]
    assert st.manifest_as_of(1)["meta"] == {"i": 1}

    # engine-level: the frontier at an earlier committed version has
    # fewer URLs than the live view after more crawling
    web_df = spark.createDataFrame(
        [(f"http://h0.example/p{i}", 200, "text/html", None,
          f"<a href='/p{i+1}'>n</a>".encode()) for i in range(12)],
        "url string, status_code int, content_type string, "
        "location string, body binary")
    cr = SparkCrawler(spark, web_df, str(tmp_path / "wd"),
                      CrawlConfig(budget=2, order_mode="fifo",
                                  robots_enabled=False,
                                  checkpoint_every=2))
    cr.seed(["http://h0.example/p0"])
    cr.crawl(max_cycles=8)
    versions = cr.store.versions()
    assert len(versions) >= 2
    old = cr.frontier_as_of(versions[0])
    assert old is not None
    n_old, n_live = old.count(), cr.frontier.count()
    assert n_old < n_live


def test_seed_df_hosts_of_urls_parse_url_rejects(spark):
    """seed_df takes each row's host from ``urls.hostname_of``, like the
    list seed and the oracle; Spark's ``parse_url`` raises INVALID_URL on
    these URLs under ANSI mode."""
    from supercrawler_spark import urls

    _, web, _ = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    odd = ["http://host0.example/x y.html", "http://host0.example/a|b",
           "http://host0.example/{t}", "http://Host1.example:8080/p%zz"]
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=4, order_mode="random"))
    assert cr.seed_df(spark.createDataFrame([(u,) for u in odd], ["url"])) == 4
    hosts = dict(cr.frontier.select("url", "host").collect())
    assert hosts == {u: urls.hostname_of(u) for u in odd}
    assert hosts["http://Host1.example:8080/p%zz"] == "host1.example"
