"""End-to-end crawl equivalence vs the pure-Python reference simulator.

north_rule: identical crawl ordering and URL-seen set under the same seed
list and politeness budget; resumable from checkpoint.
"""

import math
import tempfile

import pytest

from supercrawler_spark import crawler as crawler_mod
from supercrawler_spark import fixtures
from supercrawler_spark.crawler import CrawlConfig, SparkCrawler
from supercrawler_spark.oracle import OracleConfig, OracleCrawler, web_pages_dict


@pytest.fixture(scope="module")
def small_web(spark):
    seeds, web, images = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    return seeds, web, spark.createDataFrame(web)


def run_pair(spark, seeds, web_pdf, web_df, budget, mode, max_cycles=100,
             **kw):
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(budget=budget, order_mode=mode, **kw)
    cr = SparkCrawler(spark, web_df, wd, cfg)
    cr.seed(list(seeds["url"]))
    cr.crawl(max_cycles=max_cycles)
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=budget, order_mode=mode, **kw))
    ora.seed(list(seeds["url"]))
    res = ora.crawl(max_rounds=max_cycles)
    return cr, res


def assert_parity(cr, res, check_order=True):
    if check_order:
        assert cr.crawl_order == res.crawl_order
    assert cr.seen_urls() == res.seen_urls()
    eng = {}
    for _, r in cr.frontier_pdf().iterrows():
        s = r["status_code"]
        s = None if (s is None or (isinstance(s, float) and math.isnan(s))) else int(s)
        eng[r["url"]] = (s, r["error_code"], int(r["num_errors"]))
    ora = {u: (st, ec, ne) for u, (st, ec, em, ne) in res.final_states().items()}
    assert eng == ora


def test_batch_budget_parity(spark, small_web):
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=8, mode="random")
    assert_parity(cr, res)


def test_fifo_parity(spark, small_web):
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=4, mode="fifo")
    assert_parity(cr, res)


def test_sequential_reference_order(spark):
    """budget=1 == the reference's one-URL-at-a-time loop exactly."""
    seeds, web_pdf, images = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    web_df = spark.createDataFrame(web_pdf)
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=1, mode="random",
                       max_cycles=60)
    assert_parity(cr, res)


def test_decay_priority_parity(spark, small_web):
    """RedisUrlList hostname-balancing decay scores (A1): flooding hosts
    drain later; engine (applyInPandas recurrence) == oracle (sequential)."""
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=4, mode="decay",
                       virtual_start_ms=1e12)
    assert_parity(cr, res)
    assert cr.host_delay.memo  # state carried
    # oracle's host_delay must match the engine's final state
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=4, order_mode="decay",
                                     virtual_start_ms=1e12))
    ora.seed(list(seeds["url"]))
    ora.crawl(max_rounds=100)
    for h, (d_e, l_e) in cr.host_delay.memo.items():
        d_o, l_o = ora.host_delay[h]
        assert abs(d_e - d_o) < 1e-9 and l_e == l_o


def test_per_host_cap_parity(spark, small_web):
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=6, mode="random",
                       per_host_cap=2)
    assert_parity(cr, res)


def test_salted_pop_identical_to_unsalted(spark, small_web):
    """O12 skew guard: the two-stage salted pop returns EXACTLY the same
    crawl as the plain per-host window (per-host top-cap is contained in
    the union of per-salt top-caps) — and thus still matches the oracle."""
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=6, mode="random",
                       per_host_cap=2, host_salt_buckets=4)
    assert_parity(cr, res)


def test_adaptive_exec_parity(spark, small_web):
    """AQE on (the hot-host skew-join config for huge budgets) must not
    change results — guards the adaptive_exec knob against plan-semantics
    drift. (Engine-only knob: the oracle has no AQE notion.)"""
    seeds, web_pdf, web_df = small_web
    wd = tempfile.mkdtemp()
    try:
        cr = SparkCrawler(spark, web_df, wd,
                          CrawlConfig(budget=8, order_mode="random",
                                      adaptive_exec=True))
        cr.seed(list(seeds["url"]))
        cr.crawl(max_cycles=100)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=8, order_mode="random"))
    ora.seed(list(seeds["url"]))
    res = ora.crawl(max_rounds=100)
    assert_parity(cr, res)


def test_robots_disabled_parity(spark, small_web):
    seeds, web_pdf, web_df = small_web
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=8, mode="random",
                       robots_enabled=False)
    assert_parity(cr, res)
    # with robots off, /private/ pages get crawled
    assert any("/private/" in u for u in cr.seen_urls()
               if not cr.frontier_pdf().empty)


def test_robots_policy_matrix(spark):
    """6 hosts cycle through robots status 200/200/404/500/600/410
    (fixtures) — Crawler.js:469-491 policy."""
    seeds, web_pdf, images = fixtures.make_web_fixture(n_hosts=6, pages_per_host=2)
    web_df = spark.createDataFrame(web_pdf)
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=16, mode="random")
    assert_parity(cr, res)
    pdf = cr.frontier_pdf()
    by_host = {}
    for _, r in pdf.iterrows():
        if r["url"].endswith("/index.html"):
            by_host[r["url"].split("/")[2]] = r["error_code"]
    # robots 200/404/410 hosts crawl fine; 500 (no ignore flag) and 600 deny
    assert by_host["host0.example"] is None
    assert by_host["host2.example"] is None          # 404 → allow-all
    assert by_host["host5.example"] is None          # 410 → allow-all
    assert by_host["host3.example"] == "ROBOTS_NOT_ALLOWED"  # 500
    assert by_host["host4.example"] == "ROBOTS_NOT_ALLOWED"  # 600


def test_robots_ignore_server_error(spark):
    seeds, web_pdf, images = fixtures.make_web_fixture(n_hosts=6, pages_per_host=2)
    web_df = spark.createDataFrame(web_pdf)
    cr, res = run_pair(spark, seeds, web_pdf, web_df, budget=16, mode="random",
                       robots_ignore_server_error=True)
    assert_parity(cr, res)
    pdf = cr.frontier_pdf()
    host3 = {r["url"]: r["error_code"] for _, r in pdf.iterrows()
             if "host3.example" in r["url"]}
    assert host3["http://host3.example/index.html"] is None


def test_resume_equals_uninterrupted(spark, small_web):
    seeds, web_pdf, web_df = small_web
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(budget=8, order_mode="random", checkpoint_every=1)
    c1 = SparkCrawler(spark, web_df, wd, cfg)
    c1.seed(list(seeds["url"]))
    c1.crawl(max_cycles=3)
    c2 = SparkCrawler(spark, web_df, wd, cfg)
    assert c2.resume()
    c2.crawl(max_cycles=100)

    wd3 = tempfile.mkdtemp()
    c3 = SparkCrawler(spark, web_df, wd3, cfg)
    c3.seed(list(seeds["url"]))
    c3.crawl(max_cycles=100)
    cols = ["url", "status_code", "error_code", "num_errors", "seq"]
    a = c2.frontier_pdf()[cols].sort_values("url").reset_index(drop=True)
    b = c3.frontier_pdf()[cols].sort_values("url").reset_index(drop=True)
    assert a.equals(b)


def test_image_payload_invariants(spark, small_web):
    """Crawled image bodies decode to pixels matching the images fixture:
    PSNR >= 40 dB lossy / exact lossless + caption equality (input_hint)."""
    import numpy as np

    from supercrawler_spark import imaging

    seeds, web_pdf, web_df = small_web
    _, _, images = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    wd = tempfile.mkdtemp()
    cr = SparkCrawler(spark, web_df, wd, CrawlConfig(budget=8))
    cr.seed(list(seeds["url"]))
    cr.crawl(max_cycles=100)
    crawled = {u for u in cr.seen_urls() if "/media/photo-" in u}
    assert crawled, "gallery links should have been discovered"
    img_by_id = {r["image_id"]: r for _, r in images.iterrows()}
    rows = web_pdf[web_pdf["body_image_id"].notna() & web_pdf["url"].isin(crawled)]
    assert len(rows) > 0
    for _, r in rows.iterrows():
        fix = img_by_id[r["body_image_id"]]
        got_px, w, h, fmt = imaging.decode_image(bytes(r["body"]))
        ref_px = imaging.synth_pixels(fix["image_id"], fix["w"], fix["h"])
        assert (w, h) == (fix["w"], fix["h"])
        if fmt == "png":
            assert np.array_equal(got_px, ref_px)
        else:
            assert imaging.psnr(got_px, ref_px) >= 40.0
        assert fix["caption"] == f"synthetic caption {int(fix['image_id'][4:])} for {fix['image_id']}"


def test_distributed_seq_assignment_parity(spark, small_web, monkeypatch):
    """Forcing the range-partitioned offset seq scheme on EVERY cycle
    (SEQ_PARTITION_THRESHOLD=0) yields bit-identical crawl order and
    frontier seqs vs the flat-window path — the sitemap-dump scale path
    has the same semantics."""
    seeds, web, web_df = small_web
    results = []
    for threshold in (0, 1 << 30):
        monkeypatch.setattr(crawler_mod, "SEQ_PARTITION_THRESHOLD", threshold)
        wd = tempfile.mkdtemp()
        cr = SparkCrawler(spark, web_df, wd,
                          CrawlConfig(budget=6, order_mode="random"))
        cr.seed(list(seeds["url"]))
        cr.crawl(max_cycles=60)
        pdf = cr.frontier_pdf()
        results.append((cr.crawl_order,
                        list(pdf["url"]), list(pdf["seq"])))
    assert results[0][0] == results[1][0]  # identical crawl order
    assert results[0][1] == results[1][1]  # identical url-by-seq order
    assert results[0][2] == results[1][2]  # identical dense seqs


def test_assign_dense_seq_equals_flat_window(spark):
    """``assign_dense_seq`` on 20k links of 20 sitemap-sized pages: every
    url gets the seq a flat single-partition ``row_number`` window gives
    it in the same order, and no partition of the result holds every row
    (the scheme has no single-task stage)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n, start = 20_000, 999
    order = ["batch_idx", "source_order", "link_idx"]
    links = spark.range(n).select(
        (F.col("id") / (n // 20)).cast("long").alias("batch_idx"),
        F.lit(1).alias("source_order"),
        (F.col("id") % (n // 20)).alias("link_idx"),
        F.concat(F.lit("http://h"), F.col("id") % 499,
                 F.lit(".example/p"), F.col("id")).alias("url")
    ).repartition(8)
    dist, count = crawler_mod.assign_dense_seq(spark, links, order, start)
    flat = links.select("url", (F.lit(start) + F.row_number().over(
        Window.partitionBy(F.lit(0)).orderBy(*order))).alias("seq"))
    got = {r["url"]: r["seq"] for r in dist.select("url", "seq").collect()}
    want = {r["url"]: r["seq"] for r in flat.collect()}
    assert count == len(got) == n
    assert got == want
    sizes = [r["n"] for r in dist.groupBy(F.spark_partition_id())
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert sum(sizes) == n and max(sizes) < n, sizes


def test_decay_resume_and_table_carried_host_state(spark, small_web):
    """Decay (RedisUrlList) mode: per-host delay state survives kill/resume
    via the snapshot host_delay TABLE, the manifest JSON carries no
    O(hosts) entry, and the resumed crawl equals the uninterrupted one."""
    import json
    import os

    seeds, web_pdf, web_df = small_web

    def cfg():
        return CrawlConfig(budget=4, order_mode="decay",
                           virtual_start_ms=1e12, checkpoint_every=1)

    wd_a = tempfile.mkdtemp()
    c_a = SparkCrawler(spark, web_df, wd_a, cfg())
    c_a.seed(list(seeds["url"]))
    c_a.crawl(max_cycles=60)

    wd_b = tempfile.mkdtemp()
    c_b1 = SparkCrawler(spark, web_df, wd_b, cfg())
    c_b1.seed(list(seeds["url"]))
    c_b1.crawl(max_cycles=2)
    assert c_b1.host_delay.base is not None  # table committed
    # manifest meta holds only scalars — no host map
    with open(os.path.join(wd_b, "snapshots", "manifest.json")) as f:
        manifest = json.load(f)
    assert "host_delay" not in manifest["meta"]
    assert "host_delay" in manifest["tables"]

    c_b2 = SparkCrawler(spark, web_df, wd_b, cfg())
    assert c_b2.resume()
    # state restored lazily from the table, not the manifest
    looked = c_b2.host_delay.lookup(
        spark, [h for h in {u.split("/")[2] for _, _, u in c_b1.crawl_order}])
    assert looked  # decayed hosts present in the table
    c_b2.crawl(max_cycles=100)

    assert c_b2.crawl_order == c_a.crawl_order[len(c_b1.crawl_order):]
    assert c_b2.seen_urls() == c_a.seen_urls()
    cols = ["url", "next_fetch_time", "num_errors", "seq"]
    a = c_a.frontier_pdf()[cols].sort_values("url").reset_index(drop=True)
    b = c_b2.frontier_pdf()[cols].sort_values("url").reset_index(drop=True)
    assert a.equals(b)

def _stub_transport_from_web(web_pdf):
    """Picklable stub transport serving the fixture web — the http-mode
    analog of the fetch join's web_pages lookup. Raises on unknown URLs
    (connection failure), returns (status, content_type, location, body)
    otherwise."""
    pages = {rec["url"]: (int(rec["status_code"]), rec.get("content_type"),
                          rec.get("location"), rec.get("body"))
             for rec in web_pdf.to_dict("records")}

    def transport(session, url, options):
        if url not in pages:
            raise ConnectionError(f"no route to {url}")
        return pages[url]

    return transport


def test_http_fetch_mode_parity(spark, small_web):
    """fetch_mode="http" driving the full loop through webfetch.fetch_stage
    (mapInPandas HTTP kernel, stub transport serving the fixture web) must
    produce an identical crawl to the fetch-join path: same crawl order,
    same seen set, same final per-url states vs the oracle."""
    seeds, web_pdf, web_df = small_web
    transport = _stub_transport_from_web(web_pdf)
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(budget=8, order_mode="random", fetch_mode="http",
                      fetch_transport=transport)
    cr_http = SparkCrawler(spark, None, wd, cfg)  # no web table at all
    cr_http.seed(list(seeds["url"]))
    cr_http.crawl(max_cycles=100)

    cr_join, res = run_pair(spark, seeds, web_pdf, web_df, budget=8,
                            mode="random")
    assert cr_http.crawl_order == cr_join.crawl_order
    assert cr_http.seen_urls() == cr_join.seen_urls()
    assert_parity(cr_http, res)


def test_collect_events_off_no_per_url_driver_rows(spark, small_web):
    """O13 (scale posture): a listener-less crawl (collect_events=False)
    keeps every per-URL row executor-resident — the driver may collect
    scalars and host-bounded robots/decay rows only, never the popped
    batch, the outcome fold, or any frontier-shaped frame. Final crawl
    state must still exactly match the oracle (the executor-side upsert
    delta / crawl_log derivation is the same lineage, minus the
    driver round-trip). The spy goes on the session's concrete DataFrame
    class, which overrides collect/toPandas."""
    DataFrame = type(spark.range(0))

    seeds, web_pdf, web_df = small_web
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(budget=8, order_mode="random", collect_events=False)
    cr = SparkCrawler(spark, web_df, wd, cfg)
    cr.seed(list(seeds["url"]))

    collected = []
    orig_collect, orig_topandas = DataFrame.collect, DataFrame.toPandas

    def spy_c(self):
        collected.append(self.schema)
        return orig_collect(self)

    def spy_p(self):
        collected.append(self.schema)
        return orig_topandas(self)

    DataFrame.collect, DataFrame.toPandas = spy_c, spy_p
    try:
        cr.crawl(max_cycles=100)
    finally:
        DataFrame.collect, DataFrame.toPandas = orig_collect, orig_topandas

    # per-URL frames are recognizable by their columns: the popped batch /
    # outcome fold carry batch_idx, frontier rows carry seq, fetch rows
    # carry f_body. (Robots fetches collect url/status/body rows — they
    # are PER-HOST, allowed by the contract, and carry none of these.)
    assert collected, "the spy saw no collect: it is not on the session's class"
    leaked = [s for s in collected
              if any(f.name in ("batch_idx", "seq", "f_body")
                     for f in s.fields)]
    assert not leaked, f"per-URL frames crossed the driver: {leaked}"
    assert cr.crawl_order == []  # events opted out — nothing materialized

    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=8, order_mode="random"))
    ora.seed(list(seeds["url"]))
    res = ora.crawl(max_rounds=100)
    assert_parity(cr, res, check_order=False)


@pytest.mark.parametrize("mode", ["random", "decay"])
def test_host_state_memo_evicts_without_changing_the_crawl(
        spark, small_web, monkeypatch, mode):
    """A one-entry host-state memo evicts on nearly every put and lookup,
    so robots entries and decay delays are served from the dirty set and,
    after each commit (checkpoint_every=1), from the snapshot table. The
    crawl must not notice: same order and final per-URL state as the
    oracle."""
    monkeypatch.setattr(crawler_mod, "HOST_MEMO_SIZE", 1)
    seeds, web_pdf, web_df = small_web
    kw = {"virtual_start_ms": 1e12} if mode == "decay" else {}
    wd = tempfile.mkdtemp()
    cr = SparkCrawler(spark, web_df, wd,
                      CrawlConfig(budget=4, order_mode=mode,
                                  checkpoint_every=1, **kw))
    cr.seed(list(seeds["url"]))
    cr.crawl(max_cycles=100)
    assert len(cr.robots.memo) <= 1 and len(cr.host_delay.memo) <= 1
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=4, order_mode=mode, **kw))
    ora.seed(list(seeds["url"]))
    assert_parity(cr, ora.crawl(max_rounds=100))


def test_cycle_counters_equal_with_and_without_events(spark):
    """Without per-URL events the cycle's counters come from Observations
    on the jobs it already runs (pop, delta fold, Bloom merge); with
    events the robots-denied and error counts come from the collected
    outcome rows. Every counter of every cycle is the same either way
    over the robots-matrix web, also with AQE and the Bloom filter on."""
    seeds, web_pdf, _ = fixtures.make_web_fixture(n_hosts=6, pages_per_host=2)
    web_df = spark.createDataFrame(web_pdf)

    def counters(**kw):
        cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                          CrawlConfig(budget=16, order_mode="random", **kw))
        cr.seed(list(seeds["url"]))
        out = [(s.popped, s.links_found, s.links_new, s.dedup_hits,
                s.robots_denied, s.errors) for s in cr.crawl(max_cycles=100)]
        return out, cr.seen_urls()

    with_events = counters(collect_events=True)
    assert counters(collect_events=False) == with_events
    try:
        adaptive = counters(collect_events=False, adaptive_exec=True,
                            use_bloom=True, bloom_partitions=4,
                            bloom_capacity=1 << 12)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert adaptive == with_events
    totals = [sum(c[i] for c in with_events[0]) for i in range(6)]
    assert all(totals), totals  # every counter is exercised


def _odd_link_web():
    """The 2-host fixture web plus links Spark's ``parse_url`` rejects
    under ANSI mode (a space, ``|``, ``{}``, a bad percent escape) and a
    link with a port; two of them are pages of the web. Its status_code
    column comes out int64 (a long in Spark), wider than the frontier's."""
    import pandas as pd

    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    odd = ["http://host0.example/x y", "/a|b", "/{t}", "/p%zz", "/x y.html",
           "http://HOST1.example:8080/z"]
    anchors = "".join(f'<a href="{h}">odd</a>' for h in odd).encode()
    web = web.copy()
    i = web.index[web["url"] == "http://host0.example/index.html"][0]
    web.at[i, "body"] = web.at[i, "body"].replace(b"</body>",
                                                  anchors + b"</body>")
    extra = [
        {"url": "http://host0.example/x y.html", "host": "host0.example",
         "status_code": 200, "content_type": "text/html", "location": None,
         "body": b'<html><body><a href="/{t}">t</a></body></html>',
         "body_image_id": None},
        {"url": "http://host0.example/a|b", "host": "host0.example",
         "status_code": 404, "content_type": "text/html", "location": None,
         "body": b"gone", "body_image_id": None},
    ]
    return seeds, pd.concat([web, pd.DataFrame(extra)], ignore_index=True)


@pytest.mark.parametrize("robots_enabled", [True, False])
def test_links_parse_url_rejects_crawl_like_the_oracle(spark, robots_enabled):
    """Hosts of discovered links come from the handler kernel
    (``urls.hostname_of``), not from Spark's ``parse_url``, which raises
    INVALID_URL on these links under ANSI mode and killed the cycle."""
    seeds, web_pdf = _odd_link_web()
    cr, res = run_pair(spark, seeds, web_pdf, spark.createDataFrame(web_pdf),
                       budget=4, mode="random",
                       robots_enabled=robots_enabled)
    assert_parity(cr, res)
    seen = cr.seen_urls()
    for u in ("http://host0.example/x y", "http://host0.example/a|b",
              "http://host0.example/{t}", "http://host0.example/p%zz",
              "http://host0.example/x y.html", "http://host1.example:8080/z"):
        assert u in seen
    hosts = dict(cr.frontier.select("url", "host").collect())
    assert hosts["http://host1.example:8080/z"] == "host1.example"
    assert hosts["http://host0.example/x y"] == "host0.example"


def _host_state_part_rows(workdir):
    """(version, table, part number) → rows, for every part file of the
    retained host_delay and robots snapshot tables."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = {}
    for path in glob.glob(os.path.join(workdir, "snapshots", "v*", "*",
                                       "part-*.parquet")):
        version, table = path.split(os.sep)[-3:-1]
        if table in ("host_delay", "robots"):
            part = os.path.basename(path).split("-")[1]
            out[(version, table, part)] = pq.read_table(path).to_pylist()
    return out


def test_host_state_snapshots_are_written_in_key_order(spark):
    """Two identical decay crawls, each killed and resumed, write the same
    rows in the same order into every part file of the host_delay and
    robots snapshot tables."""
    seeds, web_pdf, _ = fixtures.make_web_fixture(n_hosts=4, pages_per_host=2)
    web_df = spark.createDataFrame(web_pdf)

    def crawl():
        cfg = CrawlConfig(budget=4, order_mode="decay", virtual_start_ms=1e12,
                          checkpoint_every=1)
        wd = tempfile.mkdtemp()
        first = SparkCrawler(spark, web_df, wd, cfg)
        first.seed(list(seeds["url"]))
        first.crawl(max_cycles=2)
        resumed = SparkCrawler(spark, web_df, wd, cfg)
        assert resumed.resume()
        resumed.crawl(max_cycles=100)
        return _host_state_part_rows(wd)

    a, b = crawl(), crawl()
    assert {t for _, t, _ in a} == {"host_delay", "robots"}
    assert a == b
    for rows in a.values():
        keys = [next(iter(r.values())) for r in rows]
        assert keys == sorted(keys)


def test_web_pages_from_another_session(spark, small_web):
    """A web table built in another session of the same application crawls
    like the oracle. The cycle's counters are Observations, and an
    Observation completes only through an action in the session of the
    frame it observes, so the frames the cycle observes must not take
    web_pages' session (the crawl would wait forever)."""
    import threading

    seeds, web_pdf, _ = small_web
    web_df = spark.newSession().createDataFrame(web_pdf)
    cr = SparkCrawler(spark, web_df, tempfile.mkdtemp(),
                      CrawlConfig(budget=8, order_mode="random",
                                  collect_events=False))
    cr.seed(list(seeds["url"]))
    done = []
    t = threading.Thread(target=lambda: done.append(cr.crawl(max_cycles=100)),
                         daemon=True)
    t.start()
    t.join(600)
    assert done, "the crawl did not finish"
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=8, order_mode="random"))
    ora.seed(list(seeds["url"]))
    assert_parity(cr, ora.crawl(max_rounds=100), check_order=False)
