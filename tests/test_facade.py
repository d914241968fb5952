"""Reference-compatible API facade: handlers, events, url list semantics."""

import pytest

from supercrawler_spark import fixtures
from supercrawler_spark.facade import Crawler
from supercrawler_spark.handlers import html_link_parser, robots_parser, sitemaps_parser


@pytest.fixture(scope="module")
def web_df(spark):
    _, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    return spark.createDataFrame(web), web


def test_full_event_stream_and_custom_handler(spark, web_df):
    df, web_pdf = web_df
    events = []

    def custom_handler(body, url, content_type):
        # runs inside executors; observable via the links it contributes
        if url.endswith("/index.html"):
            return [f"http://{url.split('/')[2]}/from-custom-handler.html"]
        return "not-a-list"  # coerced to [] (Crawler.spec.js:964-980)

    crawler = (Crawler(spark, df, interval=1000, concurrent_requests_limit=8,
                       url_list="db")
               .add_handler("text/html", html_link_parser())
               .add_handler("text/plain", robots_parser())
               .add_handler(["application/xml", "application/x-gzip"],
                            sitemaps_parser())
               .add_handler(custom_handler))  # one-arg wildcard form
    for ev in ("crawlurl", "crawledurl", "redirect", "httpError",
               "urllistempty", "urllistcomplete"):
        crawler.on(ev, lambda *a, _ev=ev: events.append((_ev, a)))

    crawler.get_url_list().insert_if_not_exists("http://host0.example/index.html")
    crawler.queue_url("http://host1.example/index.html")
    crawler.start(max_cycles=50)

    kinds = [e for e, _ in events]
    assert "crawlurl" in kinds and "crawledurl" in kinds
    assert kinds[-2:] == ["urllistempty", "urllistcomplete"]
    # redirect event carries (url, location) — Crawler.js:246-249
    redirects = [a for e, a in events if e == "redirect"]
    assert any(a[0].endswith("/redirect") and a[1] for a in redirects)
    # httpError carries (statusCode, url)
    http_errs = [a for e, a in events if e == "httpError"]
    assert any(a[0] == 404 for a in http_errs)
    # the wildcard custom handler's links entered the frontier and were
    # crawled (REQUEST_ERROR since absent from the fixture web)
    custom_urls = {u for u in crawler.engine.seen_urls()
                   if "from-custom-handler" in u}
    assert len(custom_urls) == 2
    # crawledurl argument shape: (url, errorCode, statusCode, errorMessage)
    cu = [a for e, a in events if e == "crawledurl"]
    ok = [a for a in cu if a[1] is None and a[2] == 200]
    denied = [a for a in cu if a[1] == "ROBOTS_NOT_ALLOWED"]
    assert ok and denied
    assert "not allowed to be crawled" in denied[0][3]


def test_handlers_error_event_discards_links(spark, web_df):
    df, _ = web_df
    errors = []

    def boom(body, url, content_type):
        raise ValueError("kaboom")

    crawler = (Crawler(spark, df, concurrent_requests_limit=4, url_list="fifo",
                       robots_enabled=False)
               .add_handler("text/html", html_link_parser())
               .add_handler("text/html", boom)
               .on("handlersError", lambda msg: errors.append(msg)))
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=10)
    assert errors and "A handlers error occured. kaboom" in errors[0]
    # the page's links were discarded → only the seed is in the frontier
    assert crawler.engine.seen_urls() == {"http://host0.example/index.html"}


def test_stop_from_listener(spark, web_df):
    df, _ = web_df
    crawler = (Crawler(spark, df, concurrent_requests_limit=2, url_list="db")
               .add_handler("text/html", html_link_parser()))
    counted = []
    def on_crawled(*a):
        counted.append(a)
        if len(counted) >= 2:
            crawler.stop()
    crawler.on("crawledurl", on_crawled)
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=50)
    assert 2 <= len(counted) <= 4  # stopped after the in-flight cycle


def test_links_event_fires_with_page_links(spark, web_df):
    """Reference `links(url, links)` event (Crawler.js:260, spec:916-962):
    fires with the page's discovered links; redirects carry the resolved
    location; link-less successful pages get an empty list."""
    df, web_pdf = web_df
    links_events = []
    crawler = (Crawler(spark, df, concurrent_requests_limit=8, url_list="db")
               .add_handler("text/html", html_link_parser())
               .on("links", lambda url, links: links_events.append((url, links))))
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=50)
    by_url = dict(links_events)
    # the index page's links event carries its extracted anchors
    idx_links = by_url["http://host0.example/index.html"]
    assert any("page" in l or "html" in l for l in idx_links) and idx_links
    # a redirect page's links event carries exactly [resolved location]
    redirect_urls = [u for u in by_url if u.endswith("/redirect")]
    assert redirect_urls
    for u in redirect_urls:
        assert len(by_url[u]) == 1 and by_url[u][0].startswith("http")
    # ROBOTS-denied / HTTP-error pages never fire links
    final = {r["url"]: r for _, r in crawler.engine.frontier_pdf().iterrows()}
    for url, r in final.items():
        if r["error_code"] is not None:
            assert url not in by_url


def test_bulk_insert_is_batched_and_deduped(spark, web_df):
    """insertIfNotExistsBulk: one seed pass, duplicates collapse, existing
    URLs survive untouched (lib/DbUrlList.js:129-139)."""
    df, _ = web_df
    crawler = (Crawler(spark, df, concurrent_requests_limit=4, url_list="db")
               .add_handler("text/html", html_link_parser()))
    ul = crawler.get_url_list()
    ul.insert_if_not_exists("http://host0.example/index.html")
    # force engine creation so bulk goes down the live path
    _ = crawler.engine
    crawler.engine.seed(crawler._pending_seeds)
    crawler._pending_seeds = []
    import time
    bulk = [f"http://bulk.example/p{i}.html" for i in range(2000)]
    bulk += bulk[:500]  # in-batch duplicates
    bulk += ["http://host0.example/index.html"]  # already present
    t0 = time.time()
    ul.insert_if_not_exists_bulk(bulk)
    elapsed = time.time() - t0
    n = crawler.engine.frontier.count()
    assert n == 2001  # 1 seed + 2000 distinct bulk
    # one batched job, not 2501 jobs — generous wall bound still catches
    # the per-URL regression (2501 jobs ≈ minutes)
    assert elapsed < 30, f"bulk insert took {elapsed:.1f}s"


def test_url_record_and_typed_errors_importable(spark, web_df):
    from supercrawler_spark import (HandlersError, HttpError, RequestError,
                                    RobotsNotAllowedError, Url)
    u = Url("http://example.com/")
    assert u.get_unique_id() == "http://example.com/"
    assert u.get_status_code() is None and u.get_error_code() is None
    long = Url(url="http://e.com", error_message="x" * 2000)
    assert len(long.get_error_message()) == 1000  # lib/Url.js:69-75
    assert issubclass(RobotsNotAllowedError, Exception)
    assert HttpError("boom", status_code=503).status_code == 503
    assert issubclass(RequestError, Exception)
    assert issubclass(HandlersError, Exception)
    # facade accepts Url records wherever the reference does
    df, _ = web_df
    crawler = (Crawler(spark, df, concurrent_requests_limit=2, url_list="fifo",
                       robots_enabled=False)
               .add_handler("text/html", html_link_parser()))
    crawler.get_url_list().insert_if_not_exists(Url("http://host0.example/index.html"))
    crawler.get_url_list().insert_if_not_exists_bulk(
        [Url("http://host0.example/page-0.html")])
    crawler.start(max_cycles=5)
    assert "http://host0.example/index.html" in crawler.engine.seen_urls()


def test_callable_user_agent_reaches_robots_check(spark, web_df):
    """userAgent as a function of the URL (Crawler.js:30-34,85-90,
    spec:202-216): the robots allow-check must consult it per URL."""
    df, _ = web_df
    # host0's robots denies /private/ to everyone; a UA function returning
    # a name the fixture's robots.txt treats differently would flip the
    # decision — here we assert the function is consulted and the crawl
    # still matches the string-UA run
    calls = []

    def ua_fn(url):
        calls.append(url)
        return "Mozilla/5.0 (compatible; supercrawler/1.0)"

    crawler = (Crawler(spark, df, concurrent_requests_limit=8, url_list="db",
                       user_agent=ua_fn)
               .add_handler("text/html", html_link_parser()))
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=20)
    assert crawler.get_user_agent("http://x.example/") == \
        "Mozilla/5.0 (compatible; supercrawler/1.0)"
    seen = crawler.engine.seen_urls()
    assert len(seen) > 3  # crawl proceeded normally under the callable UA


def test_url_list_class_instances(spark, web_df):
    """Reference exports constructible url lists (lib/index.js:9-18);
    Crawler(url_list=RedisUrlList(...)) maps their options onto the engine."""
    from supercrawler_spark import DbUrlList, FifoUrlList, RedisUrlList
    df, _ = web_df
    c1 = Crawler(spark, df, url_list=RedisUrlList(expiry_time_ms=1234.0,
                                                  delay_half_life_ms=500.0))
    assert c1._config.order_mode == "decay"
    assert c1._config.recrawl_ms == 1234.0
    assert c1._config.delay_half_life_ms == 500.0
    c2 = Crawler(spark, df, url_list=DbUrlList(recrawl_in_ms=99.0))
    assert c2._config.order_mode == "random" and c2._config.recrawl_ms == 99.0
    assert c2.get_interval() == 1000.0
    assert c2.get_concurrent_requests_limit() == 5
    c3 = Crawler(spark, df, url_list=FifoUrlList())
    assert c3._config.order_mode == "fifo"
    # explicit engine kwargs still win over the instance's options
    c4 = Crawler(spark, df, url_list=DbUrlList(recrawl_in_ms=99.0),
                 recrawl_ms=7.0)
    assert c4._config.recrawl_ms == 7.0
    # and an instance-driven crawl actually runs
    c3.add_handler("text/html", html_link_parser())
    c3.queue_url("http://host0.example/index.html")
    c3.start(max_cycles=3)
    assert len(c3.engine.seen_urls()) >= 1


def test_redis_url_list_mode(spark, web_df):
    df, _ = web_df
    crawler = (Crawler(spark, df, concurrent_requests_limit=6, url_list="redis")
               .add_handler("text/html", html_link_parser()))
    crawler.queue_url("http://host0.example/index.html")
    crawler.queue_url("http://host1.example/index.html")
    crawler.start(max_cycles=30)
    assert len(crawler.engine.seen_urls()) > 10
    assert crawler.engine.host_delay.memo  # decay state maintained


def test_insert_if_not_exists_returns_url_record(spark, web_df):
    """Reference insertIfNotExists resolves to the Url record
    (lib/FifoUrlList.js:26-38, test/FifoUrlList.spec.js:69-105)."""
    from supercrawler_spark.records import Url

    df, _ = web_df
    crawler = Crawler(spark, df, url_list="fifo")
    lst = crawler.get_url_list()
    rec = lst.insert_if_not_exists("http://host0.example/index.html")
    assert isinstance(rec, Url)
    assert rec.url == "http://host0.example/index.html"
    assert rec.get_unique_id() == rec.url
    # Url instances pass through unchanged (DbUrlList returns the passed
    # object on a unique-key conflict)
    given = Url("http://host0.example/a.html", status_code=None)
    assert lst.insert_if_not_exists(given) is given
    bulk = lst.insert_if_not_exists_bulk(
        ["http://host1.example/index.html", Url("http://host1.example/b.html")])
    assert [r.url for r in bulk] == ["http://host1.example/index.html",
                                    "http://host1.example/b.html"]
    assert all(isinstance(r, Url) for r in bulk)


def test_start_async_stop_and_join(spark, web_df):
    """Reference-style non-blocking start (lib/Crawler.js:108-126,
    test/Crawler.spec.js:329-366): start_async returns immediately, events
    flow from the background loop, stop() halts it, join() drains."""
    import time

    df, _ = web_df
    events = []
    crawler = (Crawler(spark, df, concurrent_requests_limit=4, url_list="db")
               .add_handler("text/html", html_link_parser())
               .on("crawledurl", lambda *a: events.append(a)))
    crawler.queue_url("http://host0.example/index.html")
    crawler.queue_url("http://host1.example/index.html")
    t0 = time.time()
    crawler.start_async()
    assert time.time() - t0 < 5.0  # returned without draining the crawl
    # events flow while the caller's thread is free
    deadline = time.time() + 120
    while not events and time.time() < deadline:
        time.sleep(0.1)
    assert events, "no events from the background crawl loop"
    crawler.stop()
    crawler.join(timeout=120)
    assert not crawler._started
    n_after_join = len(events)
    time.sleep(0.5)
    assert len(events) == n_after_join  # loop actually stopped


def test_links_listener_registered_after_start_gets_real_links(spark, web_df):
    """The reference is a plain EventEmitter: crawler.on('links', ...)
    attached after start (e.g. from another callback) still receives real
    link lists (Crawler.js:260)."""
    df, _ = web_df
    link_payloads = []
    crawler = (Crawler(spark, df, concurrent_requests_limit=2, url_list="db")
               .add_handler("text/html", html_link_parser()))

    hooked = []

    def late_hook(*_a):
        if not hooked:
            hooked.append(True)
            crawler.on("links", lambda url, links: link_payloads.append((url, links)))

    crawler.on("crawledurl", late_hook)
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=20)
    assert hooked
    # at least one post-registration page reported a NON-empty link list
    assert any(links for _, links in link_payloads), link_payloads

def test_event_interleaving_per_url_budget4(spark, web_df):
    """Reference emits crawlurl as each URL is picked (Crawler.js:222) and
    crawledurl as it completes (:316). At budget=4 the facade must emit the
    full per-URL event group — crawlurl ... crawledurl — in pick order,
    not batch-grouped phases, and the pair sequence must equal the
    oracle's pick sequence."""
    from supercrawler_spark.handlers import default_registry
    from supercrawler_spark.oracle import (OracleConfig, OracleCrawler,
                                           web_pages_dict)

    df, web_pdf = web_df
    events = []
    crawler = (Crawler(spark, df, interval=1000, concurrent_requests_limit=4,
                       url_list="db")
               .add_handler("text/html", html_link_parser())
               .add_handler("text/plain", robots_parser())
               .add_handler(["application/xml", "text/xml",
                             "application/x-gzip", "application/gzip"],
                            sitemaps_parser()))
    crawler.on("crawlurl", lambda u: events.append(("crawlurl", u)))
    crawler.on("crawledurl",
               lambda u, ec, sc, em: events.append(("crawledurl", u)))
    seeds = ["http://host0.example/index.html",
             "http://host1.example/index.html"]
    for s in seeds:
        crawler.queue_url(s)
    crawler.start(max_cycles=50)

    # strict per-URL interleaving: (crawlurl u)(crawledurl u) pairs
    assert events and len(events) % 2 == 0
    for i in range(0, len(events), 2):
        assert events[i][0] == "crawlurl"
        assert events[i + 1][0] == "crawledurl"
        assert events[i][1] == events[i + 1][1]

    # and the pair order IS the oracle's pick order
    ora = OracleCrawler(web_pages_dict(web_pdf),
                        OracleConfig(budget=4, order_mode="random"),
                        registry=default_registry())
    ora.seed(seeds)
    res = ora.crawl(max_rounds=50)
    assert [u for e, u in events if e == "crawlurl"] == \
        [u for _, _, u in res.crawl_order]

def test_facade_http_fetch_mode_end_to_end(spark, web_df):
    """The reference-shaped facade can run the live-fetch path: no web
    table at all, fetch_mode="http" + stub transport via engine opts,
    request options forwarded to the fetch stage's option merge."""
    df, web_pdf = web_df
    pages = {rec["url"]: (int(rec["status_code"]), rec.get("content_type"),
                          rec.get("location"), rec.get("body"))
             for rec in web_pdf.to_dict("records")}
    seen_opts = []

    def transport(session, url, options):
        seen_opts.append(options)
        if url not in pages:
            raise ConnectionError(url)
        return pages[url]

    crawler = (Crawler(spark, None, concurrent_requests_limit=4,
                       request={"headers": {"X-Custom": "yes"}},
                       fetch_mode="http", fetch_transport=transport)
               .add_handler("text/html", html_link_parser()))
    crawled = []
    crawler.on("crawledurl", lambda u, ec, sc_, em: crawled.append(u))
    crawler.queue_url("http://host0.example/index.html")
    crawler.start(max_cycles=30)
    assert len(crawled) > 3          # link discovery worked over HTTP
    assert crawler.engine.config.request_opts == {
        "headers": {"X-Custom": "yes"}}
    # the custom header deep-merged into every request's options
    assert seen_opts and all(
        o["headers"].get("X-Custom") == "yes" for o in seen_opts)
    assert all("User-Agent" in o["headers"] for o in seen_opts)
