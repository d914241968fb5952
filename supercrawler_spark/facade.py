"""Reference-compatible user API — a drop-in shape for supercrawler users.

Mirrors the reference surface (/root/reference/lib/Crawler.js README API):

    crawler = Crawler(spark, web_pages,
                      interval=1000, concurrent_requests_limit=5,
                      robots_enabled=True, robots_cache_time=3600000,
                      url_list="db")                # "db" | "fifo" | "redis"
    crawler.add_handler("text/html", html_link_parser(hostnames=[...]))
    crawler.add_handler(my_handler)                 # one-arg wildcard form
    crawler.get_url_list().insert_if_not_exists("https://example.com/")
    crawler.on("crawledurl", lambda url, ec, sc, em: ...)
    crawler.start();  ...;  crawler.stop()

Option mapping onto the batch engine:
- interval            → interval_ms (global rate limit, virtual clock)
- concurrentRequestsLimit → per-cycle politeness budget (the reference's
  concurrency cap bounds in-flight requests; one micro-cycle's batch IS the
  in-flight set — Crawler.js:108-126 / SURVEY.md T2)
- urlList choice      → frontier ordering semantics: "db" = DbUrlList
  deterministic-random priority + retry/recrawl; "fifo" = FifoUrlList
  insertion order, never re-queued; "redis" = RedisUrlList hostname-
  balancing decay scores + retry/expiry
- robotsEnabled / robotsIgnoreServerError / robotsCacheTime / userAgent →
  verbatim

Events emitted (reference names + argument shapes, Crawler.js:222-316):
crawlurl(url), crawledurl(url, errorCode, statusCode, errorMessage),
redirect(url, location), links(url, links), httpError(statusCode, url),
handlersError(message), urllistempty(), urllistcomplete().
links(url, links) fires for every page that reached the link stage
(redirects carry [resolved location], handler pages their discovered links,
possibly []); registering a links listener opts the engine into collecting
per-page link lists on the driver (Crawler.js:260).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

from .crawler import CrawlConfig, SparkCrawler
from .handlers import HandlerRegistry
from .records import Url

_URL_LIST_MODES = {"db": "random", "fifo": "fifo", "redis": "decay"}


class FifoUrlList:
    """Reference-shaped url-list descriptor (lib/FifoUrlList.js): insertion
    order, items never re-queued. Pass to ``Crawler(url_list=...)``."""

    mode = "fifo"

    def engine_opts(self) -> dict:
        return {}


class DbUrlList:
    """lib/DbUrlList.js descriptor: deterministic-random priority,
    exponential retry backoff (1h·2^(n-1) default), 1-year recrawl."""

    mode = "db"

    def __init__(self, recrawl_in_ms: float = 31536000000.0,
                 initial_retry_time_ms: float = 3600000.0):
        self.recrawl_in_ms = float(recrawl_in_ms)        # DbUrlList.js:7,36
        self.initial_retry_time_ms = float(initial_retry_time_ms)  # :81

    def engine_opts(self) -> dict:
        return {"recrawl_ms": self.recrawl_in_ms,
                "initial_retry_ms": self.initial_retry_time_ms}


class RedisUrlList:
    """lib/RedisUrlList.js descriptor: hostname-balancing decay scores,
    30-day expiry, 1h initial retry."""

    mode = "redis"

    def __init__(self, expiry_time_ms: float = 30 * 86400000.0,
                 delay_half_life_ms: float = 3600000.0,
                 initial_retry_time_ms: float = 3600000.0):
        self.expiry_time_ms = float(expiry_time_ms)      # RedisUrlList.js:7,22
        self.delay_half_life_ms = float(delay_half_life_ms)   # :6,21
        self.initial_retry_time_ms = float(initial_retry_time_ms)  # :8

    def engine_opts(self) -> dict:
        return {"recrawl_ms": self.expiry_time_ms,
                "delay_half_life_ms": self.delay_half_life_ms,
                "initial_retry_ms": self.initial_retry_time_ms}


class UrlListView:
    """insertIfNotExists-style queueing facade over the frontier."""

    def __init__(self, crawler: "Crawler"):
        self._crawler = crawler

    def insert_if_not_exists(self, url) -> Url:
        """Queue a URL; returns the ``Url`` record, like the reference's
        ``Promise<Url>`` (lib/FifoUrlList.js:26-38; DbUrlList.js returns the
        passed url object unchanged on a unique-key conflict)."""
        rec = url if isinstance(url, Url) else Url(str(getattr(url, "url", url)))
        self._crawler._queue_url(rec.url)
        return rec

    def insert_if_not_exists_bulk(self, urls) -> list[Url]:
        """One batched seed pass — the reference bulk API exists for
        50k-URL sitemap batches (lib/DbUrlList.js:123-139); seed() dedups
        and anti-joins the whole list in a single Spark job. Returns the
        ``Url`` records in input order."""
        recs = [u if isinstance(u, Url)
                else Url(str(getattr(u, "url", u))) for u in urls]
        self._crawler._queue_urls([r.url for r in recs])
        return recs


class Crawler:
    def __init__(self, spark: SparkSession, web_pages: DataFrame,
                 workdir: str | None = None,
                 interval: float = 1000.0,
                 concurrent_requests_limit: int = 5,
                 robots_enabled: bool = True,
                 robots_ignore_server_error: bool = False,
                 robots_cache_time: float = 3600000.0,
                 user_agent=None,
                 url_list="db",
                 request: dict | None = None,
                 **engine_opts):
        import tempfile
        url_list_opts: dict = {}
        if not isinstance(url_list, str):
            # reference-style url-list instance (FifoUrlList / DbUrlList /
            # RedisUrlList) — its options become engine options
            url_list_opts = url_list.engine_opts()
            url_list = url_list.mode
        if url_list not in _URL_LIST_MODES:
            raise ValueError(f"url_list must be one of {set(_URL_LIST_MODES)}")
        engine_opts = {**url_list_opts, **engine_opts}  # explicit kwargs win
        self._spark = spark
        self._web_pages = web_pages
        self._workdir = workdir or tempfile.mkdtemp(prefix="supercrawler-")
        # opts.request — merged into every HTTP call by the production
        # fetch stage (lib/Crawler.js:42,98-100,382-394)
        self._request = request or {}
        kw = dict(
            interval_ms=float(interval),
            budget=int(concurrent_requests_limit),
            order_mode=_URL_LIST_MODES[url_list],
            robots_enabled=robots_enabled,
            robots_ignore_server_error=robots_ignore_server_error,
            robots_cache_ttl_ms=float(robots_cache_time),
        )
        if url_list == "redis":
            if "virtual_start_ms" not in engine_opts:
                kw["virtual_start_ms"] = 1e12  # Redis scores live in epoch-ms space
            if "recrawl_ms" not in engine_opts:
                # RedisUrlList expiryTimeMs default is 30 days, not the
                # DbUrlList 1-year recrawl (lib/RedisUrlList.js:7,22)
                kw["recrawl_ms"] = 30 * 86400000.0
        if user_agent is not None:
            kw["user_agent"] = user_agent  # str or callable url -> str
        if request:
            # consumed by webfetch.fetch_stage when fetch_mode="http"
            # (engine_opts may still override explicitly)
            kw["request_opts"] = request
        kw.update(engine_opts)
        self._config = CrawlConfig(**kw)
        self._registry = HandlerRegistry()
        self._listeners: dict[str, list] = defaultdict(list)
        self._pending_seeds: list[str] = []
        self._engine: SparkCrawler | None = None
        self._started = False
        self._thread = None

    # -- reference API ------------------------------------------------------
    def add_handler(self, content_type, handler=None) -> "Crawler":
        """addHandler(contentType, handler) or addHandler(handler)
        (one-arg wildcard form) — Crawler.js:135-148."""
        self._registry.add(content_type, handler)
        return self

    def on(self, event: str, fn) -> "Crawler":
        self._listeners[event].append(fn)
        return self

    def get_url_list(self) -> UrlListView:
        return UrlListView(self)

    def get_interval(self) -> float:
        """Milliseconds between requests (Crawler.js:67-69)."""
        return self._config.interval_ms

    def get_concurrent_requests_limit(self) -> int:
        """Max in-flight requests = per-cycle batch budget (Crawler.js:75-77)."""
        return self._config.budget

    def get_request_options(self) -> dict:
        """Custom options merged into every HTTP call (Crawler.js:98-100);
        consumed by webfetch.fetch_stage in production."""
        return self._request

    def get_user_agent(self, url: str) -> str:
        """Reference getUserAgent(url) — callable userAgent consulted per
        URL (Crawler.js:85-90)."""
        ua = self._config.user_agent
        return ua(url) if callable(ua) else ua

    def queue_url(self, url: str) -> "Crawler":
        self._queue_url(url)
        return self

    @property
    def engine(self) -> SparkCrawler:
        if self._engine is None:
            self._engine = SparkCrawler(self._spark, self._web_pages,
                                        self._workdir, self._config,
                                        registry=self._registry)
        return self._engine

    def start(self, max_cycles: int | None = None) -> None:
        """Run micro-cycles until exhaustion / stop() / max_cycles, emitting
        reference events — blocking form (the loop runs to completion in
        the caller's thread; stop() from a listener callback halts after
        the current cycle). For the reference's non-blocking
        ``crawler.start(); ...; crawler.stop()`` shape use
        :meth:`start_async`."""
        if self._started:
            return  # re-entry guard (Crawler.js:108-113)
        self._started = True
        self._run_loop(max_cycles)

    def start_async(self, max_cycles: int | None = None) -> "Crawler":
        """Non-blocking start, like the reference event loop
        (lib/Crawler.js:108-126): returns immediately, the crawl loop runs
        on a background thread and keeps emitting events. ``stop()`` halts
        after the current cycle; ``join()`` waits for the loop to drain.
        SparkSession is thread-safe for job submission, so the background
        loop shares the caller's session."""
        import threading
        if self._started:
            return self
        self._started = True
        self._thread = threading.Thread(
            target=self._run_loop, args=(max_cycles,), daemon=True)
        self._thread.start()
        return self

    def join(self, timeout: float | None = None) -> None:
        """Wait for a start_async() loop to finish (exhaustion or stop())."""
        t = self._thread
        if t is not None:
            t.join(timeout)

    def _run_loop(self, max_cycles: int | None) -> None:
        eng = self.engine
        if self._pending_seeds:
            eng.seed(self._pending_seeds)
            self._pending_seeds = []
        n_work = 0
        while self._started and (max_cycles is None or n_work < max_cycles):
            if self._listeners.get("links") and not self._config.collect_links:
                # live latch (the reference is a plain EventEmitter —
                # crawler.on('links', ...) attached AFTER start, e.g. from
                # another event callback, must still receive real link
                # lists); checked each cycle, flips the shared engine config
                self._config.collect_links = True
            # per-URL payload latch (O13): the engine collects the popped
            # batch + outcome fold to the driver only while some per-URL
            # listener needs the event payloads; a listener-less crawl
            # keeps every per-URL row executor-resident. Re-checked each
            # cycle so a listener attached after start still gets events.
            self._config.collect_events = any(
                self._listeners.get(e)
                for e in ("crawlurl", "crawledurl", "httpError",
                          "handlersError", "redirect", "links"))
            stats = eng.run_cycle()
            if stats.popped:
                n_work += 1
                # per-URL interleaving in batch_idx (pick) order — the
                # reference emits crawlurl as each URL is picked
                # (Crawler.js:222) and crawledurl as it completes
                # (Crawler.js:316); the deterministic serialization of a
                # batch-atomic cycle is the full crawlurl→…→crawledurl
                # event group per URL, not batch-grouped phases
                # (stats.results arrives in that order)
                for r in stats.results:
                    self._emit("crawlurl", r["url"])
                    # processing events mirror _processUrl
                    # (Crawler.js:216-320): redirect/handlersError/httpError
                    # fire during processing, links after handler success,
                    # crawledurl last
                    status = r["status_out"]
                    if r["error_code"] == "HTTP_ERROR":
                        self._emit("httpError", status, r["url"])
                    elif r["error_code"] == "HANDLERS_ERROR":
                        self._emit("handlersError", r["error_message"])
                    elif status is not None and 300 <= status < 400:
                        self._emit("redirect", r["url"], r["f_location"])
                    if r["error_code"] is None:
                        # links fires for every page that reached the link
                        # stage — redirects ([resolved location]) and
                        # handler results, including empty ones
                        # (Crawler.js:260)
                        self._emit("links", r["url"],
                                   stats.page_links.get(r["batch_idx"], []))
                    self._emit("crawledurl", r["url"], r["error_code"],
                               r["status_out"], r["error_message"])
            for event, arg in stats.events:
                self._emit(event) if arg is None else self._emit(event, arg)
            if stats.popped == 0 and not stats.fast_forwarded:
                break
        eng._commit_snapshot()
        self._started = False

    def stop(self) -> None:
        self._started = False

    # -- internals ------------------------------------------------------------
    def _queue_url(self, url: str) -> None:
        self._queue_urls([url])

    def _queue_urls(self, urls: list) -> None:
        if self._engine is None:
            self._pending_seeds.extend(urls)
        else:
            self._engine.seed(list(urls))  # one job for the whole batch

    def _emit(self, event: str, *args) -> None:
        for fn in self._listeners.get(event, []):
            fn(*args)
