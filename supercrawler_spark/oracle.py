"""Pure-Python reference simulator (the correctness oracle, SURVEY.md §5.2).

A single-threaded, record-at-a-time reimplementation of the reference
crawl loop — Crawler + DbUrlList/FifoUrlList semantics exactly as cited in
SURVEY.md §3 — under a deterministic virtual clock, with ``Math.random()``
priority (/root/reference/lib/DbUrlList.js:182) replaced by the same
sha1-derived uniform as the engine (urls.deterministic_priority).

It supports a ``budget`` so a batch micro-cycle can be compared at identical
politeness budgets: the oracle selects the same ≤B due rows per round
(ordered by next_fetch_time, seq, with optional per-host cap), processes them
sequentially, and applies discovered inserts at the end of the round — which
is exactly what one snapshot-atomic Spark cycle does. With ``budget=1`` every
round is one URL and the loop is literally the reference's:
pop → robots → fetch → handlers → insert links → upsert result.

The parser/robots/url kernels are shared with the engine and pinned by the
reference's own golden tests; what this oracle independently replays is the
*orchestration*: frontier ordering, politeness, robots policy + cache TTL,
error taxonomy, retry/recrawl scheduling, and seq assignment.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import robots as robots_mod
from . import urls as urls_mod
from .handlers import HandlerRegistry, HandlersError, default_registry

YEAR_MS = float(urls_mod.YEAR_MS)
HOUR_MS = 3600000.0
REQUEST_ERROR_MSG = "A request error occured. connect ECONNREFUSED"


@dataclass
class OracleRow:
    url: str
    seq: int
    status_code: int | None = None
    error_code: str | None = None
    error_message: str | None = None
    num_errors: int = 0
    next_fetch_time: float = 0.0
    crawled: bool = False  # fifo cursor marker


@dataclass
class OracleConfig:
    interval_ms: float = 1000.0
    budget: int = 1
    per_host_cap: int | None = None
    order_mode: str = "random"
    robots_enabled: bool = True
    robots_ignore_server_error: bool = False
    robots_cache_ttl_ms: float = 3600000.0
    user_agent: str = ("Mozilla/5.0 (compatible; supercrawler/1.0; "
                       "+https://github.com/brendonboshell/supercrawler)")
    initial_retry_ms: float = HOUR_MS
    recrawl_ms: float = YEAR_MS
    max_idle_skip_ms: float | None = None  # idle fast-forward horizon
    host_salt_buckets: int = 1  # engine-only physical knob; semantics no-op
    delay_half_life_ms: float = 3600000.0  # decay mode (RedisUrlList.js:6,21)
    virtual_start_ms: float = 0.0


@dataclass
class OracleResult:
    crawl_order: list[tuple[int, int, str]] = field(default_factory=list)
    rows: dict[str, OracleRow] = field(default_factory=dict)

    def seen_urls(self) -> set:
        return set(self.rows)

    def final_states(self) -> dict[str, tuple]:
        return {
            u: (r.status_code, r.error_code, r.error_message, r.num_errors)
            for u, r in self.rows.items()
        }


class OracleCrawler:
    """web_pages: mapping url → dict(status_code, content_type, location,
    body). Build from the fixtures DataFrame with
    ``{r.url: r for r in web_pages_pdf.to_dict('records')}``."""

    def __init__(self, web_pages: dict, config: OracleConfig | None = None,
                 registry: HandlerRegistry | None = None):
        self.web = web_pages
        self.cfg = config or OracleConfig()
        self.registry = registry if registry is not None else default_registry()
        self.rows: dict[str, OracleRow] = {}
        self.max_seq = -1
        self.now = self.cfg.virtual_start_ms
        self.host_delay: dict[str, tuple] = {}  # decay mode state
        self.robots_cache: dict[str, tuple] = {}  # key → (kind, payload, at)
        self.order: list[tuple[int, int, str]] = []

    # -- frontier ----------------------------------------------------------
    def _fresh_nft(self, url: str, now: float) -> float:
        if self.cfg.order_mode == "fifo":
            return 0.0
        if self.cfg.order_mode == "decay":
            from .priority import decay_scores
            host = urls_mod.hostname_of(url)
            return decay_scores([(host, now)], self.host_delay,
                                self.cfg.delay_half_life_ms)[0]
        return now - urls_mod.deterministic_priority(url) * YEAR_MS

    def insert_if_not_exists(self, url: str, now: float) -> None:
        if url in self.rows:
            return
        self.max_seq += 1
        self.rows[url] = OracleRow(url=url, seq=self.max_seq,
                                   next_fetch_time=self._fresh_nft(url, now))

    def seed(self, urls: list[str]) -> None:
        for u in urls:
            self.insert_if_not_exists(u, self.now)

    # -- pop ---------------------------------------------------------------
    def _pop_batch(self) -> list[OracleRow]:
        cfg = self.cfg
        if cfg.order_mode == "fifo":
            due = [r for r in self.rows.values() if not r.crawled]
            due.sort(key=lambda r: r.seq)
        else:
            due = [r for r in self.rows.values() if r.next_fetch_time < self.now]
            due.sort(key=lambda r: (r.next_fetch_time, r.seq))
        if cfg.per_host_cap is not None:
            counts: dict[str, int] = {}
            capped = []
            for r in due:
                h = urls_mod.hostname_of(r.url)
                if counts.get(h, 0) < cfg.per_host_cap:
                    counts[h] = counts.get(h, 0) + 1
                    capped.append(r)
            due = capped
        return due[: cfg.budget]

    # -- robots ------------------------------------------------------------
    def _fetch_follow(self, url: str):
        cur = url
        for _ in range(urls_mod.MAX_REDIRECT_HOPS):
            page = self.web.get(cur)
            if page is None:
                return None
            status = int(page["status_code"])
            if 300 <= status < 400 and page.get("location"):
                cur = urls_mod.resolve(cur, page["location"])
                continue
            return page
        return None

    def _get_robots(self, url: str, t_row: float, pending_inserts: list) -> tuple:
        """Returns ('txt', robots_txt) | ('deny', status) | ('reqerr', None).
        Mirrors _getOrDownloadRobots (Crawler.js:445-502) incl. the frontier
        enqueue of the robots URL itself on cache miss (:463-465)."""
        key = urls_mod.robots_url(url)
        entry = self.robots_cache.get(key)
        if entry is not None and entry[2] + self.cfg.robots_cache_ttl_ms > t_row:
            return entry[0], entry[1]
        pending_inserts.append(key)
        page = self._fetch_follow(key)
        if page is None:
            result = ("reqerr", None)
        else:
            status = int(page["status_code"])
            if status < 400:
                body = page.get("body") or b""
                txt = bytes(body).decode("utf-8", errors="replace")
                result = ("txt", txt)
            elif status in (404, 410) or (status == 500 and
                                          self.cfg.robots_ignore_server_error):
                result = ("txt", "")
            else:
                result = ("deny", status)
        self.robots_cache[key] = (result[0], result[1], t_row)
        return result

    # -- one URL (reference _processUrl, Crawler.js:216-320) ---------------
    def _process(self, row: OracleRow, t_row: float,
                 pending_inserts: list) -> tuple:
        """Returns (status_code, error_code, error_message)."""
        url = row.url
        if self.cfg.robots_enabled:
            kind, payload = self._get_robots(url, t_row, pending_inserts)
            if kind == "reqerr":
                return None, "REQUEST_ERROR", REQUEST_ERROR_MSG
            if kind == "deny":
                return None, "ROBOTS_NOT_ALLOWED", (
                    "No crawling is allowed because robots.txt could not be "
                    f"crawled. Status code {payload}")
            if not robots_mod.is_allowed(payload, url, self.cfg.user_agent):
                return None, "ROBOTS_NOT_ALLOWED", (
                    f"The URL is {url} is not allowed to be crawled due to "
                    "robots.txt exclusion")

        page = self.web.get(url)
        if page is None:
            return None, "REQUEST_ERROR", REQUEST_ERROR_MSG
        status = int(page["status_code"])
        if status >= 400:
            return status, "HTTP_ERROR", None
        if 300 <= status < 400:
            target = urls_mod.resolve(url, page.get("location") or "")
            pending_inserts.append(target)
            return status, None, None
        ct = urls_mod.normalize_content_type(page.get("content_type"), url)
        body = page.get("body") or b""
        try:
            links = self.registry.fire(bytes(body), url, ct)
        except HandlersError as exc:
            return None, "HANDLERS_ERROR", str(exc)[:1000]
        pending_inserts.extend(links)
        return status, None, None

    # -- upsert (DbUrlList.js:196-249 / FifoUrlList.js:47-59) --------------
    def _upsert(self, row: OracleRow, status, error_code, error_message,
                t_row: float) -> None:
        row.status_code = status
        row.error_code = error_code
        row.error_message = error_message[:1000] if error_message else error_message
        row.crawled = True
        if self.cfg.order_mode == "fifo":
            return  # never re-queued
        if error_code is None:
            row.num_errors = 0
            if status is None:
                row.next_fetch_time = self._fresh_nft(row.url, t_row)
            else:
                row.next_fetch_time = t_row + self.cfg.recrawl_ms
        else:
            row.num_errors += 1
            row.next_fetch_time = (
                t_row + self.cfg.initial_retry_ms * 2 ** (row.num_errors - 1))

    # -- the loop ------------------------------------------------------------
    def crawl(self, max_rounds: int | None = None) -> OracleResult:
        import math

        cycle = 0
        while max_rounds is None or cycle < max_rounds:
            batch = self._pop_batch()
            if not batch:
                if self.cfg.max_idle_skip_ms is not None:
                    pending = [
                        r.next_fetch_time for r in self.rows.values()
                        if (r.next_fetch_time
                            < self.now + self.cfg.max_idle_skip_ms
                            and r.next_fetch_time != math.inf
                            and (self.cfg.order_mode != "fifo"))
                    ]
                    if pending:
                        m = min(pending)
                        if m >= self.now:
                            self.now = (math.floor(m / self.cfg.interval_ms)
                                        + 1) * self.cfg.interval_ms
                            continue
                break
            round_inserts: list[tuple[float, str]] = []
            for idx, row in enumerate(batch):
                t_row = self.now + idx * self.cfg.interval_ms
                self.order.append((cycle, idx, row.url))
                pending: list[str] = []
                status, ec, em = self._process(row, t_row, pending)
                for u in pending:
                    round_inserts.append((t_row, u))
                self._upsert(row, status, ec, em, t_row)
            # batch-atomic insert application (one Spark snapshot commit)
            for t_ins, u in round_inserts:
                self.insert_if_not_exists(u, t_ins)
            self.now += self.cfg.interval_ms * len(batch)
            cycle += 1
        return OracleResult(crawl_order=self.order, rows=self.rows)


def web_pages_dict(web_pages_pdf) -> dict:
    """pandas web_pages fixture → oracle lookup dict."""
    out = {}
    for rec in web_pages_pdf.to_dict("records"):
        out[rec["url"]] = rec
    return out
