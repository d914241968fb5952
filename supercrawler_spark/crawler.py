"""SparkCrawler — the PySpark-native URL frontier + fetch scheduler.

One reference crawl tick (/root/reference/lib/Crawler.js:154-207) becomes one
**batch micro-cycle** (SURVEY.md §3.1): a politeness budget B of due URLs is
popped with a salted host-bucketed window rank, robots-checked against a
broadcast robots dimension, fetched (equi-join against the synthetic
``web_pages`` web — production swaps in a ``mapInPandas`` HTTP stage),
handler-parsed in ONE vectorized ``mapInPandas`` pass (so the parse is shared
across handlers, like the reference's memoized cheerio context —
Crawler.js optimization O8), link-deduped with an anti-join (optionally
Bloom-prefiltered), and merged back into the frontier — one snapshot commit
per cycle, resumable from checkpoint.

Time is a **virtual clock in milliseconds**: each processed URL advances the
clock by ``interval_ms`` — exactly the reference's global rate limiter
(Crawler.js:534-549) under a deterministic clock, so crawl order is
reproducible and comparable against the pure-Python oracle
(supercrawler_spark.oracle). With ``budget=1`` a micro-cycle degenerates to
the reference's one-URL-at-a-time loop and crawl order matches it exactly.

Scale notes (100 TB / 10^10-URL frontier):
- **LSM frontier**: an immutable parquet-backed base layer + a
  batch-bounded delta of touched keys (merge-on-read view). A cycle costs
  O(batch + |delta|) — the base is scanned (due predicate pushed into
  row-group pruning) but never rewritten or shuffled; compaction happens
  only at snapshot commits. Measured flat per-cycle time 1M → 10M rows
  (scripts/bench_frontier_scale.py);
- the frontier is never windowed globally: the pop ranks within host
  partitions then takes a global top-B via sort+limit (TakeOrdered — no
  single-partition shuffle of the frontier);
- only the B popped rows (the politeness budget, no bodies) ever reach
  the driver, and they double as the merge's update side — the upsert is
  computed over a batch-sized frame;
- seq assignment windows only over the CYCLE's new links (budget-bounded),
  never over the frontier; DataFrame-scale seed lists (seed_df) get dense
  seqs via per-partition offsets;
- the seen-check never shuffles the frontier: candidates are
  Bloom-prefiltered (supercrawler_spark.bloom, persisted in snapshots) and
  the exact verify streams the frontier through broadcast semi/anti joins;
- robots state is a host-keyed table carried in snapshots with a bounded
  LRU memo; per cycle only the batch's keys are looked up and broadcast
  (Crawler.js robots cache, O6) — the driver never holds the host universe.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import functions as SF
from . import urls as urls_mod
from .handlers import HandlerRegistry, HandlersError, default_registry
from .storage import AppendLog, SnapshotStore

YEAR_MS = float(urls_mod.YEAR_MS)
HOUR_MS = 3600000.0
LEASE_MS = 60000.0  # DbUrlList.js:273 — in-flight lease window

# deterministic analog of the reference's network-failure message
# ("A request error occured. " + err.message — Crawler.js:396-399)
REQUEST_ERROR_MSG = "A request error occured. connect ECONNREFUSED"

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("status_code", T.IntegerType()),
    T.StructField("error_code", T.StringType()),
    T.StructField("error_message", T.StringType()),
    T.StructField("num_errors", T.IntegerType()),
    T.StructField("next_fetch_time", T.DoubleType()),
    T.StructField("seq", T.LongType()),
])

CRAWL_LOG_SCHEMA = T.StructType([
    T.StructField("cycle_id", T.LongType()),
    T.StructField("batch_idx", T.LongType()),
    T.StructField("event", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("status_code", T.IntegerType()),
    T.StructField("error_code", T.StringType()),
    T.StructField("detail", T.StringType()),
])

_KERNEL_OUT_SCHEMA = T.StructType([
    T.StructField("batch_idx", T.LongType()),
    T.StructField("link_idx", T.LongType()),
    T.StructField("link", T.StringType()),
    T.StructField("handlers_error", T.StringType()),
])

HOST_DELAY_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("delay", T.DoubleType()),
    T.StructField("last_update", T.DoubleType()),
])

ROBOTS_SCHEMA = T.StructType([
    T.StructField("robots_key", T.StringType()),
    T.StructField("robots_txt", T.StringType()),
    T.StructField("deny_status", T.IntegerType()),
    T.StructField("req_err", T.BooleanType()),
    T.StructField("fetched_at", T.DoubleType()),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("cycle_id", T.LongType()),
    T.StructField("popped", T.LongType()),
    T.StructField("links_found", T.LongType()),
    T.StructField("links_new", T.LongType()),
    T.StructField("dedup_hits", T.LongType()),
    T.StructField("robots_denied", T.LongType()),
    T.StructField("errors", T.LongType()),
    T.StructField("cycle_time", T.DoubleType()),
    T.StructField("bloom_fpr_est", T.DoubleType()),
])


def plan_str(df: DataFrame) -> str:
    """`explain("formatted")` text of a DataFrame (for the PLANS.md audit
    and the plan-shape tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def local_df(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Small local DataFrame from dict rows, built as a ``pyarrow.Table``.

    An Arrow table is decoded by the JVM (one Arrow stream shipped once), so
    evaluating the frame runs no Python task. A frame built from tuples is a
    ``PythonRDD`` instead: every job that reads it — each broadcast, join and
    commit of a cycle — forks a Python worker per partition to re-decode it.
    The table is typed by the Spark schema itself, so None survives in int
    columns (a pandas frame would coerce it to float64), and the path does not
    depend on ``spark.sql.execution.arrow.pyspark.enabled``.
    """
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


@dataclass
class CrawlConfig:
    """Reference option parity — /root/reference/lib/Crawler.js:13-40."""
    interval_ms: float = 1000.0          # Crawler.js:14,35
    budget: int = 1                      # per-cycle batch (1 ⇒ exact reference order)
    per_host_cap: int | None = None      # politeness: max rows per host per cycle
    host_salt_buckets: int = 1           # >1 → two-stage salted pop (O12 skew guard)
    order_mode: str = "random"
    # "random" (DbUrlList deterministic-random priority) | "fifo"
    # (FifoUrlList) | "decay" (RedisUrlList hostname-balancing decay score,
    # lib/RedisUrlList.js:25-53: the more URLs a host inserted recently,
    # the later its new URLs drain — fresh scores (small counts) sort far
    # before epoch-ms retry/recrawl scores, exactly like the Redis zset)
    delay_half_life_ms: float = 3600000.0    # RedisUrlList.js:6,21
    virtual_start_ms: float = 0.0
    # decay mode should start the virtual clock at a large epoch (e.g. 1e12)
    # so fresh count-scale scores sort due immediately while retry/recrawl
    # scores (now + backoff) land in the future — exactly the Redis zset
    # score space where now is real epoch-ms.
    robots_enabled: bool = True          # Crawler.js robotsEnabled
    robots_ignore_server_error: bool = False  # Crawler.js robotsIgnoreServerError
    robots_cache_ttl_ms: float = 3600000.0    # Crawler.js:16,38-40
    robots_memo_size: int = 10000
    # driver-side LRU over the robots TABLE (the table is the source of
    # truth, carried in snapshots; the memo only bounds repeat lookups —
    # web-scale host counts never accumulate on the driver)
    host_delay_memo_size: int = 10000
    # same shape for decay-mode per-host state (RedisUrlList zset scores):
    # the host→(delay, last_update) pairs live in a snapshot-carried TABLE;
    # the driver holds only a bounded LRU memo + the dirty entries since
    # the last commit (batch-bounded) — never the host universe
    user_agent: object = ("Mozilla/5.0 (compatible; supercrawler/1.0; "
                          "+https://github.com/brendonboshell/supercrawler)")
    # str, or a callable url -> str (Crawler.js:30-34,85-90 — the reference
    # accepts a userAgent function, consulted per URL for robots checks and
    # request headers)
    collect_links: bool = False
    # per-page discovered-link lists collected into CycleStats.page_links —
    # powers the facade's reference `links` event (Crawler.js:260); opt-in
    # because it ships every cycle's links to the driver
    collect_events: bool = True
    # per-URL driver materialization: crawl_order entries + CycleStats
    # .results (the facade's crawlurl/crawledurl/... event payloads). True
    # by default for reference parity; the facade re-derives it each cycle
    # from whether any per-URL listener is attached. When False the cycle
    # collects ONLY scalars + per-host robots keys — the batch, the
    # outcome fold, the upsert delta and the crawl_log rows all stay
    # executor-resident (O13: no driver round-trip of 10^6-row cycles)
    initial_retry_ms: float = HOUR_MS    # DbUrlList.js:81
    recrawl_ms: float = YEAR_MS          # DbUrlList.js:7,36
    checkpoint_every: int = 8            # parquet snapshot cadence (cycles)
    adaptive_exec: bool = False          # AQE per cycle: budget-bounded
    # micro-cycle plans pay AQE's re-optimization overhead without gaining
    # from it (measured 3x slower at sandbox scale); enable for huge budgets
    # where skew-join splitting on hot hosts matters.
    max_idle_skip_ms: float | None = None
    # idle fast-forward horizon: when no row is due, the reference keeps
    # ticking on wall time until the earliest nextRetryDate matures
    # (Crawler.js:555-568). Under the virtual clock we jump to the first
    # tick after the earliest next_fetch_time — but only if it is within
    # this horizon (None = stop at exhaustion; retries/recrawls beyond the
    # horizon are treated as terminal, like stopping the reference crawler).
    seq_partition_threshold: int = 65536
    # cycles discovering more links than this assign seqs via the
    # range-partition + per-partition-offset scheme (no single-task window);
    # smaller cycles use a flat window (one task, but bounded rows — cheaper
    # than an extra shuffle + counts job). Both paths produce IDENTICAL seqs
    # (parity-pinned); the threshold exists for sitemap-dump cycles
    # (DbUrlList.js:123-127 — B pages × 50k links ⇒ ~10^6 rows).
    use_bloom: bool = False              # Bloom-prefiltered dedup (scale path)
    bloom_partitions: int = 32
    bloom_capacity: int = 1 << 20
    bloom_probe: str = "cogroup"         # "cogroup" (scale default: no full-
    # matrix broadcast — each task gets only its url_hash range's bit array,
    # and the per-cycle add never re-collects the table) | "broadcast"
    # (small-filter fast path: table collected once per add and broadcast)
    bloom_rebuild_fpr: float | None = 0.05
    # capacity planning for 10^10-key frontiers: after every bloom add the
    # engine checks the analytic fp_rate_estimate; above this threshold the
    # filter silently stops filtering (every candidate routes to the exact
    # verify), so it is rebuilt EMPTY at 2x partitions + 2x bits/partition
    # and repopulated from the frontier (one distributed add), repeating
    # until the estimate clears the threshold. The rebuild is logged in the
    # metrics table (bloom_fpr_est column). None disables.
    max_redirect_hops: int = 10          # robots fetch follows redirects
    fetch_mode: str = "join"
    # "join": offline/fixture fetch — the batch broadcast-joins INTO the
    #   web_pages table (tests, replays, warehouse-resident crawls);
    # "http": live fetch — the batch runs through webfetch.fetch_stage's
    #   mapInPandas HTTP kernel (reference Crawler.js:380-412 semantics:
    #   binary body, no redirect-follow for pages, gzip), robots fetched
    #   through the same transport with redirect-following. Identical crawl
    #   order/seen set to "join" over the same web (parity-pinned in
    #   tests/test_crawl_parity.py).
    fetch_transport: object = None
    # injectable transport(session, url, options) for fetch_mode="http" —
    # tests stub the network with this; None = pooled requests.Session
    request_opts: dict | None = None
    # deep-merged over per-request defaults (reference opts.request,
    # Crawler.js:382-394)
    fetch_timeout_s: float = 30.0


@dataclass
class _RobotsEntry:
    txt: str | None          # robots text ("" = allow-all)
    deny_status: int | None  # set ⇒ deny entire host (Crawler.js:469-491)
    req_err: bool            # robots fetch was a request error
    fetched_at: float


@dataclass
class CycleStats:
    cycle_id: int
    popped: int = 0
    fast_forwarded: bool = False
    links_found: int = 0
    links_new: int = 0
    dedup_hits: int = 0
    robots_denied: int = 0
    errors: int = 0
    events: list = field(default_factory=list)
    results: list = field(default_factory=list)  # per-row outcomes (driver)
    page_links: dict = field(default_factory=dict)  # batch_idx → [links]
    # (only populated when config.collect_links — the facade `links` event)


class SparkCrawler:
    def __init__(self, spark: SparkSession, web_pages: DataFrame | None,
                 workdir: str, config: CrawlConfig | None = None,
                 registry: HandlerRegistry | None = None):
        self.spark = spark
        self.config = config or CrawlConfig()
        spark.conf.set("spark.sql.adaptive.enabled",
                       "true" if self.config.adaptive_exec else "false")
        self.registry = registry if registry is not None else default_registry()
        if web_pages is None and self.config.fetch_mode != "http":
            raise ValueError(
                "web_pages is required for fetch_mode='join'; pass "
                "fetch_mode='http' to crawl through the live fetch stage")
        self.web_pages = web_pages
        self.store = SnapshotStore(os.path.join(workdir, "snapshots"))
        self.crawl_log = AppendLog(os.path.join(workdir, "crawl_log"))
        self.metrics_log = AppendLog(os.path.join(workdir, "metrics"))
        # LSM-style frontier (SURVEY.md O1/O2): `_base` is the big immutable
        # layer — parquet-backed after each snapshot commit so the due-scan
        # pushes its predicate into row-group min/max pruning — and `_delta`
        # holds the current row for every key touched since the last
        # compaction (batch-bounded per cycle). Per-cycle cost is O(batch +
        # |delta|), NOT O(|frontier|); compaction is amortized over
        # checkpoint_every cycles (Iceberg MERGE-on-read, emulated).
        self._base: DataFrame | None = None
        self._delta: DataFrame | None = None
        # robots state: host-keyed TABLE (snapshot-carried, parquet-backed
        # after each commit) + a bounded LRU memo + the dirty entries since
        # the last snapshot. The driver never holds all hosts at once.
        from collections import OrderedDict
        self.robots_cache: "OrderedDict[str, _RobotsEntry]" = OrderedDict()
        self._robots_base: DataFrame | None = None
        self._robots_dirty: dict[str, _RobotsEntry] = {}
        self.max_seq: int = -1
        self.cycle_id: int = 0
        self.cycle_time: float = self.config.virtual_start_ms
        self.crawl_order: list[tuple[int, int, str]] = []
        # decay-mode per-host state: bounded LRU memo over a snapshot-carried
        # TABLE (same LSM shape as robots) — host → (delay, last_update)
        self.host_delay: "OrderedDict[str, tuple[float, float]]" = OrderedDict()
        self._host_delay_base: DataFrame | None = None
        self._host_delay_dirty: dict[str, tuple[float, float]] = {}
        self._log_df_buffer: list[DataFrame] = []
        self._pending_results: list[DataFrame] = []
        self._metrics_buffer: list[dict] = []
        self._bloom = None
        if self.config.use_bloom:
            from .bloom import PartitionedBloom
            self._bloom = PartitionedBloom(self.config.bloom_partitions,
                                           self.config.bloom_capacity)
        # optional per-cycle physical-plan capture (PLANS.md audit / plan
        # tests): set to a dict and run_cycle records the formatted plans of
        # its pop / fetch-join / kernel / dedup / merge stages into it
        self.plan_sink: dict | None = None

    # ------------------------------------------------------------------
    # frontier view (base ∪ delta, delta wins)
    # ------------------------------------------------------------------
    @property
    def frontier(self) -> DataFrame | None:
        """Merge-on-read view of the frontier: delta rows supersede base
        rows. The anti-join is keyed on the (small, broadcast) delta key
        set, so reading the view never shuffles the base layer."""
        if self._base is None:
            return self._delta
        if self._delta is None:
            return self._base
        cols = [f.name for f in FRONTIER_SCHEMA]
        live_base = self._base.join(
            F.broadcast(self._delta.select("url")), "url", "left_anti")
        return live_base.select(*cols).unionByName(self._delta.select(*cols))

    def _apply_changes(self, changes: DataFrame,
                       keys: DataFrame | None = None) -> None:
        """Fold a batch of upserted rows (current full rows for touched
        keys) into the delta layer — one eager localCheckpoint of
        O(batch + |delta|) rows; the base layer is untouched.

        ``keys``: optional pre-pinned DataFrame with exactly the ``url``
        key set of ``changes``. The superseded-row anti-join needs only
        the keys, but building its broadcast from ``changes`` itself
        evaluates the whole upsert plan a second time (once for the
        broadcast, once in the checkpoint job). Callers that already hold
        the key set on checkpointed/persisted frames (the cycle: popped
        batch ∪ new links) pass it here so the merge plan runs exactly
        once, inside the checkpoint job."""
        cols = [f.name for f in FRONTIER_SCHEMA]
        if self._delta is None:
            merged = changes.select(*cols)
        else:
            key_df = (keys if keys is not None else changes).select("url")
            kept = self._delta.join(
                F.broadcast(key_df), "url", "left_anti")
            merged = changes.select(*cols).unionByName(kept.select(*cols))
        # bound the delta's partition count: unions add partitions every
        # cycle (32 + 64 + ... → hundreds of near-empty tasks by cycle N);
        # coalesce is shuffle-free and keeps per-cycle task counts flat
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions") or 32)
        self._delta = merged.coalesce(n_part).localCheckpoint(eager=True)

    def _minus_seen(self, links: DataFrame, seen: DataFrame) -> DataFrame:
        """links − seen WITHOUT shuffling the seen side. A plain left_anti
        with a 10^10-row right side shuffles the whole frontier every cycle;
        here the politeness-bounded links broadcast INTO the seen scan
        (left_semi streams the frontier through a broadcast hash join → the
        few hits), and the hits broadcast back for the anti. Net cost: one
        column-pruned scan of seen, zero frontier shuffle.

        Precondition: ``links`` is already unique on url (both callers —
        the cycle's first-occurrence-deduped links and seed's
        deduplicated batch — guarantee it), so no distinct shuffle here."""
        hits = seen.join(F.broadcast(links.select("url")), "url", "left_semi")
        return links.join(F.broadcast(hits), "url", "left_anti")

    def _compact(self) -> None:
        """Rebase onto the last committed snapshot: the parquet just
        written becomes the base layer (scan-pruned by next_fetch_time
        row-group stats) and the delta resets."""
        base = self.store.load(self.spark, "frontier")
        if base is not None:
            self._base = base
            self._delta = None

    # ------------------------------------------------------------------
    # seeding / resume
    # ------------------------------------------------------------------
    def seed(self, urls: list[str]) -> None:
        """insertIfNotExists of the seed list in order (Crawler README API;
        FifoUrlList.js:26-38). First occurrence wins."""
        seen, rows = set(), []
        for u in urls:
            if u in seen:
                continue
            seen.add(u)
            self.max_seq += 1
            rows.append(self._fresh_row(u, self.max_seq, self.cycle_time))
        if self.config.order_mode == "decay":
            from .priority import decay_scores
            state = self._host_delay_lookup([r["host"] for r in rows])
            scores = decay_scores(
                [(r["host"], self.cycle_time) for r in rows],
                state, self.config.delay_half_life_ms)
            for h, v in state.items():
                self._host_delay_store(h, v)
            for r, s in zip(rows, scores):
                r["next_fetch_time"] = s
        if not rows:
            return
        df = local_df(self.spark, rows, FRONTIER_SCHEMA)
        view = self.frontier
        if view is not None:
            df = self._minus_seen(df, view.select("url"))
        self._apply_changes(df)
        if self._bloom is not None:
            self._bloom.add(self.spark, df.select("url"))
            self._maybe_rebuild_bloom()

    def seed_df(self, urls_df: DataFrame, url_col: str = "url",
                order_col: str | None = None) -> int:
        """Seed the frontier from a DataFrame — the 10^10-URL seed-list path
        (north_rule): never materializes URLs on the driver.

        - input dedup via dropDuplicates (one shuffle on url);
        - seen-check is a plain left_anti (both sides can be huge — this is
          a one-time seeding cost, unlike the per-cycle _minus_seen);
        - dense seq assignment WITHOUT a global window: per-partition
          counts → cumulative offsets (P-row collect) + an intra-partition
          row_number, so no single task ever sees the whole seed list.
          With ``order_col`` the input is range-partitioned on it first,
          making the seq order globally deterministic (FIFO semantics);
          otherwise seq order follows the input partitioning;
        - the result is committed + compacted straight into the parquet
          base layer, not the delta.

        Supports fifo/random order modes. decay mode seeding stays on
        ``seed()``: its per-host sequential recurrence is driver-
        coordinated state (RedisUrlList semantics — use random/W4 at web
        scale, which is the reference's own DbUrlList behavior).
        Returns the number of rows inserted.
        """
        if self.config.order_mode == "decay":
            raise ValueError("seed_df supports fifo/random modes; decay "
                             "host-state seeding goes through seed()")
        inc = (urls_df.select(F.col(url_col).alias("url"))
               .filter(F.col("url").isNotNull())
               .dropDuplicates(["url"]))
        view = self.frontier
        if view is not None:
            inc = inc.join(view.select("url"), "url", "left_anti")
        if order_col is not None and order_col != url_col:
            ords = (urls_df.groupBy(F.col(url_col).alias("url"))
                    .agg(F.min(order_col).alias("_ord")))
            inc = (inc.join(ords, "url", "left")
                   .repartitionByRange(F.col("_ord"), F.col("url")))
            order_expr = [F.col("_ord"), F.col("url")]
        else:
            inc = inc.repartitionByRange(F.col("url"))
            order_expr = [F.col("url")]
        inc = inc.withColumn("_pid", F.spark_partition_id()).persist()
        counts = {r["_pid"]: r["n"] for r in
                  inc.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()}
        total = int(sum(counts.values()))
        if total == 0:
            inc.unpersist()
            return 0
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_df = local_df(self.spark,
                          [{"_pid": p, "_off": o} for p, o in offsets.items()],
                          T.StructType([T.StructField("_pid", T.IntegerType()),
                                        T.StructField("_off", T.LongType())]))
        w = Window.partitionBy("_pid").orderBy(*order_expr)
        seqd = (inc.join(F.broadcast(off_df), "_pid")
                .withColumn("seq", F.lit(self.max_seq + 1) + F.col("_off")
                            + F.row_number().over(w).cast("long") - F.lit(1)))
        if self.config.order_mode == "fifo":
            nft = F.lit(0.0)
        else:
            nft = (F.lit(self.cycle_time)
                   - SF.deterministic_priority(F.col("url")) * F.lit(YEAR_MS))
        rows = (seqd
                .withColumn("url_hash", SF.url_hash(F.col("url")))
                .withColumn("host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
                .withColumn("status_code", F.lit(None).cast("int"))
                .withColumn("error_code", F.lit(None).cast("string"))
                .withColumn("error_message", F.lit(None).cast("string"))
                .withColumn("num_errors", F.lit(0))
                .withColumn("next_fetch_time", nft)
                .select(*[f.name for f in FRONTIER_SCHEMA]))
        # stage lazily and commit straight to the parquet base — a web-scale
        # seed list must not pass through an in-memory delta checkpoint;
        # the snapshot write is the single materialization
        cols = [f.name for f in FRONTIER_SCHEMA]
        view = self.frontier
        staged = rows.select(*cols) if view is None else \
            view.select(*cols).unionByName(rows.select(*cols))
        self._base, self._delta = staged, None
        self.max_seq += total
        if self._bloom is not None:
            # BEFORE the snapshot commit: the bloom table is persisted inside
            # the commit, and a resume() restores it verbatim — a filter
            # missing the just-seeded URLs would mark them "definitively
            # never seen" after resume and re-insert duplicate frontier rows
            self._bloom.add(self.spark, inc.select("url"))
            self._maybe_rebuild_bloom()
        self._commit_snapshot()  # writes parquet (incl. bloom), rebases onto it
        inc.unpersist()
        return total

    def _fresh_row(self, url: str, seq: int, now_ms: float) -> dict:
        if self.config.order_mode == "fifo":
            nft = 0.0  # decay scores are patched in by seed()
        else:
            nft = now_ms - urls_mod.deterministic_priority(url) * YEAR_MS
        return {
            "url_hash": None, "url": url, "host": urls_mod.hostname_of(url),
            "status_code": None, "error_code": None, "error_message": None,
            "num_errors": 0, "next_fetch_time": nft, "seq": seq,
        }

    def frontier_as_of(self, version: int) -> DataFrame | None:
        """Time-travel read of the frontier at a committed snapshot
        version (the Iceberg `VERSION AS OF` analog): audit what the crawl
        had seen/scheduled as of an earlier commit without touching the
        live LSM view. Versions older than the store's keep_last are GC'd;
        ``self.store.versions()`` lists what is retained."""
        return self.store.load_as_of(self.spark, "frontier", version)

    def resume(self) -> bool:
        """Restart from the last committed snapshot (north_rule checkpoint
        requirement). Returns True if a snapshot was found."""
        manifest = self.store.read_manifest()
        if manifest is None:
            return False
        meta = manifest["meta"]
        # parquet-backed base layer: the due-scan prunes on row-group stats
        self._base = self.store.load(self.spark, "frontier")
        self._delta = None
        # robots state resumes as a TABLE — no collect of all hosts; rows
        # are looked up per batch as the crawl touches them
        from collections import OrderedDict
        self._robots_base = self.store.load(self.spark, "robots")
        self.robots_cache = OrderedDict()
        self._robots_dirty = {}
        self.max_seq = meta["max_seq"]
        self.cycle_id = meta["cycle_id"]
        self.cycle_time = meta["cycle_time"]
        # decay host-state resumes as a TABLE (looked up per cycle);
        # legacy manifests carried it in meta — fold those into the dirty
        # set so the next commit migrates them into the table
        self._host_delay_base = self.store.load(self.spark, "host_delay")
        self.host_delay = OrderedDict(
            (h, tuple(v)) for h, v in meta.get("host_delay", {}).items())
        self._host_delay_dirty = dict(self.host_delay)
        if self.config.use_bloom:
            # restore the seen-filter — a fresh (empty) filter would mark
            # already-crawled URLs "definitively new", bypass the exact
            # anti-join, and re-insert duplicate frontier rows
            from .bloom import PartitionedBloom
            bloom_df = self.store.load(self.spark, "bloom")
            if bloom_df is not None:
                self._bloom = PartitionedBloom.from_df(bloom_df)
            else:
                self._bloom = PartitionedBloom(self.config.bloom_partitions,
                                               self.config.bloom_capacity)
                self._bloom.add(self.spark, self.frontier.select("url"))
        return True

    def _commit_snapshot(self) -> None:
        # robots table = dirty entries (since last snapshot, batch-bounded)
        # overriding the previous table — same LSM shape as the frontier
        dirty_df = local_df(self.spark, [
            {"robots_key": k, "robots_txt": e.txt, "deny_status": e.deny_status,
             "req_err": e.req_err, "fetched_at": e.fetched_at}
            for k, e in self._robots_dirty.items()
        ], ROBOTS_SCHEMA)
        if self._robots_base is None:
            robots_df = dirty_df
        elif self._robots_dirty:
            kept = self._robots_base.join(
                F.broadcast(dirty_df.select("robots_key")),
                "robots_key", "left_anti")
            cols = [f.name for f in ROBOTS_SCHEMA]
            robots_df = dirty_df.select(*cols).unionByName(kept.select(*cols))
        else:
            robots_df = self._robots_base
        # decay host-state table: dirty entries override the previous table
        # (identical LSM shape; only written in decay mode)
        host_delay_df = None
        if self.config.order_mode == "decay":
            hd_dirty = local_df(self.spark, [
                {"host": h, "delay": v[0], "last_update": v[1]}
                for h, v in self._host_delay_dirty.items()
            ], HOST_DELAY_SCHEMA)
            if self._host_delay_base is None:
                host_delay_df = hd_dirty
            elif self._host_delay_dirty:
                kept = self._host_delay_base.join(
                    F.broadcast(hd_dirty.select("host")), "host", "left_anti")
                cols = [f.name for f in HOST_DELAY_SCHEMA]
                host_delay_df = hd_dirty.select(*cols).unionByName(
                    kept.select(*cols))
            else:
                host_delay_df = self._host_delay_base
        self._flush_logs()
        # frontier sorted by next_fetch_time within partitions → parquet
        # min/max stats make the due-filter prune files at scale (O1)
        frontier_out = self.frontier.repartition(
            self.spark.conf.get("spark.sql.shuffle.partitions") and
            int(self.spark.conf.get("spark.sql.shuffle.partitions")) or 32,
            "host").sortWithinPartitions("next_fetch_time")
        tables = {"frontier": frontier_out, "robots": robots_df}
        if host_delay_df is not None:
            tables["host_delay"] = host_delay_df
        if self._bloom is not None:
            tables["bloom"] = self._bloom.to_df(self.spark)
        # meta carries ONLY scalars — per-host decay state is a table now
        # (an O(hosts) manifest entry would put the host universe back on
        # the driver at web scale)
        self.store.commit(
            tables,
            meta={"cycle_id": self.cycle_id, "cycle_time": self.cycle_time,
                  "max_seq": self.max_seq},
        )
        # compaction: the snapshot just written becomes the base layer and
        # the delta resets — the only O(|frontier|) write, amortized over
        # checkpoint_every cycles
        self._compact()
        self._robots_base = self.store.load(self.spark, "robots")
        self._robots_dirty = {}
        if host_delay_df is not None:
            self._host_delay_base = self.store.load(self.spark, "host_delay")
            self._host_delay_dirty = {}
        if self._bloom is not None:
            # re-root the bitset table on the parquet just written (frees
            # the executor-side checkpoint blocks; bits are unchanged)
            bloom_df = self.store.load(self.spark, "bloom")
            if bloom_df is not None:
                self._bloom.rebase(bloom_df)

    # ------------------------------------------------------------------
    # the micro-cycle
    # ------------------------------------------------------------------
    def run_cycle(self) -> CycleStats:
        """One micro-cycle. Returns stats; stats.popped == 0 ⇔ urllistempty
        (+ urllistcomplete, since batch cycles leave nothing in flight —
        Crawler.js:196-201)."""
        cfg = self.config
        stats = CycleStats(cycle_id=self.cycle_id)
        frame, n_popped = self._pop_batch()
        stats.popped = n_popped
        if not n_popped:
            stats.events.append(("urllistempty", None))
            if cfg.max_idle_skip_ms is not None and self._fast_forward():
                stats.fast_forwarded = True
                return stats
            stats.events.append(("urllistcomplete", None))
            return stats

        if cfg.collect_events:
            # per-URL crawl order (parity contract / facade events) — the
            # only place the popped batch reaches the driver, and only on
            # request
            for r in frame.select("batch_idx", "url") \
                          .orderBy("batch_idx").collect():
                self.crawl_order.append(
                    (self.cycle_id, int(r["batch_idx"]), r["url"]))

        # --- robots refresh + routing (driver-coordinated small dimension) --
        # driver sees one row per distinct robots key (≈ host) in the batch,
        # never the per-URL rows: the robots fetch itself is inherently
        # driver-coordinated (LRU/TTL cache + redirect-following GET)
        robots_inserts: list[tuple[int, str]] = []  # (batch_idx, robots_url)
        key_firsts: list[tuple[int, str]] = []
        if cfg.robots_enabled:
            key_firsts = [
                (int(r["first_idx"]), r["robots_key"])
                for r in (frame.groupBy("robots_key")
                          .agg(F.min("batch_idx").alias("first_idx"))
                          .orderBy("first_idx").collect())]
            robots_inserts = self._refresh_robots(key_firsts)

        batch_df = frame.select(
            "batch_idx", "url",
            F.coalesce(F.col("num_errors"), F.lit(0)).cast("int")
             .alias("num_errors"),
            "robots_key")

        if cfg.robots_enabled:
            robots_dim = self._robots_dim_df([k for _, k in key_firsts])
            batch_df = batch_df.join(F.broadcast(robots_dim), "robots_key", "left")
            allowed_udf = SF.make_robots_allowed_udf(cfg.user_agent)
            batch_df = batch_df.withColumn(
                "robots_allowed",
                F.when(F.col("robots_req_err") | F.col("robots_deny_status").isNotNull(), F.lit(None))
                 .otherwise(allowed_udf(F.col("url"), F.col("robots_txt"))))
            # pin the robots verdicts: the fetch join and the outcome fold
            # both read batch_df, and each would otherwise run the Python
            # UDF again
            batch_df = batch_df.localCheckpoint(eager=True)
        else:
            batch_df = (batch_df
                        .withColumn("robots_txt", F.lit(None).cast("string"))
                        .withColumn("robots_deny_status", F.lit(None).cast("int"))
                        .withColumn("robots_req_err", F.lit(False))
                        .withColumn("robots_allowed", F.lit(True)))

        # --- fetch stage (J5/S4) -------------------------------------------
        if cfg.fetch_mode == "http":
            # live fetch: only robots-allowed rows hit the network (denied
            # rows short-circuit to ROBOTS_NOT_ALLOWED in the outcome fold);
            # failed fetches (NULL status) drop out of `found` so the
            # results left-join yields f_status NULL → REQUEST_ERROR,
            # exactly like a URL absent from the join-mode web table
            from . import webfetch as _wf
            to_fetch = (batch_df
                        .filter(F.col("robots_allowed").eqNullSafe(F.lit(True)))
                        .select("batch_idx", "url"))
            fetched = _wf.fetch_stage(
                to_fetch, user_agent=cfg.user_agent, follow_redirects=False,
                timeout_s=cfg.fetch_timeout_s, request_opts=cfg.request_opts,
                transport=cfg.fetch_transport)
            # localCheckpoint, NOT persist: recomputing this lineage
            # re-issues real HTTP GETs (side-effecting, non-deterministic —
            # a page changing between fetches would make the handler stage
            # and the outcome fold disagree within one cycle). The rows are
            # politeness-budget bounded, so pinning them is cheap.
            found_expr = (fetched.filter(F.col("f_status").isNotNull())
                          .join(F.broadcast(batch_df), ["batch_idx", "url"],
                                "inner"))
            if self.plan_sink is not None:
                # capture BEFORE the checkpoint pin: localCheckpoint
                # truncates lineage, so the post-pin plan is an opaque
                # InMemoryTableScan that hides the MapInPandas fetch stage
                self.plan_sink["fetch_join"] = plan_str(found_expr)
            found = found_expr.localCheckpoint(eager=True).persist()
        else:
            # offline fetch join: the batch (politeness-budget bounded) is
            # broadcast INTO the web table: one streaming scan of web_pages
            # per cycle, bodies never shuffled or broadcast. URLs absent
            # from the web surface as f_status NULL → REQUEST_ERROR
            # (connection-failure analog).
            pages = self.web_pages.select(
                "url",
                F.col("status_code").alias("f_status"),
                F.col("content_type").alias("f_content_type"),
                F.col("location").alias("f_location"),
                F.col("body").alias("f_body"),
            )
            found = pages.join(F.broadcast(batch_df), "url", "inner").persist()
            if self.plan_sink is not None:
                self.plan_sink["fetch_join"] = plan_str(found)

        # rows that fire handlers: robots-allowed, present, 2xx non-redirect
        fetch_ok = (F.col("robots_allowed") & (F.col("f_status") < 400))

        kernel = _make_handler_kernel(self.registry)
        kernel_in = (found
                     .filter(fetch_ok)
                     .select("batch_idx", "url", "f_status", "f_content_type",
                             "f_location", "f_body"))
        kernel_out = kernel_in.mapInPandas(kernel, schema=_KERNEL_OUT_SCHEMA)
        kernel_out = kernel_out.persist()
        if self.plan_sink is not None:
            self.plan_sink["kernel"] = plan_str(kernel_out)

        handler_errors = (kernel_out
                          .filter(F.col("handlers_error").isNotNull())
                          .select("batch_idx", "handlers_error"))
        links_df = (kernel_out
                    .filter(F.col("link").isNotNull())
                    .select("batch_idx", "link_idx", F.col("link").alias("url")))
        if cfg.collect_links:
            # reference `links` event payload (Crawler.js:260): the page's
            # discovered links in handler order, before dedup
            for r in links_df.orderBy("batch_idx", "link_idx").collect():
                stats.page_links.setdefault(r["batch_idx"], []).append(r["url"])

        # --- per-row outcome fold (error taxonomy, Crawler.js:283-314) ------
        # all inputs are batch-sized: batch_df (pinned), found's status
        # columns (cached, bodies pruned), handler errors (cached)
        results = (batch_df
                   .join(F.broadcast(found.select("batch_idx", "f_status",
                                                  "f_location")),
                         "batch_idx", "left")
                   .join(F.broadcast(handler_errors), "batch_idx", "left")
                   .select(
                       "batch_idx", "url", "num_errors",
                       "robots_allowed", "robots_deny_status", "robots_req_err",
                       "f_status", "f_location", "handlers_error"))
        results = results.withColumn(
            "error_code",
            F.when(F.col("robots_req_err"), F.lit("REQUEST_ERROR"))
             .when(F.col("robots_deny_status").isNotNull(), F.lit("ROBOTS_NOT_ALLOWED"))
             .when(~F.col("robots_allowed"), F.lit("ROBOTS_NOT_ALLOWED"))
             .when(F.col("f_status").isNull(), F.lit("REQUEST_ERROR"))
             .when(F.col("f_status") >= 400, F.lit("HTTP_ERROR"))
             .when(F.col("handlers_error").isNotNull(), F.lit("HANDLERS_ERROR"))
             .otherwise(F.lit(None).cast("string")))
        results = results.withColumn(
            "error_message",
            SF.truncate_error(
                F.when(F.col("error_code") == "REQUEST_ERROR", F.lit(REQUEST_ERROR_MSG))
                 .when(F.col("robots_deny_status").isNotNull(),
                       F.concat(F.lit("No crawling is allowed because robots.txt "
                                      "could not be crawled. Status code "),
                                F.col("robots_deny_status").cast("string")))
                 .when(F.col("error_code") == "ROBOTS_NOT_ALLOWED",
                       F.concat(F.lit("The URL is "), F.col("url"),
                                F.lit(" is not allowed to be crawled due to "
                                      "robots.txt exclusion")))
                 .when(F.col("error_code") == "HANDLERS_ERROR", F.col("handlers_error"))
                 .otherwise(F.lit(None).cast("string"))))
        # statusCode stored: success & redirects & HTTP_ERROR keep it; robots/
        # request/handlers errors null it (Crawler.js:283-314)
        results = results.withColumn(
            "status_out",
            F.when(F.col("error_code").isNull() |
                   (F.col("error_code") == "HTTP_ERROR"), F.col("f_status"))
             .otherwise(F.lit(None).cast("int")))

        # results is batch-sized and stays EXECUTOR-RESIDENT: the upsert
        # delta, the crawl_log rows and the cycle metrics all derive from
        # it as DataFrame lineage; the driver collects only the per-cycle
        # scalar counters. Full rows cross to the driver ONLY when
        # collect_events asks for the facade's per-URL event payloads.
        results = (results
                   .select("batch_idx", "url", "num_errors", "status_out",
                           "error_code", "error_message", "f_location")
                   .persist())
        if cfg.collect_events:
            stats.results = [r.asDict() for r in results.collect()]

        # --- ordered insert list: robots enqueues then discovered links -----
        # (robots URL enqueued BEFORE the page's own links — Crawler.js:463-465)
        links_all = links_df.withColumn("source_order", F.lit(1))
        if robots_inserts:
            robots_links = local_df(
                self.spark,
                [{"batch_idx": bi, "link_idx": 0, "url": u} for bi, u in robots_inserts],
                T.StructType([
                    T.StructField("batch_idx", T.LongType()),
                    T.StructField("link_idx", T.LongType()),
                    T.StructField("url", T.StringType()),
                ])).withColumn("source_order", F.lit(0))
            links_all = robots_links.unionByName(links_all)

        n_links = links_all.count()
        stats.links_found = int(n_links) - len(robots_inserts)

        if n_links:
            # first occurrence within the cycle wins (unique-index semantics,
            # J1). min(struct) ordered lexicographically by (batch_idx,
            # source_order, link_idx) ≡ the first-occurrence window, but as a
            # hash aggregate it gets MAP-SIDE partial combine: duplicate
            # links (common on the web — nav bars, footers) collapse before
            # the url-key exchange, and there is no per-group sort. The
            # window form shuffles every duplicate row then sorts each group.
            links_unique = (links_all
                            .groupBy("url")
                            .agg(F.min(F.struct("batch_idx", "source_order",
                                                "link_idx")).alias("_k"))
                            .select("url", F.col("_k.batch_idx").alias("batch_idx"),
                                    F.col("_k.source_order").alias("source_order"),
                                    F.col("_k.link_idx").alias("link_idx")))

            # dedup vs the seen set (= the whole frontier): Bloom-prefiltered
            # (scale path), and the exact verify streams the frontier
            # through broadcast joins — never shuffles it (_minus_seen)
            seen = self.frontier.select("url")
            if self._bloom is not None:
                # suspects are politeness-bounded → broadcast verify (the
                # frontier streams, never shuffles)
                links_unique = self._bloom.prefilter(self.spark, links_unique, "url",
                                                     seen, method=cfg.bloom_probe,
                                                     verify="broadcast")
            else:
                links_unique = self._minus_seen(links_unique, seen)
            if self.plan_sink is not None:
                self.plan_sink["dedup"] = plan_str(links_unique)

            # seq assignment over the cycle's new links: flat window while
            # the cycle is small; above the threshold (sitemap-dump cycles)
            # the range-partitioned offset scheme — identical seqs, no
            # single-task stage
            t_insert = (F.lit(self.cycle_time)
                        + F.col("batch_idx").cast("double") * F.lit(cfg.interval_ms))
            if n_links > cfg.seq_partition_threshold:
                seqd = self._assign_seq_distributed(links_unique)
            else:
                w_seq = Window.partitionBy(F.lit(0)).orderBy(
                    "batch_idx", "source_order", "link_idx")
                seqd = links_unique.withColumn(
                    "seq",
                    F.lit(self.max_seq) + F.row_number().over(w_seq).cast("long"))
            base = (seqd
                    .withColumn("url_hash", SF.url_hash(F.col("url")))
                    # JVM-side host extraction (handler links are already
                    # canonicalized to lowercase hosts)
                    .withColumn("host", F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
                    .withColumn("t_insert", t_insert))
            if cfg.order_mode == "fifo":
                base = base.withColumn("next_fetch_time", F.lit(0.0))
            elif cfg.order_mode == "decay":
                base = self._decay_score_rows(base)
            else:
                base = base.withColumn(
                    "next_fetch_time",
                    F.col("t_insert")
                    - SF.deterministic_priority(F.col("url")) * F.lit(YEAR_MS))
            new_rows = (base
                        .withColumn("status_code", F.lit(None).cast("int"))
                        .withColumn("error_code", F.lit(None).cast("string"))
                        .withColumn("error_message", F.lit(None).cast("string"))
                        .withColumn("num_errors", F.lit(0))
                        .select(*[f.name for f in FRONTIER_SCHEMA]))
            new_rows = new_rows.persist()
        else:
            new_rows = None  # zero discovered links → nothing to dedup/insert
        prev_max_seq = self.max_seq

        # --- upsert merge (S6: MERGE WHEN MATCHED UPDATE / NOT MATCHED
        # INSERT). The update side touches ONLY the popped batch rows: their
        # current state was collected by the pop, so the delta is computed
        # over a batch-sized frame and the big base layer is never rewritten
        # (bucket-local MERGE semantics; Iceberg MERGE on a real cluster).
        upd = results.select(
            F.col("url").alias("u_url"), "batch_idx", "status_out",
            F.col("error_code").alias("u_error_code"),
            F.col("error_message").alias("u_error_message"))
        t_row = (F.lit(self.cycle_time)
                 + F.col("batch_idx").cast("double") * F.lit(cfg.interval_ms))
        batch_state = frame.select(*[f.name for f in FRONTIER_SCHEMA])
        # both sides are batch-sized; broadcast the update side so the merge
        # never sorts/exchanges (local frames carry no size stats, so the
        # planner would otherwise fall back to a sort-merge join)
        merged = batch_state.join(
            F.broadcast(upd), batch_state.url == upd.u_url, "left")
        has_upd = F.col("u_url").isNotNull()
        is_err = has_upd & F.col("u_error_code").isNotNull()
        if cfg.order_mode == "fifo":
            # FifoUrlList has no numErrors/retry concept (lib/FifoUrlList.js)
            new_num_errors = F.col("num_errors")
            # items are never re-queued (README.md:254-255)
            new_nft = F.when(has_upd, F.lit(math.inf)).otherwise(F.col("next_fetch_time"))
        else:
            new_num_errors = (F.when(is_err, F.col("num_errors") + 1)
                               .when(has_upd, F.lit(0))
                               .otherwise(F.col("num_errors")))
            new_nft = (
                F.when(is_err, t_row + F.lit(cfg.initial_retry_ms)
                       * F.pow(F.lit(2.0), new_num_errors.cast("double") - F.lit(1.0)))
                 .when(has_upd & F.col("status_out").isNotNull(),
                       t_row + F.lit(cfg.recrawl_ms))
                 .when(has_upd,  # null status + null error → re-crawl now
                       t_row - SF.deterministic_priority(F.col("url")) * F.lit(YEAR_MS))
                 .otherwise(F.col("next_fetch_time")))
        # one SELECT computing every output column from the ORIGINAL inputs
        # (chained withColumn would make new_nft see the already-updated
        # num_errors — off-by-one in the backoff exponent)
        merged = merged.select(
            F.col("url_hash"), F.col("url"), F.col("host"),
            F.when(has_upd, F.col("status_out")).otherwise(F.col("status_code"))
             .alias("status_code"),
            F.when(has_upd, F.col("u_error_code")).otherwise(F.col("error_code"))
             .alias("error_code"),
            F.when(has_upd, F.col("u_error_message")).otherwise(F.col("error_message"))
             .alias("error_message"),
            new_num_errors.alias("num_errors"),
            new_nft.alias("next_fetch_time"),
            F.col("seq"),
        )

        changes = merged if new_rows is None else merged.unionByName(new_rows)
        if self.plan_sink is not None:
            self.plan_sink["merge"] = plan_str(changes)
        # key set for the delta fold, from frames that are already pinned
        # (frame: eager localCheckpoint at pop; new_rows: persisted) — the
        # merged plan itself then evaluates only once, in the checkpoint job.
        # INVARIANT this key-set shortcut relies on: `merged` preserves
        # EVERY `frame` row (it is a left join + projection only — never a
        # filter). If a future edit filters `merged`, these keys would
        # anti-join delta rows away without re-inserting them (silent
        # frontier row loss); derive keys from `changes` itself in that case.
        changed_keys = (frame.select("url") if new_rows is None
                        else frame.select("url")
                                  .unionByName(new_rows.select("url")))
        self._apply_changes(changes, keys=changed_keys)
        # the delta checkpoint materialized new_rows — read back the new max
        # seq from the (small) delta instead of scanning the frontier
        new_max = self._delta.agg(F.max("seq").alias("m")).collect()[0]["m"]
        self.max_seq = max(prev_max_seq,
                           int(new_max) if new_max is not None else -1)
        n_new = self.max_seq - prev_max_seq
        stats.links_new = int(n_new)
        stats.dedup_hits = int(n_links - n_new)
        if self._bloom is not None and n_new and new_rows is not None:
            self._bloom.add(self.spark, new_rows.select("url"))
            self._maybe_rebuild_bloom()
        kernel_out.unpersist()
        found.unpersist()
        if new_rows is not None:
            new_rows.unpersist()
        if getattr(self, "_scored_tmp", None) is not None:
            self._scored_tmp.unpersist()
            self._scored_tmp = None

        # --- lineage / metrics (S7, A5) -------------------------------------
        self._log_cycle(results, stats)

        self.cycle_time += cfg.interval_ms * n_popped
        self.cycle_id += 1
        if self.cycle_id % cfg.checkpoint_every == 0:
            self._commit_snapshot()
        return stats

    def crawl(self, max_cycles: int | None = None) -> list[CycleStats]:
        """Run micro-cycles until the frontier is exhausted (urllistcomplete)
        or max_cycles is hit. Final state is always committed."""
        out = []
        n_work = 0  # fast-forward ticks don't count toward max_cycles
        while max_cycles is None or n_work < max_cycles:
            stats = self.run_cycle()
            out.append(stats)
            if stats.popped > 0:
                n_work += 1
            elif not stats.fast_forwarded:
                break
        self._commit_snapshot()
        if self._bloom is not None:
            self._bloom.release()  # drop the final cycle's flagged persist
        return out

    def _maybe_rebuild_bloom(self) -> None:
        """Capacity planning (run after every bloom add): when the analytic
        FPR estimate crosses config.bloom_rebuild_fpr the filter has
        saturated — rebuild at 2× partitions/bits from the frontier (the
        authoritative seen set), doubling until the estimate clears the
        threshold (bounded at 8 doublings). Dedup results are unchanged
        either way (the Bloom is only ever a prefilter over an exact
        verify); saturation costs throughput, not correctness."""
        cfg = self.config
        if self._bloom is None or cfg.bloom_rebuild_fpr is None:
            return
        for _ in range(8):
            if self._bloom.fp_rate_estimate() <= cfg.bloom_rebuild_fpr:
                return
            grown = self._bloom.grown_empty(2)
            grown.add(self.spark, self.frontier.select("url"))
            self._bloom.release()
            self._bloom = grown

    def _assign_seq_distributed(self, links: DataFrame) -> DataFrame:
        """Dense seq assignment for a huge link cycle WITHOUT a
        single-partition window: range-partition on the deterministic order
        key (batch_idx, source_order, link_idx — unique per row), then
        per-partition row_number + cumulative offsets from a P-row counts
        collect. Same scheme as seed_df; produces seqs identical to the
        flat window (global rank in key order), pinned by
        tests/test_crawl_parity.py."""
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions") or 32)
        keys = [F.col("batch_idx"), F.col("source_order"), F.col("link_idx")]
        # localCheckpoint (not persist): pins the range partitioning so the
        # collected per-partition counts can never go stale — with persist(),
        # losing cached blocks would re-sample the range boundaries and
        # redistribute rows, silently duplicating/skipping seqs.
        lu = (links.repartitionByRange(n_part, *keys)
              .withColumn("_spid", F.spark_partition_id())
              .localCheckpoint(eager=True))
        counts = {r["_spid"]: r["n"] for r in
                  lu.groupBy("_spid").agg(F.count(F.lit(1)).alias("n")).collect()}
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_df = local_df(self.spark,
                          [{"_spid": p, "_off": o} for p, o in offsets.items()],
                          T.StructType([T.StructField("_spid", T.IntegerType()),
                                        T.StructField("_off", T.LongType())]))
        w = Window.partitionBy("_spid").orderBy(*keys)
        return (lu.join(F.broadcast(off_df), "_spid")
                .withColumn("seq", F.lit(self.max_seq) + F.col("_off")
                            + F.row_number().over(w).cast("long"))
                .drop("_spid", "_off"))

    def _fast_forward(self) -> bool:
        """Advance the virtual clock to the first tick after the earliest
        pending next_fetch_time within the idle-skip horizon. Returns True
        if time advanced (work is pending)."""
        cfg = self.config
        row = (self.frontier
               .filter(F.col("next_fetch_time") < F.lit(
                   self.cycle_time + cfg.max_idle_skip_ms))
               .filter(~F.col("next_fetch_time").eqNullSafe(F.lit(math.inf)))
               .agg(F.min("next_fetch_time").alias("m")).collect())
        m = row[0]["m"] if row else None
        if m is None or m < self.cycle_time:
            return False
        ticks = math.floor(m / cfg.interval_ms) + 1
        self.cycle_time = ticks * cfg.interval_ms
        return True

    def _decay_score_rows(self, base: DataFrame) -> DataFrame:
        """RedisUrlList hostname-balancing scores (A1) for the cycle's fresh
        inserts: exact sequential decay recurrence per host, computed
        distributedly with ``applyInPandas`` over host groups (each group is
        budget-bounded), with carried per-host state broadcast in and the
        final per-host state harvested back (one tiny collect)."""
        from .priority import decay_scores

        hl = self.config.delay_half_life_ms
        # carried state for ONLY this cycle's hosts (memo/dirty/table
        # lookup — never the whole host universe)
        cycle_hosts = [r["host"] for r in base.select("host").distinct().collect()]
        state_bc = self.spark.sparkContext.broadcast(
            self._host_delay_lookup(cycle_hosts))
        out_schema = T.StructType(
            list(base.schema.fields) + [
                T.StructField("next_fetch_time", T.DoubleType()),
                T.StructField("_d_delay", T.DoubleType()),
                T.StructField("_d_last", T.DoubleType()),
                T.StructField("_is_last", T.BooleanType()),
            ])

        def scorer(key, pdf):
            host = key[0]
            pdf = (pdf.sort_values(["batch_idx", "source_order", "link_idx"])
                      .reset_index(drop=True))
            state = {}
            if host in state_bc.value:
                state[host] = state_bc.value[host]
            scores = decay_scores(
                [(host, float(t)) for t in pdf["t_insert"]], state, hl)
            pdf["next_fetch_time"] = scores
            d, last = state[host]
            pdf["_d_delay"] = d
            pdf["_d_last"] = last
            pdf["_is_last"] = [i == len(pdf) - 1 for i in range(len(pdf))]
            return pdf

        scored = base.groupBy("host").applyInPandas(scorer, schema=out_schema)
        scored = scored.persist()
        for r in scored.filter(F.col("_is_last")) \
                       .select("host", "_d_delay", "_d_last").collect():
            self._host_delay_store(r["host"], (r["_d_delay"], r["_d_last"]))
        self._scored_tmp = scored
        return scored.drop("_is_last", "_d_delay", "_d_last")

    # ------------------------------------------------------------------
    # pop (W1/W2): salted host-bucket window rank + global top-B
    # ------------------------------------------------------------------
    def _pop_batch(self) -> tuple[DataFrame, int]:
        """Pop the cycle's politeness batch. Returns (frame, n): an
        executor-pinned DataFrame of FRONTIER_SCHEMA + batch_idx +
        robots_key, and its row count. No per-URL driver transfer."""
        cfg = self.config
        if cfg.order_mode == "fifo":
            due = self.frontier.filter(
                F.col("status_code").isNull() & F.col("error_code").isNull()
                & ~F.col("next_fetch_time").eqNullSafe(F.lit(math.inf)))
            order = [F.col("seq")]
        else:
            due = self.frontier.filter(F.col("next_fetch_time") < F.lit(self.cycle_time))
            order = [F.col("next_fetch_time"), F.col("seq")]
        if cfg.per_host_cap is not None:
            if cfg.host_salt_buckets > 1:
                # skew guard (O12): a hot host with 10^8 due rows would hand
                # one task the whole partition. Two exact stages instead:
                # top-cap WITHIN each (host, salt) bucket — partitions are
                # 1/S of the host — then exact top-cap over the ≤ S·cap
                # survivors per host. The per-host top-cap set is always
                # contained in the union of per-salt top-caps, so the
                # result is IDENTICAL to the unsalted window.
                salt = F.pmod(F.xxhash64("url"), F.lit(cfg.host_salt_buckets))
                w1 = Window.partitionBy("host", "_salt").orderBy(*order)
                due = (due.withColumn("_salt", salt)
                          .withColumn("_srn", F.row_number().over(w1))
                          .filter(F.col("_srn") <= cfg.per_host_cap)
                          .drop("_salt", "_srn"))
            w = Window.partitionBy("host").orderBy(*order)
            due = (due.withColumn("_hrn", F.row_number().over(w))
                      .filter(F.col("_hrn") <= cfg.per_host_cap).drop("_hrn"))
        # full rows: the batch IS the merge's update target (batch-sized),
        # so the upsert never rejoins or rewrites the frontier at large
        frame = (due.orderBy(*order).limit(cfg.budget)
                    .select(*[f.name for f in FRONTIER_SCHEMA]))
        if self.plan_sink is not None:
            self.plan_sink["pop"] = plan_str(frame)
        # batch_idx = pick position (reference crawl order). The global
        # window is budget-bounded (≤ cfg.budget rows after the limit, ties
        # broken by unique seq). localCheckpoint pins the pop on the
        # EXECUTORS: the merge's update target can never drift after the
        # delta write, and no full-row driver collect is needed — the batch
        # never leaves the cluster unless collect_events asks for it (O13).
        w = Window.orderBy(*order)
        frame = frame.withColumn(
            "batch_idx", F.row_number().over(w).cast("long") - F.lit(1))
        if cfg.robots_enabled:
            frame = frame.withColumn(
                "robots_key", SF.robots_url_udf(F.col("url")))
        else:
            frame = frame.withColumn(
                "robots_key", F.lit(None).cast("string"))
        frame = frame.localCheckpoint(eager=True)
        return frame, int(frame.count())

    # ------------------------------------------------------------------
    # decay host-state layer (A1/W3) — host-keyed table + bounded LRU memo
    # ------------------------------------------------------------------
    def _host_delay_store(self, host: str,
                          dl: tuple[float, float]) -> None:
        memo = self.host_delay
        memo[host] = tuple(dl)
        memo.move_to_end(host)
        self._host_delay_dirty[host] = tuple(dl)  # table row, flushed at commit
        while len(memo) > self.config.host_delay_memo_size:
            memo.popitem(last=False)

    def _host_delay_lookup(self, hosts: list[str]) -> dict[str, tuple[float, float]]:
        """(delay, last_update) for the given hosts: LRU memo → dirty set →
        one broadcast lookup against the host_delay TABLE for the misses
        (result bounded by the cycle's host count; the table itself never
        collects fully — RedisUrlList keeps this in a server-side zset,
        lib/RedisUrlList.js:25-53, we keep it in a snapshot table)."""
        out: dict[str, tuple[float, float]] = {}
        missing: list[str] = []
        for h in dict.fromkeys(hosts):
            v = self.host_delay.get(h)
            if v is not None:
                self.host_delay.move_to_end(h)
            else:
                v = self._host_delay_dirty.get(h)
            if v is not None:
                out[h] = tuple(v)
            else:
                missing.append(h)
        if missing and self._host_delay_base is not None:
            kdf = local_df(self.spark, [{"host": h} for h in missing],
                           T.StructType([T.StructField("host", T.StringType())]))
            rows = self._host_delay_base.join(F.broadcast(kdf), "host").collect()
            for r in rows:
                v = (float(r["delay"]), float(r["last_update"]))
                out[r["host"]] = v
                self.host_delay[r["host"]] = v
                self.host_delay.move_to_end(r["host"])
            while len(self.host_delay) > self.config.host_delay_memo_size:
                self.host_delay.popitem(last=False)
        return out

    # ------------------------------------------------------------------
    # robots layer (S5/F2/F3/T6) — host-keyed table + bounded LRU memo
    # ------------------------------------------------------------------
    def _robots_memo_put(self, key: str, entry: _RobotsEntry) -> None:
        memo = self.robots_cache
        memo[key] = entry
        memo.move_to_end(key)
        while len(memo) > self.config.robots_memo_size:
            memo.popitem(last=False)

    def _robots_store(self, key: str, entry: _RobotsEntry) -> None:
        self._robots_memo_put(key, entry)
        self._robots_dirty[key] = entry  # table row, flushed at snapshot

    def _robots_lookup(self, keys: list[str]) -> dict[str, _RobotsEntry]:
        """Entries for the batch's robots keys: LRU memo → dirty set →
        one broadcast-semi lookup against the robots TABLE for the misses
        (batch-bounded result; the table itself never collects fully)."""
        out: dict[str, _RobotsEntry] = {}
        missing: list[str] = []
        for k in keys:
            entry = self.robots_cache.get(k)
            if entry is not None:
                self.robots_cache.move_to_end(k)
            else:
                entry = self._robots_dirty.get(k)
            if entry is not None:
                out[k] = entry
            else:
                missing.append(k)
        if missing and self._robots_base is not None:
            kdf = local_df(self.spark, [{"robots_key": k} for k in set(missing)],
                           T.StructType([T.StructField("robots_key", T.StringType())]))
            rows = self._robots_base.join(F.broadcast(kdf), "robots_key").collect()
            for r in rows:
                entry = _RobotsEntry(r["robots_txt"], r["deny_status"],
                                     r["req_err"], r["fetched_at"])
                out[r["robots_key"]] = entry
                self._robots_memo_put(r["robots_key"], entry)
        return out

    def _robots_dim_df(self, keys: list[str]) -> DataFrame:
        """Per-cycle robots dimension: ONLY the batch's keys (budget-
        bounded), broadcast-joined to the candidates — never the whole
        host universe."""
        entries = self._robots_lookup(list(dict.fromkeys(keys)))
        rows = [
            {"robots_key": k, "robots_txt": e.txt, "robots_deny_status": e.deny_status,
             "robots_req_err": e.req_err}
            for k, e in entries.items()
        ]
        schema = T.StructType([
            T.StructField("robots_key", T.StringType()),
            T.StructField("robots_txt", T.StringType()),
            T.StructField("robots_deny_status", T.IntegerType()),
            T.StructField("robots_req_err", T.BooleanType()),
        ])
        return local_df(self.spark, rows, schema)

    def _refresh_robots(
            self, key_firsts: list[tuple[int, str]]) -> list[tuple[int, str]]:
        """Fetch robots.txt for batch hosts with cache-miss/TTL semantics
        (Crawler.js:445-502). Input is (first_batch_idx, robots_key) per
        DISTINCT key, ordered by first occurrence — host-bounded, never the
        per-URL batch. Returns the ordered frontier enqueues of the robots
        URLs themselves (Crawler.js:463-465)."""
        cfg = self.config
        known = self._robots_lookup([k for _, k in key_firsts])
        wanted: list[tuple[int, str]] = []
        for idx, key in key_firsts:
            entry = known.get(key)
            if entry is not None and (entry.fetched_at + cfg.robots_cache_ttl_ms
                                      > self.cycle_time):
                continue
            wanted.append((idx, key))
        if not wanted:
            return []

        fetched = self._fetch_with_redirects([k for _, k in wanted])
        for _, key in wanted:
            resp = fetched.get(key)
            if resp is None:
                self._robots_store(key, _RobotsEntry(None, None, True, self.cycle_time))
                continue
            status, body = resp
            if status < 400:
                txt = (bytes(body) if body is not None else b"").decode(
                    "utf-8", errors="replace")
                self._robots_store(key, _RobotsEntry(txt, None, False, self.cycle_time))
            elif status in (404, 410) or (status == 500 and cfg.robots_ignore_server_error):
                self._robots_store(key, _RobotsEntry("", None, False, self.cycle_time))
            else:
                self._robots_store(key, _RobotsEntry(None, status, False, self.cycle_time))
        return wanted

    def _fetch_with_redirects(self, urls: list[str]) -> dict:
        """Resolve each URL to a final (status, body), following 3xx up to
        max_redirect_hops (robots fetch uses followRedirect=true —
        Crawler.js:380-412). Small driver-side dimension fetch (robots URLs
        are one per unique batch host — batch-bounded)."""
        if self.config.fetch_mode == "http":
            return self._fetch_with_redirects_http(urls)
        result: dict[str, tuple[int, bytes] | None] = {}
        pending = {u: u for u in urls}  # original → current
        for _ in range(self.config.max_redirect_hops):
            if not pending:
                break
            current = list(set(pending.values()))
            # broadcast semi-join instead of a giant In() predicate
            # (isin with 1000+ hosts is a codegen-hostile expression)
            want_df = local_df(self.spark, [{"url": u} for u in current],
                               T.StructType([T.StructField("url", T.StringType())]))
            rows = (self.web_pages
                    .join(F.broadcast(want_df), "url")
                    .select("url", "status_code", "body", "location").collect())
            by_url = {r["url"]: r for r in rows}
            nxt: dict[str, str] = {}
            for orig, cur in pending.items():
                r = by_url.get(cur)
                if r is None:
                    result[orig] = None
                elif 300 <= r["status_code"] < 400 and r["location"]:
                    nxt[orig] = urls_mod.resolve(cur, r["location"])
                else:
                    result[orig] = (int(r["status_code"]), r["body"])
            pending = nxt
        for orig in pending:
            result[orig] = None  # redirect loop → request error
        return result

    def _fetch_with_redirects_http(self, urls: list[str]) -> dict:
        """HTTP twin of _fetch_with_redirects for fetch_mode="http": the
        same hop-following loop, but each hop goes through the configured
        transport (reference robots fetch, followRedirect=true —
        Crawler.js:445-502). Driver-side: robots URLs are a batch-bounded
        host dimension, exactly as the reference fetches them."""
        from . import webfetch as _wf
        cfg = self.config
        tp = cfg.fetch_transport or _wf._default_transport
        session = None
        if cfg.fetch_transport is None:
            import requests
            session = requests.Session()
        ua_fn = cfg.user_agent if callable(cfg.user_agent) else None
        result: dict[str, tuple[int, bytes] | None] = {}
        pending = {u: u for u in urls}
        try:
            for _ in range(cfg.max_redirect_hops):
                if not pending:
                    break
                nxt: dict[str, str] = {}
                for orig, cur in pending.items():
                    ua = ua_fn(cur) if ua_fn is not None else cfg.user_agent
                    options = _wf.merge_request_options(
                        {"headers": {"User-Agent": ua},
                         "allow_redirects": False,
                         "timeout": cfg.fetch_timeout_s},
                        cfg.request_opts)
                    try:
                        status, _ct, loc, body = tp(session, cur, options)
                    except Exception:
                        result[orig] = None
                        continue
                    if 300 <= status < 400 and loc:
                        nxt[orig] = urls_mod.resolve(cur, loc)
                    else:
                        result[orig] = (int(status), body)
                pending = nxt
        finally:
            if session is not None:
                session.close()  # no pool/fd leak across cycles
        for orig in pending:
            result[orig] = None  # redirect loop → request error
        return result

    # ------------------------------------------------------------------
    # lineage / metrics
    # ------------------------------------------------------------------
    def _log_cycle(self, results: DataFrame, stats: CycleStats) -> None:
        """Buffer lineage events executor-side (a DataFrame projection of
        the persisted outcome fold — per-URL rows never reach the driver)
        and per-cycle metrics as driver scalars; both flushed as parquet at
        each snapshot commit so checkpoint/resume carries the lineage."""
        self._log_df_buffer.append(results.select(
            F.lit(self.cycle_id).cast("long").alias("cycle_id"),
            F.col("batch_idx"),
            F.lit("crawledurl").alias("event"),
            F.col("url"),
            F.col("status_out").alias("status_code"),
            F.col("error_code"),
            F.col("error_message").alias("detail")))
        self._pending_results.append(results)
        if stats.results:
            # per-URL payloads were already collected for the facade events
            # — derive the scalars from them rather than running another job
            stats.robots_denied = sum(
                1 for r in stats.results
                if r["error_code"] == "ROBOTS_NOT_ALLOWED")
            stats.errors = sum(
                1 for r in stats.results if r["error_code"] is not None)
        else:
            counts = results.agg(
                F.count(F.when(F.col("error_code") == "ROBOTS_NOT_ALLOWED",
                               F.lit(1))).alias("rd"),
                F.count(F.when(F.col("error_code").isNotNull(),
                               F.lit(1))).alias("er")).collect()[0]
            stats.robots_denied = int(counts["rd"])
            stats.errors = int(counts["er"])
        self._metrics_buffer.append({
            "cycle_id": self.cycle_id,
            "popped": stats.popped,
            "links_found": stats.links_found,
            "links_new": stats.links_new,
            "dedup_hits": stats.dedup_hits,
            "robots_denied": stats.robots_denied,
            "errors": stats.errors,
            "cycle_time": self.cycle_time,
            "bloom_fpr_est": (self._bloom.fp_rate_estimate()
                              if self._bloom is not None else None),
        })

    def _flush_logs(self) -> None:
        if self._log_df_buffer:
            out = self._log_df_buffer[0]
            for df in self._log_df_buffer[1:]:
                out = out.unionByName(df)
            self.crawl_log.append(out)
            self._log_df_buffer = []
            # the outcome folds backing the log rows were pinned per cycle;
            # the parquet write above is their last consumer
            for df in self._pending_results:
                df.unpersist()
            self._pending_results = []
        if self._metrics_buffer:
            self.metrics_log.append(
                local_df(self.spark, self._metrics_buffer, METRICS_SCHEMA))
            self._metrics_buffer = []

    # ------------------------------------------------------------------
    # inspection helpers for tests
    # ------------------------------------------------------------------
    def frontier_pdf(self) -> pd.DataFrame:
        return (self.frontier.orderBy("seq")
                .toPandas())

    def seen_urls(self) -> set:
        return {r["url"] for r in self.frontier.select("url").collect()}


def _make_handler_kernel(registry: HandlerRegistry):
    """Vectorized UDTF: one mapInPandas pass runs redirect extraction and ALL
    matching handlers per page (shared parse — reference O8). Emits
    (batch_idx, link_idx, link, handlers_error) rows."""

    def kernel(batches):
        for pdf in batches:
            out_bi, out_li, out_link, out_err = [], [], [], []
            for bi, url, status, ct, location, body in zip(
                    pdf["batch_idx"], pdf["url"], pdf["f_status"],
                    pdf["f_content_type"], pdf["f_location"], pdf["f_body"]):
                if 300 <= status < 400:
                    # redirect: discovered = [resolve(url, location)] —
                    # Crawler.js:246-249 (no handlers fired)
                    target = urls_mod.resolve(url, location or "")
                    out_bi.append(bi); out_li.append(0)
                    out_link.append(target); out_err.append(None)
                    continue
                norm_ct = urls_mod.normalize_content_type(ct, url)
                raw = bytes(body) if body is not None else b""
                try:
                    links = registry.fire(raw, url, norm_ct)
                except HandlersError as exc:
                    out_bi.append(bi); out_li.append(0)
                    out_link.append(None); out_err.append(str(exc))
                    continue
                for li, link in enumerate(links):
                    out_bi.append(bi); out_li.append(li)
                    out_link.append(link); out_err.append(None)
            yield pd.DataFrame({
                "batch_idx": pd.Series(out_bi, dtype="int64"),
                "link_idx": pd.Series(out_li, dtype="int64"),
                "link": pd.Series(out_link, dtype="object"),
                "handlers_error": pd.Series(out_err, dtype="object"),
            })

    return kernel
