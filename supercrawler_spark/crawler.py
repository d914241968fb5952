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

import functools
import math
import os
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import functions as SF
from . import urls as urls_mod
from .handlers import HandlerRegistry, HandlersError, default_registry
from .storage import AppendLog, SnapshotStore, run_concurrently

YEAR_MS = float(urls_mod.YEAR_MS)
HOUR_MS = 3600000.0
LEASE_MS = 60000.0  # DbUrlList.js:273 — in-flight lease window

# deterministic analog of the reference's network-failure message
# ("A request error occured. " + err.message — Crawler.js:396-399)
REQUEST_ERROR_MSG = "A request error occured. connect ECONNREFUSED"

# driver-side LRU bound of each host-keyed state table's memo (the table is
# the source of truth, carried in snapshots; the memo only bounds repeat
# lookups — web-scale host counts never accumulate on the driver)
HOST_MEMO_SIZE = 10000

# cycles discovering more links than this assign seqs with assign_dense_seq
# (range partition + per-partition offsets, no single-task window); smaller
# cycles use a flat window (one task, but bounded rows — cheaper than an
# extra shuffle + counts job). Both give IDENTICAL seqs (parity-pinned); the
# threshold exists for sitemap-dump cycles (DbUrlList.js:123-127 — B pages
# × 50k links ⇒ ~10^6 rows).
SEQ_PARTITION_THRESHOLD = 65536

# Bloom capacity planning for 10^10-key frontiers: after every add or
# absorb the engine checks the analytic fp_rate_estimate; above this the
# filter stops filtering (every candidate routes to the exact verify), so
# it is rebuilt EMPTY at 2x partitions + 2x bits/partition and repopulated
# from the frontier (one distributed add), repeating until the estimate
# clears it.
# The estimate is logged in the metrics table (bloom_fpr_est column).
BLOOM_REBUILD_FPR = 0.05

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
FRONTIER_COLS = FRONTIER_SCHEMA.fieldNames()

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
    T.StructField("host", T.StringType()),
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


def minus_seen(links: DataFrame, seen: DataFrame, col: str = "url") -> DataFrame:
    """links − seen WITHOUT shuffling the seen side. A plain left_anti
    with a 10^10-row right side shuffles the whole frontier every cycle;
    here the politeness-bounded links broadcast INTO the seen scan
    (left_semi streams the frontier through a broadcast hash join → the
    few hits), and the hits broadcast back for the anti. Net cost: one
    column-pruned scan of seen, zero frontier shuffle.

    Precondition: ``links`` is already unique on ``col`` (the cycle's
    first-occurrence-deduped links, seed's deduplicated batch and the
    Bloom prefilter's suspects, a subset of its unique candidates, all
    are), so no distinct shuffle here."""
    hits = seen.join(F.broadcast(links.select(col)), col, "left_semi")
    return links.join(F.broadcast(hits), col, "left_anti")


def shuffle_partitions(spark: SparkSession) -> int:
    """Partition count for the exchanges the engine sizes itself."""
    return int(spark.conf.get("spark.sql.shuffle.partitions") or 32)


def overlay(old: DataFrame, new: DataFrame, key: str, cols: list[str],
            keys: DataFrame | None = None, new_first: bool = True) -> DataFrame:
    """Newer rows win by key: ``old`` loses every row whose ``key`` is in
    ``new`` (a left-anti against the broadcast key set — ``old`` is
    streamed, never shuffled), and the rest is unioned with ``new``.
    ``keys``: optional pre-pinned frame holding exactly ``new``'s key set,
    so building the broadcast does not evaluate ``new``'s plan twice."""
    kept = old.join(F.broadcast((keys if keys is not None else new).select(key)),
                    key, "left_anti").select(*cols)
    new = new.select(*cols)
    return new.unionByName(kept) if new_first else kept.unionByName(new)


def assign_dense_seq(spark: SparkSession, df: DataFrame, order: list,
                     start: int) -> tuple[DataFrame, int]:
    """Dense seqs start+1, start+2, ... in ``order`` (unique per row)
    WITHOUT a single-partition window: range-partition on the order key,
    then per-partition row_number + cumulative offsets from a P-row counts
    collect — no task ever sees all rows. The seqs equal a flat window's
    global rank in key order. Returns (df + ``seq``, row count).

    localCheckpoint (not persist) pins the range partitioning before the
    counts collect: with persist(), losing a cached block would re-sample
    the range bounds on recompute and move rows between partitions,
    silently duplicating or skipping seqs."""
    pinned = (df.repartitionByRange(shuffle_partitions(spark), *order)
              .withColumn("_spid", F.spark_partition_id())
              .localCheckpoint(eager=True))
    counts = {r["_spid"]: r["n"] for r in
              pinned.groupBy("_spid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append({"_spid": pid, "_off": acc})
        acc += counts[pid]
    off_df = local_df(spark, offsets,
                      T.StructType([T.StructField("_spid", T.IntegerType()),
                                    T.StructField("_off", T.LongType())]))
    w = Window.partitionBy("_spid").orderBy(*order)
    return (pinned.join(F.broadcast(off_df), "_spid")
            .withColumn("seq", F.lit(start) + F.col("_off")
                        + F.row_number().over(w).cast("long"))
            .drop("_spid", "_off")), acc


def _unfetched(df: DataFrame) -> DataFrame:
    """Frontier rows for never-fetched urls; ``df`` brings url, host, seq
    and next_fetch_time."""
    return (df.withColumn("url_hash", SF.url_hash(F.col("url")))
            .withColumn("status_code", F.lit(None).cast("int"))
            .withColumn("error_code", F.lit(None).cast("string"))
            .withColumn("error_message", F.lit(None).cast("string"))
            .withColumn("num_errors", F.lit(0))
            .select(*FRONTIER_COLS))


class HostStateTable:
    """Per-host crawl state (robots entries, decay delays) kept off the
    driver: a host-keyed TABLE (``base``, snapshot-carried, parquet-backed
    after each commit) is the source of truth; the driver holds only a
    bounded LRU ``memo`` and the ``dirty`` rows put since the last commit
    (batch-bounded) — never the host universe. Rows are tuples of the
    schema's non-key columns, built by ``make``."""

    def __init__(self, schema: T.StructType, make=tuple,
                 base: DataFrame | None = None):
        self.schema, self.make, self.base = schema, make, base
        self.key = schema.fieldNames()[0]
        self.memo: OrderedDict = OrderedDict()
        self.dirty: dict = {}

    def _remember(self, key: str, row) -> None:
        self.memo[key] = row
        self.memo.move_to_end(key)
        while len(self.memo) > HOST_MEMO_SIZE:
            self.memo.popitem(last=False)

    def put(self, key: str, row) -> None:
        self._remember(key, row)
        self.dirty[key] = row  # table row, flushed at the next commit

    def lookup(self, spark: SparkSession, keys: list[str]) -> dict:
        """Rows for ``keys``: memo → dirty set → one broadcast-join collect
        against the table for the misses (the result is bounded by the
        keys asked for; the table itself never collects fully)."""
        out, missing = {}, []
        for k in dict.fromkeys(keys):
            row = self.memo.get(k)
            if row is not None:
                self.memo.move_to_end(k)
            else:
                row = self.dirty.get(k)
            if row is not None:
                out[k] = row
            else:
                missing.append(k)
        if missing and self.base is not None:
            kdf = local_df(spark, [{self.key: k} for k in missing],
                           T.StructType([self.schema[self.key]]))
            for r in self.base.join(F.broadcast(kdf), self.key).collect():
                row = self.make(r[1:])
                out[r[0]] = row
                self._remember(r[0], row)
        return out

    def table(self, spark: SparkSession) -> DataFrame:
        """The state to commit: dirty rows overlaid on the base table."""
        if self.base is not None and not self.dirty:
            return self.base
        names = self.schema.fieldNames()
        dirty = local_df(spark, [dict(zip(names, (k, *row)))
                                 for k, row in self.dirty.items()], self.schema)
        if self.base is None:
            return dirty
        return overlay(self.base, dirty, self.key, names)

    def rebase(self, base: DataFrame | None) -> None:
        """After a commit: the table just written is the base; no row is
        dirty any more."""
        self.base, self.dirty = base, {}


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
    # collects ONLY scalars (the link count; the other counters are
    # Observations on jobs the cycle runs anyway) + per-host robots keys —
    # the batch, the outcome fold, the upsert delta and the crawl_log rows
    # all stay executor-resident (O13: no driver round-trip of 10^6-row
    # cycles)
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
    use_bloom: bool = False              # Bloom-prefiltered dedup (scale path)
    bloom_partitions: int = 32
    bloom_capacity: int = 1 << 20
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


class _RobotsEntry(NamedTuple):
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
    results: list = field(default_factory=list)  # per-row outcomes (driver),
    # in batch_idx (pick) order
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
        # host-keyed state tables: robots entries, and decay-mode
        # host → (delay, last_update) (RedisUrlList zset scores)
        self.robots = HostStateTable(ROBOTS_SCHEMA, _RobotsEntry._make)
        self.host_delay = HostStateTable(HOST_DELAY_SCHEMA)
        self.max_seq: int = -1
        self.cycle_id: int = 0
        self.cycle_time: float = self.config.virtual_start_ms
        self.crawl_order: list[tuple[int, int, str]] = []
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
        return overlay(self._base, self._delta, "url", FRONTIER_COLS,
                       new_first=False)

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
        if self._delta is None:
            merged = changes.select(*FRONTIER_COLS)
        else:
            merged = overlay(self._delta, changes, "url", FRONTIER_COLS,
                             keys=keys)
        # bound the delta's partition count: unions add partitions every
        # cycle (32 + 64 + ... → hundreds of near-empty tasks by cycle N);
        # coalesce is shuffle-free and keeps per-cycle task counts flat
        self._delta = (merged.coalesce(shuffle_partitions(self.spark))
                       .localCheckpoint(eager=True))

    def _compact(self) -> None:
        """Rebase onto the last committed snapshot: the parquet just
        written becomes the base layer (scan-pruned by next_fetch_time
        row-group stats) and the delta resets."""
        base = self.store.load(self.spark, "frontier", FRONTIER_SCHEMA)
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
            state = self.host_delay.lookup(self.spark, [r["host"] for r in rows])
            scores = decay_scores(
                [(r["host"], self.cycle_time) for r in rows],
                state, self.config.delay_half_life_ms)
            for h, v in state.items():
                self.host_delay.put(h, v)
            for r, s in zip(rows, scores):
                r["next_fetch_time"] = s
        if not rows:
            return
        df = local_df(self.spark, rows, FRONTIER_SCHEMA)
        view = self.frontier
        if view is not None:
            df = minus_seen(df, view.select("url"))
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
          a one-time seeding cost, unlike the per-cycle minus_seen);
        - dense seqs from ``assign_dense_seq`` (no single task ever sees
          the whole seed list), in ``order_col`` order when given (FIFO
          semantics), else in url order;
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
        order = [F.col("url")]
        if order_col is not None and order_col != url_col:
            ords = (urls_df.groupBy(F.col(url_col).alias("url"))
                    .agg(F.min(order_col).alias("_ord")))
            inc = inc.join(ords, "url", "left")
            order = [F.col("_ord"), F.col("url")]
        seqd, total = assign_dense_seq(self.spark, inc, order, self.max_seq)
        if total == 0:
            return 0
        if self.config.order_mode == "fifo":
            nft = F.lit(0.0)
        else:
            nft = SF.fresh_next_fetch(F.col("url"), F.lit(self.cycle_time))
        rows = _unfetched(seqd.withColumn("next_fetch_time", nft)
                          .withColumn("host", SF.hostname_udf(F.col("url"))))
        # stage lazily and commit straight to the parquet base — a web-scale
        # seed list must not pass through an in-memory delta checkpoint;
        # the snapshot write is the single materialization
        view = self.frontier
        self._base = rows if view is None else \
            view.select(*FRONTIER_COLS).unionByName(rows)
        self._delta = None
        self.max_seq += total
        if self._bloom is not None:
            # BEFORE the snapshot commit: the bloom table is persisted inside
            # the commit, and a resume() restores it verbatim — a filter
            # missing the just-seeded URLs would mark them "definitively
            # never seen" after resume and re-insert duplicate frontier rows
            self._bloom.add(self.spark, seqd.select("url"))
            self._maybe_rebuild_bloom()
        self._commit_snapshot()  # writes parquet (incl. bloom), rebases onto it
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
        return self.store.load_as_of(self.spark, "frontier", version,
                                     FRONTIER_SCHEMA)

    def resume(self) -> bool:
        """Restart from the last committed snapshot (north_rule checkpoint
        requirement). Returns True if a snapshot was found."""
        manifest = self.store.read_manifest()
        if manifest is None:
            return False
        meta = manifest["meta"]
        # parquet-backed base layer: the due-scan prunes on row-group stats
        self._compact()
        # host state resumes as TABLES — no collect of all hosts; rows are
        # looked up per batch as the crawl touches them
        self.robots = HostStateTable(ROBOTS_SCHEMA, _RobotsEntry._make)
        self.host_delay = HostStateTable(HOST_DELAY_SCHEMA)
        self._rebase_host_state()
        self.max_seq = meta["max_seq"]
        self.cycle_id = meta["cycle_id"]
        self.cycle_time = meta["cycle_time"]
        if self.config.use_bloom:
            # restore the seen-filter — a fresh (empty) filter would mark
            # already-crawled URLs "definitively new", bypass the exact
            # anti-join, and re-insert duplicate frontier rows
            from .bloom import PartitionedBloom
            bloom_df = self.store.load(self.spark, "bloom",
                                       PartitionedBloom.SNAPSHOT_SCHEMA)
            if bloom_df is not None:
                self._bloom = PartitionedBloom.from_df(bloom_df)
            else:
                self._bloom = PartitionedBloom(self.config.bloom_partitions,
                                               self.config.bloom_capacity)
                self._bloom.add(self.spark, self.frontier.select("url"))
        return True

    def _commit_snapshot(self) -> None:
        # frontier sorted by next_fetch_time within partitions → parquet
        # min/max stats make the due-filter prune files at scale (O1)
        tables = {"frontier": self.frontier
                  .repartition(shuffle_partitions(self.spark), "host")
                  .sortWithinPartitions("next_fetch_time")}
        # host-state tables: dirty rows overlaid on the previous table —
        # same LSM shape as the frontier, written in key order so the same
        # state always writes the same files
        tables.update(
            (name, st.table(self.spark)
             .repartition(shuffle_partitions(self.spark), st.key)
             .sortWithinPartitions(st.key))
            for name, st in self._host_states().items())
        if self._bloom is not None:
            tables["bloom"] = self._bloom.to_df(self.spark)
        # meta carries ONLY scalars — per-host decay state is a table now
        # (an O(hosts) manifest entry would put the host universe back on
        # the driver at web scale)
        meta = {"cycle_id": self.cycle_id, "cycle_time": self.cycle_time,
                "max_seq": self.max_seq}
        # the log flush writes tables of its own: it runs beside the commit
        run_concurrently(self.spark,
                         [self._flush_logs,
                          lambda: self.store.commit(tables, meta=meta)])
        # compaction: the snapshot just written becomes the base layer and
        # the delta resets — the only O(|frontier|) write, amortized over
        # checkpoint_every cycles
        self._compact()
        self._rebase_host_state()
        if self._bloom is not None:
            # re-root the bitset table on the parquet just written (frees
            # the executor-side checkpoint blocks; bits are unchanged)
            bloom_df = self.store.load(self.spark, "bloom",
                                       self._bloom.SNAPSHOT_SCHEMA)
            if bloom_df is not None:
                self._bloom.rebase(bloom_df)

    def _host_states(self) -> dict[str, HostStateTable]:
        """The snapshot-carried host-state tables by table name
        (host_delay only in decay mode)."""
        states = {"robots": self.robots}
        if self.config.order_mode == "decay":
            states["host_delay"] = self.host_delay
        return states

    def _rebase_host_state(self) -> None:
        """Point each host-state table at its last committed version."""
        for name, st in self._host_states().items():
            st.rebase(self.store.load(self.spark, name, st.schema))

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

        # --- robots refresh + routing (driver-coordinated small dimension) --
        # driver sees one row per distinct robots key (≈ host) in the batch,
        # never the per-URL rows: the robots fetch itself is inherently
        # driver-coordinated (LRU/TTL cache + redirect-following GET)
        robots_inserts: list[tuple[int, str]] = []  # (batch_idx, robots_url)
        key_firsts: list[tuple[int, str]] = []
        if cfg.robots_enabled:
            # one row per key, first_idx unique: sorting them here saves
            # the range-sampling job a Spark orderBy would run
            key_firsts = sorted(
                (int(r["first_idx"]), r["robots_key"])
                for r in (frame.groupBy("robots_key")
                          .agg(F.min("batch_idx").alias("first_idx"))
                          .collect()))
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
            found = found_expr.localCheckpoint(eager=True)
        else:
            # offline fetch join: the batch (politeness-budget bounded) is
            # broadcast INTO the web table: one streaming scan of web_pages
            # per cycle, bodies never shuffled or broadcast. URLs absent
            # from the web surface as f_status NULL → REQUEST_ERROR
            # (connection-failure analog). f_status is cast to the
            # frontier's int status_code: a web table with long statuses
            # would otherwise widen the frontier's column, and the snapshot
            # loads read with FRONTIER_SCHEMA.
            pages = self.web_pages.select(
                "url",
                F.col("status_code").cast("int").alias("f_status"),
                F.col("content_type").alias("f_content_type"),
                F.col("location").alias("f_location"),
                F.col("body").alias("f_body"),
            )
            # the batch is the join's left side so every frame derived from
            # it stays in the crawler's session even when web_pages comes
            # from another: an Observation on such a frame (new_rows)
            # completes only through an action in its own session
            found = F.broadcast(batch_df).join(pages, "url", "inner").persist()
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
                    .select("batch_idx", "link_idx", F.col("link").alias("url"),
                            "host"))
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
        # it as DataFrame lineage; its two counters are observed by the
        # first job that materializes it (the events collect, else the
        # delta fold). Full rows cross to the driver ONLY when
        # collect_events asks for the facade's per-URL event payloads.
        outcome_counts = Observation()
        results = (results
                   .select("batch_idx", "url", "num_errors", "status_out",
                           "error_code", "error_message", "f_location")
                   .observe(outcome_counts,
                            F.count(F.when(F.col("error_code")
                                           == "ROBOTS_NOT_ALLOWED",
                                           F.lit(1))).alias("robots_denied"),
                            F.count(F.col("error_code")).alias("errors"))
                   .persist())
        if cfg.collect_events:
            # the only place per-URL rows reach the driver, and only on
            # request: one row per popped URL, in pick order — the facade's
            # event payloads and the crawl order (parity contract)
            stats.results = sorted((r.asDict() for r in results.collect()),
                                   key=lambda r: r["batch_idx"])
            self.crawl_order.extend((self.cycle_id, r["batch_idx"], r["url"])
                                    for r in stats.results)

        # --- ordered insert list: robots enqueues then discovered links -----
        # (robots URL enqueued BEFORE the page's own links — Crawler.js:463-465)
        links_all = links_df.withColumn("source_order", F.lit(1))
        if robots_inserts:
            robots_links = local_df(
                self.spark,
                [{"batch_idx": bi, "link_idx": 0, "url": u,
                  "host": urls_mod.hostname_of(u)} for bi, u in robots_inserts],
                T.StructType([
                    T.StructField("batch_idx", T.LongType()),
                    T.StructField("link_idx", T.LongType()),
                    T.StructField("url", T.StringType()),
                    T.StructField("host", T.StringType()),
                ])).withColumn("source_order", F.lit(0))
            links_all = robots_links.unionByName(links_all)

        n_links = links_all.count()
        stats.links_found = int(n_links) - len(robots_inserts)

        # virtual time at which each batch row is processed
        t_row = (F.lit(self.cycle_time)
                 + F.col("batch_idx").cast("double") * F.lit(cfg.interval_ms))
        scored = None  # decay mode's pinned scores, released with the cycle
        if n_links:
            # first occurrence within the cycle wins (unique-index semantics,
            # J1). min(struct) ordered lexicographically by (batch_idx,
            # source_order, link_idx) ≡ the first-occurrence window, but as a
            # hash aggregate it gets MAP-SIDE partial combine: duplicate
            # links (common on the web — nav bars, footers) collapse before
            # the url-key exchange, and there is no per-group sort. The
            # window form shuffles every duplicate row then sorts each group.
            # host rides last in the struct: it is a function of url, so it
            # never decides the min.
            links_unique = (links_all
                            .groupBy("url")
                            .agg(F.min(F.struct("batch_idx", "source_order",
                                                "link_idx", "host")).alias("_k"))
                            .select("url", F.col("_k.batch_idx").alias("batch_idx"),
                                    F.col("_k.source_order").alias("source_order"),
                                    F.col("_k.link_idx").alias("link_idx"),
                                    F.col("_k.host").alias("host")))

            # dedup vs the seen set (= the whole frontier): Bloom-prefiltered
            # (scale path), and the exact verify streams the frontier
            # through broadcast joins — never shuffles it (minus_seen)
            seen = self.frontier.select("url")
            if self._bloom is not None:
                # suspects are politeness-bounded → broadcast verify (the
                # frontier streams, never shuffles)
                links_unique = self._bloom.prefilter(self.spark, links_unique, "url",
                                                     seen, verify="broadcast")
            else:
                links_unique = minus_seen(links_unique, seen)
            if self.plan_sink is not None:
                self.plan_sink["dedup"] = plan_str(links_unique)

            # seq assignment over the cycle's new links: flat window while
            # the cycle is small; above the threshold (sitemap-dump cycles)
            # the range-partitioned offset scheme — identical seqs, no
            # single-task stage
            if n_links > SEQ_PARTITION_THRESHOLD:
                seqd, _ = assign_dense_seq(
                    self.spark, links_unique,
                    ["batch_idx", "source_order", "link_idx"], self.max_seq)
            else:
                w_seq = Window.partitionBy(F.lit(0)).orderBy(
                    "batch_idx", "source_order", "link_idx")
                seqd = links_unique.withColumn(
                    "seq",
                    F.lit(self.max_seq) + F.row_number().over(w_seq).cast("long"))
            base = seqd.withColumn("t_insert", t_row)
            if cfg.order_mode == "fifo":
                base = base.withColumn("next_fetch_time", F.lit(0.0))
            elif cfg.order_mode == "decay":
                base = scored = self._decay_score_rows(base)
            else:
                base = base.withColumn(
                    "next_fetch_time",
                    SF.fresh_next_fetch(F.col("url"), F.col("t_insert")))
            # count and max seq are observed by the delta fold's job,
            # which materializes these rows
            inserted = Observation()
            new_rows = (_unfetched(base)
                        .observe(inserted, F.count(F.lit(1)).alias("n"),
                                 F.max("seq").alias("max_seq"))
                        .persist())
        else:
            new_rows = None  # zero discovered links → nothing to dedup/insert

        # --- upsert merge (S6: MERGE WHEN MATCHED UPDATE / NOT MATCHED
        # INSERT). The update side touches ONLY the popped batch rows: their
        # current state was collected by the pop, so the delta is computed
        # over a batch-sized frame and the big base layer is never rewritten
        # (bucket-local MERGE semantics; Iceberg MERGE on a real cluster).
        upd = results.select(
            F.col("url").alias("u_url"), "batch_idx", "status_out",
            F.col("error_code").alias("u_error_code"),
            F.col("error_message").alias("u_error_message"))
        batch_state = frame.select(*FRONTIER_COLS)
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
                F.when(is_err, SF.backoff_next_fetch(t_row, new_num_errors,
                                                     cfg.initial_retry_ms))
                 .when(has_upd & F.col("status_out").isNotNull(),
                       t_row + F.lit(cfg.recrawl_ms))
                 .when(has_upd,  # null status + null error → re-crawl now
                       SF.fresh_next_fetch(F.col("url"), t_row))
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
        n_new = 0
        if new_rows is not None:
            got = inserted.get
            n_new = int(got["n"])
            if n_new:
                # seqs are dense from max_seq + 1
                if int(got["max_seq"]) != self.max_seq + n_new:
                    raise RuntimeError(
                        f"new rows' seqs are not dense: {n_new} rows after "
                        f"{self.max_seq}, max {got['max_seq']}")
                self.max_seq += n_new
        stats.links_new = n_new
        stats.dedup_hits = int(n_links - n_new)
        if self._bloom is not None and new_rows is not None:
            # the probe already ORed every candidate into its grown bits;
            # the delta fold materialized them, so this only pins them
            self._bloom.absorb(n_new)
            self._maybe_rebuild_bloom()
        kernel_out.unpersist()
        found.unpersist()
        for df in (new_rows, scored):
            if df is not None:
                df.unpersist()

        # --- lineage / metrics (S7, A5) -------------------------------------
        self._log_cycle(results, outcome_counts, stats)

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
        """Capacity planning (run after every bloom add or absorb): when the
        analytic FPR estimate crosses BLOOM_REBUILD_FPR the filter has
        saturated — rebuild at 2× partitions/bits from the frontier (the
        authoritative seen set), doubling until the estimate clears the
        threshold (bounded at 8 doublings). Dedup results are unchanged
        either way (the Bloom is only ever a prefilter over an exact
        verify); saturation costs throughput, not correctness."""
        if self._bloom is None:
            return
        for _ in range(8):
            if self._bloom.fp_rate_estimate() <= BLOOM_REBUILD_FPR:
                return
            grown = self._bloom.grown_empty(2)
            grown.add(self.spark, self.frontier.select("url"))
            self._bloom.release()
            self._bloom = grown

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
        final per-host state harvested back (one tiny collect). Returns the
        persisted scored frame (its ``_d_*``/``_is_last`` helper columns
        are dropped by the caller's final projection); the caller
        unpersists it."""
        from .priority import decay_scores

        hl = self.config.delay_half_life_ms
        # carried state for ONLY this cycle's hosts (memo/dirty/table
        # lookup — never the whole host universe)
        cycle_hosts = [r["host"] for r in base.select("host").distinct().collect()]
        state_bc = self.spark.sparkContext.broadcast(
            self.host_delay.lookup(self.spark, cycle_hosts))
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
            self.host_delay.put(r["host"], (r["_d_delay"], r["_d_last"]))
        return scored

    # ------------------------------------------------------------------
    # pop (W1/W2): salted host-bucket window rank + global top-B
    # ------------------------------------------------------------------
    def _pop_batch(self) -> tuple[DataFrame, int]:
        """Pop the cycle's politeness batch. Returns (frame, n): an
        executor-pinned DataFrame of FRONTIER_SCHEMA + batch_idx +
        robots_key, and its row count — observed by the pinning job
        itself, so no job runs for it. No per-URL driver transfer."""
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
        frame = due.orderBy(*order).limit(cfg.budget).select(*FRONTIER_COLS)
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
        popped = Observation()
        frame = (frame.observe(popped, F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))
        return frame, int(popped.get["n"])

    # ------------------------------------------------------------------
    # robots layer (S5/F2/F3/T6) — host-keyed table + bounded LRU memo
    # ------------------------------------------------------------------
    def _robots_dim_df(self, keys: list[str]) -> DataFrame:
        """Per-cycle robots dimension: ONLY the batch's keys (budget-
        bounded), broadcast-joined to the candidates — never the whole
        host universe."""
        entries = self.robots.lookup(self.spark, keys)
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
        known = self.robots.lookup(self.spark, [k for _, k in key_firsts])
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
                entry = (None, None, True)
            elif resp[0] < 400:
                body = resp[1]
                entry = ((bytes(body) if body is not None else b"").decode(
                    "utf-8", errors="replace"), None, False)
            elif resp[0] in (404, 410) or (resp[0] == 500
                                           and cfg.robots_ignore_server_error):
                entry = ("", None, False)
            else:
                entry = (None, resp[0], False)
            self.robots.put(key, _RobotsEntry(*entry, self.cycle_time))
        return wanted

    def _fetch_with_redirects(self, urls: list[str]) -> dict:
        """Resolve each URL to a final (status, body) or None (request
        error), following 3xx up to MAX_REDIRECT_HOPS (robots fetch uses
        followRedirect=true — Crawler.js:380-412, 445-502). Small
        driver-side dimension fetch: robots URLs are one per unique batch
        host — batch-bounded, exactly as the reference fetches them. Each
        hop fetches the distinct current URLs in one go: a broadcast-semi
        job against web_pages in join mode, the configured transport per
        URL in http mode."""
        cfg = self.config
        session = None
        if cfg.fetch_mode == "http":
            if cfg.fetch_transport is None:
                import requests
                session = requests.Session()
            hop = functools.partial(self._http_hop, session)
        else:
            hop = self._join_hop
        result: dict[str, tuple[int, bytes] | None] = {}
        pending = {u: u for u in urls}  # original → current
        try:
            for _ in range(urls_mod.MAX_REDIRECT_HOPS):
                if not pending:
                    break
                got = hop(list(dict.fromkeys(pending.values())))
                nxt: dict[str, str] = {}
                for orig, cur in pending.items():
                    r = got.get(cur)
                    if r is None:
                        result[orig] = None
                    elif 300 <= r[0] < 400 and r[1]:
                        nxt[orig] = urls_mod.resolve(cur, r[1])
                    else:
                        result[orig] = (int(r[0]), r[2])
                pending = nxt
        finally:
            if session is not None:
                session.close()  # no pool/fd leak across cycles
        for orig in pending:
            result[orig] = None  # redirect loop → request error
        return result

    def _join_hop(self, urls: list[str]) -> dict:
        """url → (status, location, body) for the urls present in
        web_pages — a broadcast semi-join instead of a giant In() predicate
        (isin with 1000+ hosts is a codegen-hostile expression)."""
        want_df = local_df(self.spark, [{"url": u} for u in urls],
                           T.StructType([T.StructField("url", T.StringType())]))
        rows = (self.web_pages.join(F.broadcast(want_df), "url")
                .select("url", "status_code", "location", "body").collect())
        return {r[0]: tuple(r[1:]) for r in rows}

    def _http_hop(self, session, urls: list[str]) -> dict:
        """url → (status, location, body) through the configured transport;
        a URL whose request raises is left out (request error)."""
        from . import webfetch as _wf
        cfg = self.config
        tp = cfg.fetch_transport or _wf._default_transport
        out = {}
        for u in urls:
            ua = cfg.user_agent(u) if callable(cfg.user_agent) else cfg.user_agent
            options = _wf.merge_request_options(
                {"headers": {"User-Agent": ua}, "allow_redirects": False,
                 "timeout": cfg.fetch_timeout_s}, cfg.request_opts)
            try:
                status, _ct, loc, body = tp(session, u, options)
            except Exception:
                continue
            out[u] = (status, loc, body)
        return out

    # ------------------------------------------------------------------
    # lineage / metrics
    # ------------------------------------------------------------------
    def _log_cycle(self, results: DataFrame, outcome_counts: Observation,
                   stats: CycleStats) -> None:
        """Buffer lineage events executor-side (a DataFrame projection of
        the persisted outcome fold — per-URL rows never reach the driver)
        and per-cycle metrics as driver scalars; both flushed as parquet at
        each snapshot commit so checkpoint/resume carries the lineage.
        ``outcome_counts`` holds the robots-denied and error counts,
        observed on ``results`` by the job that materialized it."""
        self._log_df_buffer.append(results.select(
            F.lit(self.cycle_id).cast("long").alias("cycle_id"),
            F.col("batch_idx"),
            F.lit("crawledurl").alias("event"),
            F.col("url"),
            F.col("status_out").alias("status_code"),
            F.col("error_code"),
            F.col("error_message").alias("detail")))
        self._pending_results.append(results)
        counts = outcome_counts.get
        stats.robots_denied = int(counts["robots_denied"])
        stats.errors = int(counts["errors"])
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
    (batch_idx, link_idx, link, host, handlers_error) rows; ``host`` is
    ``urls.hostname_of(link)``, the oracle's own host function."""

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
                "host": pd.Series([urls_mod.hostname_of(u) if u is not None
                                   else None for u in out_link],
                                  dtype="object"),
                "handlers_error": pd.Series(out_err, dtype="object"),
            })

    return kernel
