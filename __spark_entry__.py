"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline operators (dedup, similarity,
text analysis, multimodal) — each with an ANSI-SQL DuckDB twin in
``oracle_sql()`` where SQL can express it; genuinely non-SQL ops (SimHash
bit math, hyperplane LSH, image decode, the crawl loop itself) are
rows-only entries.

Conventions shared by both sides so value-hashes match:
- timestamps are returned as epoch seconds BIGINT (Spark: cast ntz →
  timestamp → long, truncating; DuckDB: floor(epoch(ts))::BIGINT)
- doubles are rounded to 4 decimals AFTER casting float arrays to double
- every computed column is aliased identically in Spark and SQL
- counts/sizes are BIGINT on both sides
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from supercrawler_spark.datapipe import dedup as DD
from supercrawler_spark.datapipe import similarity as SIM
from supercrawler_spark.datapipe import text as TX

CUTOFF = "2024-01-15 00:00:00"  # mid-range of events.ts
HALF_LIFE_S = 86400.0 * 7


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _est_scan_tasks(path: str) -> int:
    """Upper bound on the parquet scan's task count from file sizes alone
    (one split per spark.sql.files.maxPartitionBytes default 128 MB; a
    single row group can't split further, so this never underestimates
    the parallelism problem). Pure os.stat — no Spark job, no plan."""
    import glob as _glob
    if os.path.isdir(path):
        files = _glob.glob(os.path.join(path, "*.parquet")) or [path]
    else:
        files = [path]
    maxpb = 128 << 20
    total = 0
    for f in files:
        try:
            total += max(1, -(-os.path.getsize(f) // maxpb))
        except OSError:
            total += 1
    return total


def _ts(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """_t plus an ADAPTIVE scan-parallelism floor (optimization guide §2.5,
    "input skew: one huge unsplittable file ... repartition immediately
    after the read"): the SF tables are single-file single-row-group
    parquet, so every pre-exchange operator (tokenize, explode, md5,
    regex, UDF) otherwise runs in ONE task regardless of cores. When the
    estimated scan task count is below the session's parallelism, hash-
    repartition on a deterministic high-cardinality column (``key`` — a
    keyed exchange, NOT round-robin, so no sort-before-repartition pass
    and identical subtrees become one ReusedExchange). Width = the
    session's shuffle partitions, so downstream aggregations keyed on
    ``key`` (or any superset) reuse this partitioning and plan no second
    exchange. At cluster scale inputs carry >= cores splits and this is
    a structural no-op — the guard is data-derived, not host-derived."""
    df = _t(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if _est_scan_tasks(os.path.join(sf_dir, f"{name}.parquet")) >= n:
        return df
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" under some deployments
        width = n
    return df.repartition(width, F.col(key))


def _epoch(col) -> F.Column:
    """epoch seconds (BIGINT) of a timestamp_ntz column, truncating."""
    return F.col(col).cast("timestamp").cast("long") if isinstance(col, str) \
        else col.cast("timestamp").cast("long")


def _dvec(col) -> F.Column:
    """array<float> → array<double> before any arithmetic (both engines must
    accumulate in double or 4-dp rounding can flip)."""
    return F.transform(col, lambda x: x.cast("double"))


# ===========================================================================
# crawl-engine operator analogs (SURVEY.md §2) over the TPC-H-ish tables
# ===========================================================================

def q_flagship_frontier_pop(spark, sf_dir):
    """W1+F1+T2: the frontier pop — due-filter, per-host (user) window rank
    with politeness cap, global top-B ordered pop. events stands in for the
    frontier: ts = next_fetch_time, user_id = host."""
    events = _t(spark, sf_dir, "events")
    due = events.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp_ntz"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = due.withColumn("host_rank", F.row_number().over(w).cast("long"))
    capped = ranked.filter(F.col("host_rank") <= 3)
    return (capped.orderBy("ts", "event_id").limit(100)
            .select("event_id", "user_id", _epoch("ts").alias("fetch_epoch"),
                    "host_rank"))


def q_due_filter(spark, sf_dir):
    """F1: next_fetch_time <= now predicate (pushed to the parquet scan)."""
    events = _t(spark, sf_dir, "events")
    return (events.filter(F.col("ts") < F.lit(CUTOFF).cast("timestamp_ntz"))
            .select("event_id", _epoch("ts").alias("ts_epoch"), "event_type"))


def q_fifo_topk(spark, sf_dir):
    """W2: FIFO order — ORDER BY seq LIMIT batch."""
    events = _t(spark, sf_dir, "events")
    return (events.orderBy("event_id").limit(50)
            .select("event_id", "user_id", "event_type"))


def q_anti_join_dedup(spark, sf_dir):
    """J1: seen-set anti-join — parts never referenced by any lineitem."""
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (part.join(lineitem.select(F.col("l_partkey").alias("p_partkey")),
                      "p_partkey", "left_anti")
            .select("p_partkey", "p_name"))


def q_semi_join_allowlist(spark, sf_dir):
    """F5: hostname-allowlist semi-join — customers with >=1 order."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (customer.join(orders.select(F.col("o_custkey").alias("c_custkey")),
                          "c_custkey", "left_semi")
            .select("c_custkey", "c_name"))


def q_broadcast_dim_join(spark, sf_dir):
    """J2: broadcast dimension join (robots table analog) — orders x
    customer x nation rollup."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (orders
            .join(F.broadcast(customer),
                  orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def q_host_decay_priority(spark, sf_dir):
    """A1: hostname-balancing decay score — exponentially-decayed event
    count per user (host), the RedisUrlList zaddwithdelay aggregate."""
    events = _t(spark, sf_dir, "events")
    ref_epoch = F.lit(CUTOFF).cast("timestamp_ntz").cast("timestamp").cast("long")
    dt = (ref_epoch - _epoch("ts")).cast("double")
    import math
    decay = F.exp(F.lit(math.log(0.5)) * dt / F.lit(HALF_LIFE_S))
    return (events.groupBy("user_id")
            .agg(F.round(F.sum(decay), 4).alias("decayed_count"),
                 F.count(F.lit(1)).alias("n_events")))


def q_retry_schedules(spark, sf_dir):
    """C9+C10: exponential retry backoff (now + initial * 2^(n-1)) and
    success recrawl horizon (now + 365 days) — the former backoff_schedule
    + recrawl_schedule queries merged into one events pass so the surface
    fits the driver's 50-entry recording cap (both schedule expressions
    stay oracle-checked, one recorded row)."""
    events = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 5 + 1).cast("double")
    retry = F.col("ts") + F.expr("INTERVAL 1 HOUR") * F.pow(F.lit(2.0), n - 1)
    recrawl = F.col("ts") + F.expr("INTERVAL 365 DAYS")
    return events.select(
        "event_id",
        retry.cast("timestamp").cast("long").alias("retry_epoch"),
        recrawl.cast("timestamp").cast("long").alias("recrawl_epoch"))


def q_union_link_sources(spark, sf_dir):
    """U1: handler link-source union (bag semantics, dedup later)."""
    events = _t(spark, sf_dir, "events")
    a = (events.filter(F.col("event_type") == "click")
         .select("event_id", F.lit("html").alias("source")))
    b = (events.filter(F.col("event_type") == "purchase")
         .select("event_id", F.lit("sitemap").alias("source")))
    return a.unionByName(b)


def q_record_scalars(spark, sf_dir):
    """F8/C6 content-type parameter strip + handler route, and crawl_log
    props JSON extraction — the former content_type_strip + json_extract
    queries merged into one events pass to fit the driver's 50-entry
    recording cap (both checks preserved, one recorded row)."""
    events = _t(spark, sf_dir, "events")
    ct = F.concat(F.lit("text/"), F.col("event_type"), F.lit("; charset=utf-8"))
    stripped = F.regexp_replace(ct, ";.*$", "")
    return events.select(
        "event_id", stripped.alias("content_type"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("html_handler"))
         .when(F.col("event_type") == "purchase", F.lit("sitemap_handler"))
         .otherwise(F.lit("no_handler")).alias("route"),
        F.get_json_object("props", "$.k").cast("long").alias("k"))


def q_error_truncate(spark, sf_dir):
    """C8: error-message truncation to N chars."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       F.substring("text", 1, 50).alias("err_trunc"),
                       F.length(F.substring("text", 1, 50)).cast("long")
                        .alias("trunc_len"))


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation sweep (partial-agg + single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


def q3_top_revenue(spark, sf_dir):
    """TPC-H Q3-style join + top-k (broadcast dims, TakeOrdered)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (cust.filter(F.col("c_mktsegment") == "BUILDING")
            .join(orders, cust.c_custkey == orders.o_custkey)
            .join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderkey")
            .limit(10))


# ===========================================================================
# training-data pipeline operators (documents / embeddings)
# ===========================================================================

def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup(_ts(spark, sf_dir, "documents", "doc_id"))


def q_dedup_fingerprint(spark, sf_dir):
    return DD.fingerprint_dedup(_ts(spark, sf_dir, "documents", "doc_id"))


def q_dedup_exact_fp(spark, sf_dir):
    """Exact (md5 content hash) + normalized-fingerprint dedup — the
    former dedup_exact + dedup_fingerprint queries tag-unioned into one
    recorded row (both kernels stay fully oracle-checked) to hold the
    surface at the driver's 50-entry recording cap."""
    # measured (r6): the md5/fingerprint partial-aggs are cheaper than one
    # full-row exchange of the text column — the _ts spread regressed this
    # query 0.36->0.62 s, so it deliberately stays on the plain scan.
    # r6 fusion: ONE corpus pass computes both keys (hashes projected
    # BEFORE the explode, so exploded rows carry ~40 bytes, never text)
    # and ONE (kind, key) aggregation replaces the former
    # two-scans-two-exchanges union — identical rows (same expressions as
    # DD.exact_dedup / DD.fingerprint_dedup, oracle unchanged), half the
    # scans/exchanges/codegen stages, and the right corpus-scale shape:
    # a 100 TB corpus is read once, not twice (guide §2.3/§2.4).
    from supercrawler_spark.datapipe.text import fingerprint
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        F.col("doc_id"),
        F.explode(F.array(
            F.struct(F.lit("exact").alias("kind"),
                     F.md5(F.col("text")).alias("key_hash")),
            F.struct(F.lit("fp").alias("kind"),
                     fingerprint(F.col("text")).alias("key_hash")),
        )).alias("k"))
    return (keyed
            .groupBy(F.col("k.kind").alias("kind"),
                     F.col("k.key_hash").alias("key_hash"))
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def q_ngram_span_dedup(spark, sf_dir):
    """Exact duplicated-substring removal (Lee et al. 2022 ExactSubstr,
    Spark-native n-gram occurrence plan — see dedup.ngram_span_dedup):
    every duplicated 8-token span keeps only its corpus-first occurrence."""
    return DD.ngram_span_dedup(_ts(spark, sf_dir, "documents", "doc_id"), n=8)


def q_corpus_resample(spark, sf_dir):
    """Mixture-shaping samplers tag-unioned into one recorded row, both
    exact-oracle-checked: (a) temperature-0.5 stratified resampling over
    the skewed lang strata (integer cross-multiplied keep test — no
    cross-engine float), (b) per-source document cap at 10 by
    deterministic hash order (WindowGroupLimit pre-limits map-side)."""
    from supercrawler_spark.datapipe import sampling as SP
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    a = SP.stratified_temperature_sample(docs, stratum_col="lang").select(
        F.lit("temperature").alias("kind"), "doc_id",
        F.col("lang").alias("stratum"),
        F.col("keep").cast("long").alias("metric"))
    b = SP.domain_capped_sample(docs, cap=10, stratum_col="source").select(
        F.lit("domain_cap").alias("kind"), "doc_id",
        F.col("source").alias("stratum"),
        F.col("sample_rank").cast("long").alias("metric"))
    return a.unionByName(b)


def q_token_jaccard(spark, sf_dir):
    return DD.token_jaccard_adjacent(_ts(spark, sf_dir, "documents", "doc_id"))


def q_minhash_signatures(spark, sf_dir):
    return DD.minhash_signatures(_ts(spark, sf_dir, "documents", "doc_id"),
                                 num_hashes=4, shingle_n=2)


def q_minhash_lsh_pairs(spark, sf_dir):
    return DD.minhash_lsh_pairs(_ts(spark, sf_dir, "documents", "doc_id"),
                                num_hashes=4, bands=2, shingle_n=2)


def q_lsh_jaccard_dedup(spark, sf_dir):
    """The full MinHash dedup pipeline end-to-end: shingle → LSH banding →
    candidate pairs → exact Jaccard verify on candidates only → near-dup
    pairs at >= 0.5. Never touches the O(n²) pair space."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    pairs = DD.minhash_lsh_pairs(docs, num_hashes=4, bands=2, shingle_n=2)
    return (DD.jaccard_pairs(docs, pairs, shingle_n=2)
            .filter(F.col("jaccard") >= 0.5))


def q_dedup_clusters(spark, sf_dir):
    """Corpus-dedup final step: verified near-dup pairs (the
    lsh_jaccard_dedup pipeline) → connected components → per-doc cluster
    assignment (cluster_id = min doc id). Hash-min label propagation, one
    join + partial-agg min per round; the oracle replays it as a DuckDB
    recursive-CTE reachability (exact at sf0.01 pair counts)."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    pairs = (DD.jaccard_pairs(
        docs, DD.minhash_lsh_pairs(docs, num_hashes=4, bands=2, shingle_n=2),
        shingle_n=2).filter(F.col("jaccard") >= 0.5))
    return DD.dup_clusters(pairs)


def q_simhash(spark, sf_dir):
    """60-bit SimHash as pure JVM expressions (md5-keyed token hashes) —
    oracle-checked: DuckDB computes the identical signature."""
    return DD.simhash(_ts(spark, sf_dir, "documents", "doc_id"))


def q_simhash_near_pairs(spark, sf_dir):
    """Pigeonhole-complete near-pair generation: max_hamming+1 chunks, so
    h=8 uses 9 bit-bands (the round-1 4x16-bit version silently missed
    pairs beyond h=3)."""
    return DD.simhash_near_pairs(_ts(spark, sf_dir, "documents", "doc_id"),
                                 max_hamming=8)


def q_lang_id(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("pred_lang"))


def q_quality_score(spark, sf_dir):
    return TX.quality_features(_ts(spark, sf_dir, "documents", "doc_id"))


def q_token_counts(spark, sf_dir):
    """Whitespace token counting + BPE-ish subword-unit counting (regex
    pre-tokenizer analog) — former token_count + bpe_token_count queries
    merged into one documents pass (50-entry recording cap)."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return docs.select("doc_id",
                       TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
                       TX.bpe_token_count(F.col("text")).cast("long")
                         .alias("n_pieces"))


def q_doc_fingerprint(spark, sf_dir):
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


def q_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive Rabin-Karp rolling hash over the token stream
    (higher-order aggregate, one JVM pass)."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    return docs.select("doc_id",
                       TX.rolling_fingerprint(F.col("text")).alias("roll_hash"))


def q_quality_gate(spark, sf_dir):
    """The composed keep/drop decision a training pipeline actually ships:
    quality features + repetition + contamination joined into one boolean
    gate. Each stage is its own one-pass aggregation; the join keys are the
    doc id, so the compose adds no extra corpus scans beyond its inputs.
    Oracle = the same three SQL blocks nested as derived tables."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    quality = TX.quality_features(docs).select("doc_id", "quality_score")
    rep = TX.repetition_ratio(docs, n=3).select("doc_id", "repetition_ratio")
    eval_docs = docs.filter(F.col("doc_id") < 10)
    blocklist = (eval_docs
                 .select(TX.tokens(F.col("text")).alias("_toks"))
                 .select(F.explode(F.array_distinct(
                     DD.shingles_of_tokens(F.col("_toks"), 3))).alias("gram"))
                 .distinct())
    cont = (DD.contamination_screen(docs, blocklist, n=3)
            .select("doc_id", "contamination_ratio"))
    keep = ((F.col("quality_score") >= 0.5)
            & (F.col("repetition_ratio") < 0.3)
            & (F.col("contamination_ratio") < 0.05))
    return (quality.join(rep, "doc_id").join(cont, "doc_id")
            .select("doc_id", "quality_score", "repetition_ratio",
                    "contamination_ratio", keep.alias("keep")))


def q_contamination_screen(spark, sf_dir):
    """Decontamination gate: fraction of each doc's distinct 3-grams found
    in a blocklist (here: the 3-grams of docs 0-9, standing in for an eval
    set). Blocklist broadcasts; the corpus explodes once, never shuffles."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    eval_docs = docs.filter(F.col("doc_id") < 10)
    blocklist = (eval_docs
                 .select(TX.tokens(F.col("text")).alias("_toks"))
                 .select(F.explode(F.array_distinct(
                     DD.shingles_of_tokens(F.col("_toks"), 3))).alias("gram"))
                 .distinct())
    return DD.contamination_screen(docs, blocklist, n=3)


def q_pii_redact(spark, sf_dir):
    """PII scrubbing gate: deterministic email/IP/phone strings are grafted
    onto each document (so the operator has real matches to find), then
    counted and redacted to typed placeholders — all JVM regexp, RE2-safe
    patterns, exact DuckDB twin (regexp_replace with 'g')."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example"), F.pmod(F.col("doc_id"), F.lit(9)).cast("string"),
        F.lit(".com via 10.0."),
        F.pmod(F.col("doc_id"), F.lit(255)).cast("string"),
        F.lit(".7 or +1 555 01"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"))
    n_em, n_ip, n_ph = TX.pii_counts(aug)
    return docs.select(
        "doc_id",
        n_em.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ipv4"),
        n_ph.cast("long").alias("n_phones"),
        F.md5(TX.redact_pii(aug)).alias("redacted_md5"))


def q_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality signal: frequency share of the most
    repeated 3-gram per document (exploded two-level agg, JVM-only)."""
    return TX.repetition_ratio(_ts(spark, sf_dir, "documents", "doc_id"), n=3)


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style perplexity proxy: per-doc mean -log p(token) under the
    corpus unigram distribution (two-pass corpus-global: vocab agg +
    rejoin on token; all JVM)."""
    return TX.unigram_logprob_score(_ts(spark, sf_dir, "documents", "doc_id"))


def q_line_dedup(spark, sf_dir):
    """RefinedWeb-style corpus-global line dedup: lines appearing in >1
    distinct documents (nav/footer boilerplate) drop from every document;
    per-doc ordered reassembly."""
    return DD.line_dedup(_ts(spark, sf_dir, "documents", "doc_id"), max_doc_freq=1)


def q_embedding_cosine_topk(spark, sf_dir):
    emb = _ts(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _dvec(F.col("embedding")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 20)
    return SIM.brute_force_topk(emb, queries, k=5)


def q_embedding_dup_pairs(spark, sf_dir):
    """Exact-complete pairs for the oracle; planned as a shuffle-replicated
    nested loop (no BroadcastNestedLoopJoin). The scale path is
    method='lsh' (bucket collisions only), recall-gated in pytest."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("embedding"))
    return SIM.cosine_dup_pairs(emb, threshold=0.4, method="exact")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): coarse-quantizer cells (deterministic
    sampled-centroid integer-L2, shared with det_ivf_ann_topk), within-cell
    cosine pairs, hash-min connected components, keep = min-id
    representative. Pair work is n^2/C within cells — never corpus
    all-pairs. Threshold 0.4 (not the paper's 0.95) because the synthetic
    corpus has near-random embeddings; the operator is threshold-agnostic."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("embedding"))
    return SIM.semantic_dedup(emb, threshold=0.4)


def q_ann_lsh_topk(spark, sf_dir):
    """Bucket-collision ANN with the deterministic sign-projection LSH
    family (similarity.det_lsh_ann_topk): all-JVM integer signatures, so
    the DuckDB oracle regenerates the identical buckets and the query is
    fully oracle-checked (the Gaussian-hyperplane variant lsh_ann_topk
    remains the numpy scale path, recall-gated in pytest)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 20)
    return SIM.det_lsh_ann_topk(emb, queries, k=5, dim=64,
                                n_planes=4, n_tables=8)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN with the deterministic sampled-centroid quantizer
    (similarity.det_ivf_ann_topk): centroids = embeddings of vec_id 0..15,
    integer-quantized L2 assignment, n_probe nearest centroids probed per
    query, exact cosine re-rank — fully oracle-replayable, and recall-gated
    against brute force in pytest."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 20)
    return SIM.det_ivf_ann_topk(emb, queries, k=5,
                                centroid_ids=tuple(range(16)), n_probe=4)


def q_multimodal_pipeline(spark, sf_dir):
    """Composite multimodal pass (rows-only): the former multimodal_decode
    + multimodal_verify + multimodal_frame_sample queries merged into one
    tall result so the full multimodal surface fits the driver's 50-entry
    recording cap. Three mapInPandas kernels over the shared deterministic
    fixtures — binary image decode→typed features, per-row PSNR/caption
    verification vs reference, video frame sampling — each tagged by
    `kind` in a unified schema; per-kernel invariants stay pinned in
    tests/test_multimodal.py."""
    from supercrawler_spark import fixtures
    from supercrawler_spark.datapipe import multimodal as MM
    # the fixture tables are 32/8 rows: createDataFrame slices them across
    # defaultParallelism partitions, turning each mapInPandas kernel below
    # into ~32 near-empty Python tasks (measured 168-task stages for 187
    # output rows). coalesce(1) keeps every kernel a single real Arrow
    # batch — guide §4.2 (batch sizes large enough to amortize) + §6
    # (small-files/tiny-partitions overhead); corpus-scale inputs never
    # take this path (they arrive as parquet scans, not driver fixtures).
    images = spark.createDataFrame(fixtures.make_images(32, seed=42)).coalesce(1)
    videos = spark.createDataFrame(
        fixtures.make_videos(8, n_frames=12, seed=42)).coalesce(1)
    # branch projections as selectExpr strings: the six ~10-column
    # Column-operator assemblies cost ~180 py4j round trips (~0.5 s of
    # pure build time); one SQL-parse per branch builds the identical
    # projections (r6, same rationale as simhash's packed-agg strings)
    dec = MM.decode_features(images).selectExpr(
        "'decode' AS kind", "image_id AS item_id",
        "CAST(NULL AS int) AS frame_idx", "w", "h", "fmt", "phash",
        "mean_luma AS metric", "decode_error IS NULL AS ok")
    ver = MM.verify_against_reference(images).selectExpr(
        "'verify' AS kind", "image_id AS item_id",
        "CAST(NULL AS int) AS frame_idx",
        "CAST(NULL AS int) AS w", "CAST(NULL AS int) AS h",
        "CAST(NULL AS string) AS fmt", "CAST(NULL AS long) AS phash",
        "psnr_db AS metric", "(pixels_ok AND caption_ok) AS ok")
    frm = MM.frame_sample(videos, every_n=4).selectExpr(
        "'frame' AS kind", "video_id AS item_id",
        "frame_idx", "w", "h", "CAST(NULL AS string) AS fmt", "phash",
        "CAST(NULL AS double) AS metric", "decode_error IS NULL AS ok")
    # round-5 curation stages over the same images (+1 planted caption
    # dup so the dedup stage records a real drop): cross-modal dedup,
    # caption<->image alignment, metadata quality gate
    import pandas as pd
    from supercrawler_spark.datapipe import crossmodal as XM
    pdf = fixtures.make_images(32, seed=42)
    planted = pd.concat([pdf, pd.DataFrame([{
        "image_id": "img-capdup", "bytes": bytes(pdf.loc[0, "bytes"]),
        "w": int(pdf.loc[0, "w"]), "h": int(pdf.loc[0, "h"]),
        "fmt": "png", "caption": str(pdf.loc[0, "caption"]),
        "phash": 424242}])], ignore_index=True)
    curated = spark.createDataFrame(planted).coalesce(1)
    ddp = XM.crossmodal_dedup(curated).selectExpr(
        "'xm_dedup' AS kind", "image_id AS item_id",
        "CAST(NULL AS int) AS frame_idx",
        "CAST(NULL AS int) AS w", "CAST(NULL AS int) AS h",
        "CAST(NULL AS string) AS fmt", "CAST(NULL AS long) AS phash",
        "CAST(NULL AS double) AS metric", "keep AS ok")
    aln = XM.alignment_filter(curated, threshold=0.0).selectExpr(
        "'align' AS kind", "image_id AS item_id",
        "CAST(NULL AS int) AS frame_idx",
        "CAST(NULL AS int) AS w", "CAST(NULL AS int) AS h",
        "CAST(NULL AS string) AS fmt", "CAST(NULL AS long) AS phash",
        "CAST(alignment AS double) AS metric", "keep AS ok")
    gate = XM.image_quality_gate(curated, min_w=32, min_h=32).selectExpr(
        "'gate' AS kind", "image_id AS item_id",
        "CAST(NULL AS int) AS frame_idx",
        "CAST(w AS int) AS w", "CAST(h AS int) AS h",
        "fmt", "CAST(NULL AS long) AS phash",
        "CAST(NULL AS double) AS metric", "keep AS ok")
    # total order on a 187-row result WITHOUT a rangepartitioning
    # exchange: orderBy here planned Exchange rangepartitioning(.., 32),
    # whose boundary-sampling pass re-executed every union branch (all
    # five mapInPandas kernels ran twice per bench run). coalesce(1) +
    # sortWithinPartitions is the same total order (sort keys are unique
    # per row), one pass, zero exchanges — guide §2.4 (remove shuffles
    # outright: an orderBy used only to make output deterministic).
    return (dec.unionByName(ver).unionByName(frm)
            .unionByName(ddp).unionByName(aln).unionByName(gate)
            .coalesce(1)
            .sortWithinPartitions("kind", "item_id", "frame_idx"))


def _phash_fixture_pdf():
    """The deterministic 33-row image table shared by the Spark query and
    its SQL oracle: fixtures.make_images(32, seed=42) plus one planted
    noisy re-encode of image 0 (rng seed 7, lossless png)."""
    import numpy as np
    import pandas as pd

    from supercrawler_spark import fixtures, imaging
    images = fixtures.make_images(32, seed=42)
    rng = np.random.default_rng(7)
    px, w, h, _ = imaging.decode_image(bytes(images.iloc[0]["bytes"]))
    noisy = np.clip(px.astype(np.int64) + rng.integers(-2, 3, px.shape),
                    0, 255).astype(np.uint8)
    dup = {"image_id": "img-dup0", "bytes": imaging.encode_image(noisy, "png"),
           "w": w, "h": h, "fmt": "png", "caption": "noisy copy",
           "phash": imaging.phash64(noisy)}
    return pd.concat([images, pd.DataFrame([dup])], ignore_index=True)


def q_image_phash_dup_pairs(spark, sf_dir):
    """Image-axis near-dup dedup (input_hint phash:int64 made first-class):
    decode -> 64-bit perceptual hash -> banded hamming pairs over a
    deterministic synthetic image table with a planted noisy re-encode —
    the shared pigeonhole kernel of simhash_near_pairs at bits=64.
    Oracle twin: DuckDB brute-forces ALL O(n^2) pairs from the same
    deterministic decoded-pixel hashes (bit_count(xor(..)), viable only at
    oracle scale), so the banding's completeness is independently checked
    end-to-end, not just in pytest."""
    from supercrawler_spark.datapipe import multimodal as MM
    pdf = _phash_fixture_pdf()
    # coalesce(1): 33 fixture rows otherwise decode across ~32 near-empty
    # Python tasks; single-partition total sort replaces the orderBy's
    # rangepartitioning exchange + its boundary-sampling re-execution
    # (same rationale as q_multimodal_pipeline; (id_a, id_b) is unique).
    return (MM.phash_dup_pairs(spark.createDataFrame(pdf).coalesce(1),
                               max_hamming=10)
            .coalesce(1).sortWithinPartitions("id_a", "id_b"))


def _phash_oracle_sql() -> str:
    """Brute-force SQL twin of q_image_phash_dup_pairs: the INPUT rows are
    regenerated from the identical deterministic generator (decode each
    image's bytes, hash the decoded pixels — exactly what the Spark
    mapInPandas stage hashes) and inlined as VALUES; the PAIR COMPUTATION
    is an independent all-pairs join in DuckDB, vs Spark's banded
    pigeonhole join — same answer proves banding lost no pair."""
    from supercrawler_spark import imaging
    pdf = _phash_fixture_pdf()
    vals = []
    for iid, data in zip(pdf["image_id"], pdf["bytes"]):
        px, _, _, _ = imaging.decode_image(bytes(data))
        vals.append(f"('{iid}', {int(imaging.phash64(px))}::BIGINT)")
    values = ",\n                   ".join(vals)
    return f"""
            WITH sigs(image_id, phash) AS (
              VALUES {values}
            )
            SELECT a.image_id AS id_a, b.image_id AS id_b,
                   bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
            FROM sigs a JOIN sigs b ON a.image_id < b.image_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 10
            ORDER BY id_a, id_b
        """


def q_audio_features(spark, sf_dir):
    """Audio modality: REAL WAV decode (stdlib wave) over opaque binary
    columns via mapInPandas. The fixture clips are pure sines with integer
    cycle counts, so sample counts, durations and RMS have closed forms —
    an exact SQL oracle for a binary-decode pipeline."""
    from supercrawler_spark import fixtures
    from supercrawler_spark.datapipe import multimodal as MM
    audio = spark.createDataFrame(fixtures.make_audio(16)).coalesce(1)
    # single-partition sort: same total order (audio_id unique), no
    # rangepartitioning exchange, no sampling re-run of the WAV decode
    # kernel (same rationale as q_multimodal_pipeline)
    return (MM.audio_features(audio)
            .select("audio_id", "sample_rate", "n_samples", "duration_s", "rms")
            .coalesce(1).sortWithinPartitions("audio_id"))


def q_streaming_window_counts(spark, sf_dir):
    """Structured Streaming: event-time tumbling windows + watermark over a
    parquet stream (availableNow), complete-mode — equals the batch GROUP BY
    so the DuckDB oracle checks it exactly."""
    from supercrawler_spark import streaming
    return streaming.windowed_event_counts(
        spark, os.path.join(sf_dir, "events.parquet"))


def _run_kernel(pages_df):
    """Run the engine's REAL one-pass handler kernel (the same mapInPandas
    UDTF the crawl cycle uses — redirects + html/robots/sitemaps handlers,
    shared parse) over constructed pages."""
    from supercrawler_spark.crawler import _KERNEL_OUT_SCHEMA, _make_handler_kernel
    from supercrawler_spark.handlers import default_registry
    kernel = _make_handler_kernel(default_registry())
    out = pages_df.select("batch_idx", "url", "f_status", "f_content_type",
                          "f_location", "f_body") \
                  .mapInPandas(kernel, schema=_KERNEL_OUT_SCHEMA)
    return (out.filter(F.col("link").isNotNull())
               .select(F.col("batch_idx").alias("doc_id"), "link_idx",
                       F.col("link").alias("url")))


def q_html_link_extract(spark, sf_dir):
    """P1 htmlLinkParser through the production kernel: anchors (relative +
    root-relative), a javascript: link that must be dropped, and a
    link[rel=alternate] — resolution/canonicalization oracle-checked."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id").cast("string")
    page_url = F.concat(F.lit("http://site"), (F.col("doc_id") % 10),
                        F.lit(".example/dir/page"), d, F.lit(".html"))
    html = F.concat(
        F.lit('<html><body><a href="rel'), d, F.lit('.html">r</a>'),
        F.lit('<a href="/abs'), d, F.lit('.html">a</a>'),
        F.lit('<a href="javascript:void(0)">j</a>'),
        F.lit('<link rel="alternate" href="http://alt.example/x'), d,
        F.lit('"/></body></html>'))
    pages = docs.select(
        F.col("doc_id").alias("batch_idx"), page_url.alias("url"),
        F.lit(200).alias("f_status"),
        F.lit("text/html; charset=utf-8").alias("f_content_type"),
        F.lit(None).cast("string").alias("f_location"),
        F.encode(html, "utf-8").alias("f_body"))
    return _run_kernel(pages)


def q_sitemap_extract(spark, sf_dir):
    """P3 sitemapsParser through the production kernel, half the corpus
    gzip-compressed (C12 gunzip path) — loc extraction oracle-checked."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>http://sm.example/u'),
        d, F.lit('</loc></url><url><loc>http://sm.example/v'), d,
        F.lit("</loc></url></urlset>"))

    import gzip as _gzip

    @F.pandas_udf("binary")
    def gz(bodies: pd.Series) -> pd.Series:
        return bodies.map(lambda s: _gzip.compress(s.encode()))

    is_gz = (F.col("doc_id") % 2) == 0
    pages = docs.select(
        F.col("doc_id").alias("batch_idx"),
        F.concat(F.lit("http://sm.example/map"), d, F.lit(".xml")).alias("url"),
        F.lit(200).alias("f_status"),
        F.when(is_gz, F.lit("application/gzip"))
         .otherwise(F.lit("application/xml")).alias("f_content_type"),
        F.lit(None).cast("string").alias("f_location"),
        F.when(is_gz, gz(xml)).otherwise(F.encode(xml, "utf-8")).alias("f_body"))
    return _run_kernel(pages)


def q_robots_sitemap_extract(spark, sf_dir):
    """P2 robotsParser through the production kernel: Sitemap: directives
    (relative + absolute) extracted from /robots.txt bodies only."""
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id").cast("string")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nSitemap: /sm"), d,
        F.lit(".xml\nsitemap: http://other.example/s"), d, F.lit(".xml\n"))
    pages = docs.select(
        F.col("doc_id").alias("batch_idx"),
        F.concat(F.lit("http://rb"), (F.col("doc_id") % 20),
                 F.lit(".example/robots.txt")).alias("url"),
        F.lit(200).alias("f_status"),
        F.lit("text/plain").alias("f_content_type"),
        F.lit(None).cast("string").alias("f_location"),
        F.encode(txt, "utf-8").alias("f_body"))
    return _run_kernel(pages)


def q_sitemap_extracts(spark, sf_dir):
    """P3 sitemapsParser (half the corpus gzip-compressed, C12) + P2
    robotsParser Sitemap: directives, both through the production kernel —
    the former sitemap_extract + robots_sitemap_extract queries
    tag-unioned into one recorded row (both parses stay oracle-checked)
    to hold the surface at the driver's 50-entry recording cap."""
    a = q_sitemap_extract(spark, sf_dir) \
        .select(F.lit("sitemap").alias("src"), "doc_id", "link_idx", "url")
    b = q_robots_sitemap_extract(spark, sf_dir) \
        .select(F.lit("robots").alias("src"), "doc_id", "link_idx", "url")
    return a.unionByName(b)


def q_url_primitives(spark, sf_dir):
    """C1/C2/C3/C4 Node-parity URL primitives as vectorized pandas UDFs:
    canonicalize (lowercase scheme+host, keep port/query, drop fragment),
    resolve (relative + root-relative), robots URL, hostname."""
    from supercrawler_spark import functions as SF
    docs = _ts(spark, sf_dir, "documents", "doc_id")
    d = F.col("doc_id").cast("string")
    messy = F.concat(F.lit("HTTP://Site"), (F.col("doc_id") % 50),
                     F.lit(".EXAMPLE:8080/dir/p"), d, F.lit(".html?q="), d,
                     F.lit("#frag"))
    base = F.concat(F.lit("http://site"), (F.col("doc_id") % 50),
                    F.lit(".example/dir/page"), d, F.lit(".html"))
    rel = F.concat(F.lit("sub/rel"), d, F.lit(".html"))
    root = F.concat(F.lit("/abs"), d, F.lit(".html"))
    return docs.select(
        "doc_id",
        SF.canonicalize_udf(messy).alias("canonical"),
        SF.resolve_udf(base, rel).alias("resolved_rel"),
        SF.resolve_udf(base, root).alias("resolved_root"),
        SF.robots_url_udf(messy).alias("robots_url"),
        SF.hostname_udf(messy).alias("host"),
        # C5 content-addressed URL hashing (former md5_url_hash query,
        # folded in to fit the driver's 50-entry recording cap)
        F.md5(base).alias("url_md5"),
        DD.md5_long(base).alias("url_hash60"),
        (DD.md5_long(base) % 1000).alias("priority_bucket"))


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact-dedup (dropDuplicates over a document stream);
    availableNow result equals batch SELECT DISTINCT — oracle-checked."""
    from supercrawler_spark import streaming
    return streaming.streaming_dedup_hashes(
        spark, os.path.join(sf_dir, "documents.parquet"))


def q_stateful_host_counts(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): per-user
    running counters in explicit GroupState; final totals equal the batch
    GROUP BY — oracle-checked."""
    from supercrawler_spark import streaming
    return streaming.stateful_user_counts(
        spark, os.path.join(sf_dir, "events.parquet"))


def q_streaming_link_ingest(spark, sf_dir):
    """Streaming frontier ingestion (foreachBatch): three overlapping
    micro-batches of discovered links deduped against a static seen set
    AND everything admitted by earlier batches — cross-batch state is the
    engine's distributed PartitionedBloom. The admitted set equals the
    batch distinct-minus-seen, so the oracle is exact SQL."""
    import tempfile

    import pandas as pd

    from supercrawler_spark.streaming import streaming_link_ingest

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url_c = F.concat(F.lit("http://h"), F.pmod(F.col("doc_id"), F.lit(7)),
                     F.lit(".example/d"), F.col("doc_id"))
    seen_df = docs.filter(F.col("doc_id") < 100).select(url_c.alias("url"))
    tmp = tempfile.mkdtemp(prefix="sc-ingest-")
    links_dir = os.path.join(tmp, "links")
    out_dir = os.path.join(tmp, "delta")
    os.makedirs(links_dir)
    for i, (lo, hi) in enumerate(((0, 200), (150, 350), (300, 450))):
        batch = (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                 .select(url_c.alias("url")).toPandas())
        pd.DataFrame(batch).to_parquet(
            os.path.join(links_dir, f"b{i}.parquet"), index=False)
    return streaming_link_ingest(spark, links_dir, seen_df, out_dir,
                                 max_files_per_trigger=1).select("url")


def q_crawl_e2e(spark, sf_dir):
    """The crawl loop end-to-end on the synthetic web fixture (rows-only;
    full parity vs the reference simulator is asserted in
    tests/test_crawl_parity.py)."""
    import tempfile

    from supercrawler_spark import fixtures
    from supercrawler_spark.crawler import CrawlConfig, SparkCrawler
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=1, pages_per_host=3)
    cr = SparkCrawler(spark, spark.createDataFrame(web), tempfile.mkdtemp(),
                      CrawlConfig(budget=16, order_mode="random"))
    cr.seed(list(seeds["url"]))
    cr.crawl(max_cycles=20)
    return (cr.frontier.select("url", "status_code", "error_code", "num_errors")
            .orderBy("url"))


# ===========================================================================
# contract
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_frontier_pop(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl operator analogs
        "flagship_frontier_pop": q_flagship_frontier_pop,
        "due_filter": q_due_filter,
        "fifo_topk": q_fifo_topk,
        "anti_join_dedup": q_anti_join_dedup,
        "semi_join_allowlist": q_semi_join_allowlist,
        "broadcast_dim_join": q_broadcast_dim_join,
        "host_decay_priority": q_host_decay_priority,
        "retry_schedules": q_retry_schedules,
        "union_link_sources": q_union_link_sources,
        "record_scalars": q_record_scalars,
        "error_truncate": q_error_truncate,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue": q3_top_revenue,
        # formerly truncated from the driver's 50-entry recording (r3/r4):
        # pinned mid-list so every registered query gets a recorded row
        "crawl_e2e": q_crawl_e2e,
        "audio_features": q_audio_features,
        "multimodal_pipeline": q_multimodal_pipeline,
        "image_phash_dup_pairs": q_image_phash_dup_pairs,
        # training-data pipeline
        "dedup_exact_fp": q_dedup_exact_fp,
        "ngram_span_dedup": q_ngram_span_dedup,
        "corpus_resample": q_corpus_resample,
        "token_jaccard": q_token_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "lsh_jaccard_dedup": q_lsh_jaccard_dedup,
        "dedup_clusters": q_dedup_clusters,
        "html_link_extract": q_html_link_extract,
        "sitemap_extracts": q_sitemap_extracts,
        "url_primitives": q_url_primitives,
        "simhash": q_simhash,
        "simhash_near_pairs": q_simhash_near_pairs,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "rolling_fingerprint": q_rolling_fingerprint,
        "pii_redact": q_pii_redact,
        "contamination_screen": q_contamination_screen,
        "quality_gate": q_quality_gate,
        "repetition_ratio": q_repetition_ratio,
        "unigram_logprob": q_unigram_logprob,
        "line_dedup": q_line_dedup,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "semantic_dedup": q_semantic_dedup,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "streaming_window_counts": q_streaming_window_counts,
        "streaming_dedup": q_streaming_dedup,
        "stateful_host_counts": q_stateful_host_counts,
        "streaming_link_ingest": q_streaming_link_ingest,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"


def _simhash_sig_cte() -> str:
    """CTEs computing the 60-bit SimHash signature per doc — the exact
    DuckDB twin of datapipe.dedup.simhash (md5→60-bit token hash, per-bit
    majority sign)."""
    h = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
    sums = ", ".join(f"sum(({h} >> {j}) & 1) AS s{j}"
                     for j in range(DD.SIMHASH_BITS))
    terms = " + ".join(
        f"(CASE WHEN 2 * s{j} > n_tok THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(DD.SIMHASH_BITS))
    return f"""
        WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        ex AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
        agg AS (SELECT doc_id, count(*) AS n_tok, {sums} FROM ex GROUP BY doc_id),
        sig AS (
          SELECT doc_id, ({terms})::BIGINT AS simhash FROM agg
          UNION ALL
          SELECT doc_id, 0::BIGINT AS simhash FROM tk WHERE len(toks) = 0
        )
    """


def _simhash_sql() -> str:
    return _simhash_sig_cte() + "SELECT doc_id, simhash FROM sig"


def _simhash_near_pairs_sql(max_hamming: int = 8) -> str:
    defs = DD._chunk_defs(DD.SIMHASH_BITS, max_hamming + 1)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx, "
        f"(simhash >> {off}) & {(1 << w) - 1} AS chunk_val FROM sig"
        for c, (off, w) in enumerate(defs))
    return _simhash_sig_cte() + f""",
        banded AS ({bands})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
        FROM banded a JOIN banded b
          ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _lang_score_sql(lang: str) -> str:
    words = TX.LANG_MARKERS[lang]
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
    parts = [f"len(list_filter({toks}, t -> t = '{w}'))" for w in words]
    return "(" + " + ".join(parts) + ")"


def _lang_id_sql() -> str:
    langs = sorted(TX.LANG_MARKERS)
    scores = ", ".join(f"{_lang_score_sql(lang)} AS s_{lang}" for lang in langs)
    best = f"s_{langs[0]}"
    best_lang = f"'{langs[0]}'"
    for lang in langs[1:]:
        best_lang = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {best_lang} END"
        best = f"CASE WHEN s_{lang} > {best} THEN s_{lang} ELSE {best} END"
    return (f"SELECT doc_id, CASE WHEN {best} > 0 THEN {best_lang} "
            f"ELSE 'und' END AS pred_lang FROM "
            f"(SELECT doc_id, {scores} FROM documents)")


def oracle_sql() -> dict[str, str]:
    md5_60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
    stop_hits = " + ".join(
        f"len(list_filter({toks}, t -> t = '{w}'))" for w in TX.EN_STOPWORDS)
    sql = {
        "flagship_frontier_pop": f"""
            SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS fetch_epoch,
                   host_rank
            FROM (
              SELECT *, row_number() OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS host_rank
              FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
            ) WHERE host_rank <= 3
            ORDER BY ts, event_id LIMIT 100
        """,
        "due_filter": f"""
            SELECT event_id, floor(epoch(ts))::BIGINT AS ts_epoch, event_type
            FROM events WHERE ts < TIMESTAMP '{CUTOFF}'
        """,
        "fifo_topk": """
            SELECT event_id, user_id, event_type FROM events
            ORDER BY event_id LIMIT 50
        """,
        "anti_join_dedup": """
            SELECT p_partkey, p_name FROM part
            WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
        """,
        "semi_join_allowlist": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "broadcast_dim_join": """
            SELECT n_name, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "host_decay_priority": f"""
            SELECT user_id,
                   round(sum(exp(ln(0.5) * (epoch(TIMESTAMP '{CUTOFF}')
                         - floor(epoch(ts))) / {HALF_LIFE_S})), 4)
                     AS decayed_count,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY user_id
        """,
        "retry_schedules": """
            SELECT event_id,
                   floor(epoch(ts + INTERVAL 1 HOUR *
                         pow(2.0, (event_id % 5 + 1) - 1)::INT))::BIGINT
                     AS retry_epoch,
                   floor(epoch(ts + INTERVAL 365 DAYS))::BIGINT AS recrawl_epoch
            FROM events
        """,
        "union_link_sources": """
            SELECT event_id, 'html' AS source FROM events
            WHERE event_type = 'click'
            UNION ALL
            SELECT event_id, 'sitemap' AS source FROM events
            WHERE event_type = 'purchase'
        """,
        "record_scalars": """
            SELECT event_id,
                   regexp_replace('text/' || event_type || '; charset=utf-8',
                                  ';.*$', '') AS content_type,
                   CASE WHEN event_type IN ('click','view') THEN 'html_handler'
                        WHEN event_type = 'purchase' THEN 'sitemap_handler'
                        ELSE 'no_handler' END AS route,
                   (props->>'$.k')::BIGINT AS k
            FROM events
        """,
        "error_truncate": """
            SELECT doc_id, substr(text, 1, 50) AS err_trunc,
                   length(substr(text, 1, 50))::BIGINT AS trunc_len
            FROM documents
        """,
        "streaming_window_counts": """
            SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS window_start,
                   event_type, count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "streaming_dedup": """
            SELECT DISTINCT md5(text) AS content_hash FROM documents
        """,
        "audio_features": """
            SELECT 'aud-' || lpad(i::VARCHAR, 4, '0') AS audio_id,
                   16000::INT AS sample_rate,
                   (16000 + i * 1000)::BIGINT AS n_samples,
                   round((16000 + i * 1000) / 16000.0, 4) AS duration_s,
                   round((0.1 + 0.05 * (i % 8)) / sqrt(2.0), 4) AS rms
            FROM range(16) t(i)
        """,
        "image_phash_dup_pairs": _phash_oracle_sql(),
        "stateful_host_counts": """
            SELECT user_id, count(*)::BIGINT AS n_events
            FROM events GROUP BY user_id
        """,
        "streaming_link_ingest": """
            WITH urls AS (
              SELECT doc_id,
                     'http://h' || (doc_id % 7) || '.example/d' || doc_id AS url
              FROM documents
            ),
            links AS (
              SELECT url FROM urls WHERE doc_id >= 0   AND doc_id < 200
              UNION ALL
              SELECT url FROM urls WHERE doc_id >= 150 AND doc_id < 350
              UNION ALL
              SELECT url FROM urls WHERE doc_id >= 300 AND doc_id < 450
            )
            SELECT DISTINCT url FROM links
            WHERE url NOT IN (SELECT url FROM urls WHERE doc_id < 100)
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*)::BIGINT AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "dedup_exact_fp": """
            SELECT 'exact' AS kind, md5(text) AS key_hash,
                   min(doc_id) AS keeper_id, count(*)::BIGINT AS n_copies
            FROM documents GROUP BY md5(text)
            UNION ALL
            SELECT 'fp',
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))),
                   min(doc_id), count(*)::BIGINT
            FROM documents
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        """,
        "ngram_span_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     len(string_split(text, ' ')) AS L
              FROM documents
            ),
            pos AS (
              SELECT doc_id, t, unnest(generate_series(0, L - 8)) AS pos
              FROM toks WHERE L >= 8
            ),
            occ AS (
              SELECT doc_id, pos,
                     md5(array_to_string(t[pos+1:pos+8], ' ')) AS g
              FROM pos
            ),
            w AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY g
                                        ORDER BY doc_id, pos) AS rn
              FROM occ
            ),
            covered AS (
              SELECT DISTINCT doc_id, tpos FROM (
                SELECT doc_id,
                       unnest(generate_series(pos, pos + 7)) AS tpos
                FROM w WHERE rn > 1
              )
            ),
            tokpos AS (
              SELECT doc_id, unnest(t) AS tok,
                     unnest(generate_series(0, L - 1)) AS tpos
              FROM toks
            ),
            kept AS (
              SELECT tp.doc_id, tp.tpos, tp.tok FROM tokpos tp
              WHERE NOT EXISTS (SELECT 1 FROM covered c
                                WHERE c.doc_id = tp.doc_id
                                  AND c.tpos = tp.tpos)
            ),
            agg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text_dedup,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
                   t.L::BIGINT AS n_tokens,
                   (t.L - coalesce(a.n_kept, 0))::BIGINT AS n_removed
            FROM toks t LEFT JOIN agg a USING (doc_id)
        """,
        "corpus_resample": """
            WITH c AS (
              SELECT lang AS s, count(*)::BIGINT AS c,
                     floor(sqrt(count(*)))::BIGINT AS r
              FROM documents GROUP BY lang
            ),
            t AS (SELECT sum(c)::BIGINT AS total, sum(r)::BIGINT AS S FROM c),
            temp AS (
              SELECT 'temperature' AS kind, d.doc_id, d.lang AS stratum,
                     (CASE WHEN
                        ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
                          ::BIGINT::HUGEINT * t.S::HUGEINT * c.c::HUGEINT
                        < t.total::HUGEINT * c.r::HUGEINT
                          * 4294967296::HUGEINT
                      THEN 1 ELSE 0 END)::BIGINT AS metric
              FROM documents d JOIN c ON d.lang = c.s CROSS JOIN t
            ),
            cap AS (
              SELECT 'domain_cap' AS kind, doc_id, source AS stratum,
                     rk::BIGINT AS metric
              FROM (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                         doc_id) AS rk
                FROM documents
              ) WHERE rk <= 10
            )
            SELECT * FROM temp UNION ALL SELECT * FROM cap
        """,
        "token_jaccard": f"""
            WITH tk AS (
              SELECT doc_id AS id, list_distinct({toks}) AS tk FROM documents
            )
            SELECT a.id AS doc_id,
                   round(len(list_intersect(a.tk, b.tk)) /
                         greatest(len(list_distinct(a.tk || b.tk)), 1)::DOUBLE,
                         4) AS jaccard_next
            FROM tk a JOIN tk b ON b.id = a.id + 1
        """,
        "html_link_extract": """
            SELECT doc_id, 0::BIGINT AS link_idx,
                   'http://site' || (doc_id % 10) || '.example/dir/rel'
                     || doc_id || '.html' AS url
            FROM documents
            UNION ALL
            SELECT doc_id, 1::BIGINT,
                   'http://site' || (doc_id % 10) || '.example/abs'
                     || doc_id || '.html'
            FROM documents
            UNION ALL
            SELECT doc_id, 2::BIGINT, 'http://alt.example/x' || doc_id
            FROM documents
        """,
        "sitemap_extracts": """
            SELECT 'sitemap' AS src, doc_id, 0::BIGINT AS link_idx,
                   'http://sm.example/u' || doc_id AS url FROM documents
            UNION ALL
            SELECT 'sitemap', doc_id, 1::BIGINT,
                   'http://sm.example/v' || doc_id
            FROM documents
            UNION ALL
            SELECT 'robots', doc_id, 0::BIGINT,
                   'http://rb' || (doc_id % 20) || '.example/sm' || doc_id
                     || '.xml'
            FROM documents
            UNION ALL
            SELECT 'robots', doc_id, 1::BIGINT,
                   'http://other.example/s' || doc_id || '.xml'
            FROM documents
        """,
        "url_primitives": """
            SELECT doc_id,
                   'http://site' || (doc_id % 50) || '.example:8080/dir/p'
                     || doc_id || '.html?q=' || doc_id AS canonical,
                   'http://site' || (doc_id % 50) || '.example/dir/sub/rel'
                     || doc_id || '.html' AS resolved_rel,
                   'http://site' || (doc_id % 50) || '.example/abs'
                     || doc_id || '.html' AS resolved_root,
                   'http://site' || (doc_id % 50)
                     || '.example:8080/robots.txt' AS robots_url,
                   'site' || (doc_id % 50) || '.example' AS host,
                   md5('http://site' || (doc_id % 50) || '.example/dir/page'
                       || doc_id || '.html') AS url_md5,
                   {md5_hash60} AS url_hash60,
                   {md5_hash60} % 1000 AS priority_bucket
            FROM documents
        """.format(md5_hash60=md5_60.format(
            x="'http://site' || (doc_id % 50) || '.example/dir/page' "
              "|| doc_id || '.html'")),
        "simhash": _simhash_sql(),
        "simhash_near_pairs": _simhash_near_pairs_sql(8),
        "lang_id": _lang_id_sql(),
        "quality_score": f"""
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars_q,
                   len({toks})::BIGINT AS n_tokens,
                   round(({stop_hits}) /
                         greatest(len({toks}), 1)::DOUBLE, 4) AS stop_ratio,
                   round((length(text) - length(regexp_replace(text,
                         '[^\\w\\s]', '', 'g'))) /
                         greatest(length(text), 1)::DOUBLE, 4) AS punct_ratio,
                   round((length(text) - length(regexp_replace(text,
                         '[A-Z]', '', 'g'))) /
                         greatest(length(text), 1)::DOUBLE, 4) AS upper_ratio,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) /
                         greatest(len({toks}), 1)::DOUBLE, 4) AS mean_tok_len,
                   round(
                     (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) /
                           greatest(len({toks}), 1)::DOUBLE
                           BETWEEN 3 AND 10 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN ({stop_hits}) /
                           greatest(len({toks}), 1)::DOUBLE > 0.01
                           THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN (length(text) - length(regexp_replace(text,
                           '[^\\w\\s]', '', 'g'))) /
                           greatest(length(text), 1)::DOUBLE < 0.1
                           THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN (length(text) - length(regexp_replace(text,
                           '[A-Z]', '', 'g'))) /
                           greatest(length(text), 1)::DOUBLE < 0.3
                           THEN 0.1 ELSE 0.0 END), 4) AS quality_score
            FROM documents
        """,
        "token_counts": f"""
            SELECT doc_id, len({toks})::BIGINT AS n_tokens,
                   len(regexp_extract_all(lower(text),
                       '[a-z0-9_]+|[^\\sa-z0-9_]'))::BIGINT AS n_pieces
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                     AS fp
            FROM documents
        """,
        "contamination_screen": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t != '') AS toks
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3 THEN
                       list_distinct(list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                     ELSE [] END AS grams
              FROM tk
            ),
            bl AS (
              SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id < 10
            ),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
            agg AS (
              SELECT ex.doc_id, count(*) AS n_grams,
                     count(bl.gram) AS n_contaminated
              FROM ex LEFT JOIN bl ON ex.gram = bl.gram
              GROUP BY ex.doc_id
            )
            SELECT t.doc_id,
                   coalesce(a.n_grams, 0)::BIGINT AS n_grams,
                   coalesce(a.n_contaminated, 0)::BIGINT AS n_contaminated,
                   CASE WHEN coalesce(a.n_grams, 0) > 0
                        THEN round(a.n_contaminated / a.n_grams::DOUBLE, 4)
                        ELSE 0.0 END AS contamination_ratio
            FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
        """,
        "pii_redact": f"""
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id || '@example' ||
                     (doc_id % 9) || '.com via 10.0.' || (doc_id % 255) ||
                     '.7 or +1 555 01' ||
                     lpad((doc_id % 100)::VARCHAR, 2, '0') AS t
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(t, '{TX.PII_EMAIL}'))::BIGINT
                     AS n_emails,
                   len(regexp_extract_all(t, '{TX.PII_IPV4}'))::BIGINT
                     AS n_ipv4,
                   len(regexp_extract_all(t, '{TX.PII_PHONE}'))::BIGINT
                     AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                       '{TX.PII_EMAIL}', '<EMAIL>', 'g'),
                       '{TX.PII_IPV4}', '<IP>', 'g'),
                       '{TX.PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
            FROM aug
        """,
        "repetition_ratio": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t != '') AS toks
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                     ELSE [] END AS grams
              FROM tk
            ),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
            c AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2),
            a AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM c GROUP BY doc_id)
            SELECT t.doc_id, coalesce(a.tot, 0)::BIGINT AS n_ngrams,
                   CASE WHEN coalesce(a.tot, 0) > 0
                        THEN round(a.mx / a.tot::DOUBLE, 4)
                        ELSE 0.0 END AS repetition_ratio
            FROM tk t LEFT JOIN a ON t.doc_id = a.doc_id
        """,
        # corpus unigram distribution → per-doc mean -ln p(token)
        "unigram_logprob": f"""
            WITH tk AS (
              SELECT doc_id, unnest(toks) AS tok
              FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
            ),
            tot AS (SELECT count(*)::DOUBLE AS c FROM tk),
            freq AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
            sc AS (
              SELECT tk.doc_id,
                     round(-avg(ln(freq.cnt / (SELECT c FROM tot))), 4)
                       AS avg_neg_logp,
                     count(*) AS n_tok
              FROM tk JOIN freq USING (tok) GROUP BY tk.doc_id
            )
            SELECT d.doc_id, sc.avg_neg_logp AS avg_neg_logp,
                   coalesce(sc.n_tok, 0)::BIGINT AS n_tok
            FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        """,
        # corpus-global line dedup: doc-frequency per line, drop shared
        # lines everywhere, ordered reassembly
        "line_dedup": """
            WITH l0 AS (SELECT doc_id, string_split(text, chr(10)) AS l
                        FROM documents),
            ln AS (SELECT doc_id,
                          unnest(list_transform(
                              l, (x, i) -> struct_pack(pos := i, line := x)))
                            AS u
                   FROM l0),
            lines AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM ln),
            freq AS (SELECT line, count(DISTINCT doc_id) AS line_df
                     FROM lines GROUP BY line),
            kept AS (SELECT lines.* FROM lines JOIN freq USING (line)
                     WHERE line_df <= 1),
            re AS (SELECT doc_id,
                          string_agg(line, chr(10) ORDER BY pos)
                            AS clean_text,
                          count(*) AS n_lines_kept
                   FROM kept GROUP BY doc_id)
            SELECT d.doc_id, coalesce(re.clean_text, '') AS clean_text,
                   len(string_split(d.text, chr(10)))::INT AS n_lines,
                   coalesce(re.n_lines_kept, 0)::BIGINT AS n_lines_kept
            FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
        """,
        "rolling_fingerprint": f"""
            SELECT doc_id,
                   list_reduce(
                     [0::BIGINT] || list_transform({toks},
                       t -> ('0x' || substr(md5(t), 1, 15))::BIGINT
                            % 2147483647),
                     (a, b) -> (a * 131 + b) % 2147483647) AS roll_hash
            FROM documents
        """,
        "embedding_cosine_topk": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings),
            scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     round(list_dot_product(q.v, c.v) /
                           (sqrt(list_dot_product(q.v, q.v)) *
                            sqrt(list_dot_product(c.v, c.v))), 4) AS cos
              FROM emb q JOIN emb c ON q.vec_id != c.vec_id
              WHERE q.vec_id < 20
            )
            SELECT q_id, n_id, cos, rank FROM (
              SELECT *, row_number() OVER
                     (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "embedding_dup_pairs": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v))), 4) AS cos
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))) >= 0.4
        """,
        # deterministic sign-projection LSH: the SQL regenerates the same
        # integer LCG hyperplane weights as the Spark query, so bucket
        # collisions — and therefore the ANN result — match exactly
        "semantic_dedup": SIM.semantic_dedup_oracle_sql(threshold=0.4),
        "ann_lsh_topk": SIM.det_lsh_oracle_sql(
            dim=64, n_planes=4, n_tables=8, k=5),
        # deterministic sampled-centroid IVF: integer-quantized L2
        # assignment with (d2, cid) tie-break — both engines derive the
        # identical buckets, so probe + re-rank replays exactly
        "ann_ivf_topk": SIM.det_ivf_oracle_sql(
            centroid_ids=tuple(range(16)), n_probe=4, k=5),
    }
    # minhash: explode(distinct 2-gram shingles) → per-doc salted-md5 mins
    shingle_sql = """
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t != '') AS toks
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 2 THEN
                   list_distinct(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1]))
                 ELSE [] END AS shingles
          FROM tk
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)
    """
    mins = ", ".join(
        f"min(('0x' || substr(md5('s{i}:' || shingle), 1, 15))::BIGINT)"
        f" AS minhash_{i}" for i in range(4))
    sql["minhash_signatures"] = (
        shingle_sql
        + f"SELECT doc_id, {mins} FROM ex GROUP BY doc_id "
        + "UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL FROM sh "
        + "WHERE len(shingles) = 0")
    sql["minhash_lsh_pairs"] = (
        shingle_sql + f"""
        , sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
        banded AS (
          SELECT doc_id, 0 AS band, minhash_0 AS h0, minhash_1 AS h1 FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, minhash_2 AS h0, minhash_3 AS h1 FROM sig
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
         AND a.doc_id < b.doc_id
        """)
    sql["lsh_jaccard_dedup"] = (
        shingle_sql + f"""
        , sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
        banded AS (
          SELECT doc_id, 0 AS band, minhash_0 AS h0, minhash_1 AS h1 FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, minhash_2 AS h0, minhash_3 AS h1 FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(len(list_intersect(sa.shingles, sb.shingles)) /
                     greatest(len(list_distinct(sa.shingles || sb.shingles)),
                              1)::DOUBLE, 4) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
                    greatest(len(list_distinct(sa.shingles || sb.shingles)),
                             1)::DOUBLE, 4) >= 0.5
        """)
    # connected components over the verified pair set: recursive-CTE
    # reachability (closure materialization — exact, oracle-scale only;
    # the engine uses hash-min label propagation instead)
    sql["dedup_clusters"] = (
        shingle_sql.replace("WITH tk", "WITH RECURSIVE tk", 1) + f"""
        , sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id),
        banded AS (
          SELECT doc_id, 0 AS band, minhash_0 AS h0, minhash_1 AS h1 FROM sig
          UNION ALL
          SELECT doc_id, 1 AS band, minhash_2 AS h0, minhash_3 AS h1 FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
           AND a.doc_id < b.doc_id
        ),
        verified AS (
          SELECT id_a, id_b
          FROM cand
          JOIN sh sa ON sa.doc_id = id_a
          JOIN sh sb ON sb.doc_id = id_b
          WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
                      greatest(len(list_distinct(sa.shingles || sb.shingles)),
                               1)::DOUBLE, 4) >= 0.5
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b, id_a FROM verified
        ),
        reach(id, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
        )
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        """)
    sql["quality_gate"] = f"""
        SELECT q.doc_id, q.quality_score, r.repetition_ratio,
               c.contamination_ratio,
               (q.quality_score >= 0.5 AND r.repetition_ratio < 0.3
                AND c.contamination_ratio < 0.05) AS keep
        FROM (SELECT doc_id, quality_score FROM ({sql['quality_score']})) q
        JOIN (SELECT doc_id, repetition_ratio
              FROM ({sql['repetition_ratio']})) r ON q.doc_id = r.doc_id
        JOIN (SELECT doc_id, contamination_ratio
              FROM ({sql['contamination_screen']})) c ON q.doc_id = c.doc_id
    """
    return sql
