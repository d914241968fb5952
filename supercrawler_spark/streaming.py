"""Structured Streaming operators.

The crawl loop itself is deliberately batch micro-cycles (north_star), but
the engine ships streaming operators for the surrounding pipeline: live
metrics over the crawl_log, and event-time windowed aggregation with
watermarks for late data. Tested by running the stream with an
``availableNow`` trigger over static parquet and comparing against the
equivalent batch aggregation (the oracle).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def windowed_event_counts(spark: SparkSession, events_path: str,
                          window: str = "1 day",
                          watermark: str = "2 days") -> DataFrame:
    """Event-time tumbling-window counts per event_type over a parquet
    stream, with a watermark for late data. Runs to completion with
    availableNow and returns the full result (complete output mode, so the
    result equals the batch GROUP BY — SQL-oracle checkable)."""
    schema = spark.read.parquet(events_path).schema
    if os.path.isfile(events_path):
        # the file-stream source needs a directory; link the single fixture
        # file into one (production streams a directory of arriving files)
        d = tempfile.mkdtemp(prefix="sc-stream-src-")
        os.symlink(os.path.abspath(events_path),
                   os.path.join(d, os.path.basename(events_path)))
        events_path = d
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("path", events_path)
              .option("maxFilesPerTrigger", "16")
              .load())
    # watermarks require TIMESTAMP (session-tz) event time, not NTZ
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (stream
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value")))
    name = f"win_counts_{abs(hash(events_path)) % 10**8}"
    ckpt = tempfile.mkdtemp(prefix="sc-stream-ckpt-")
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    out = spark.table(name)
    return out.select(
        F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
        "event_type", "n_events", "total_value")


def _single_file_stream(spark: SparkSession, path: str):
    """file-stream source over a fixture path (dir or single file)."""
    schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="sc-stream-src-")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        path = d
    return (spark.readStream.schema(schema).format("parquet")
            .option("path", path).load())


def _run_to_memory(agg, name_prefix: str, mode: str) -> str:
    import uuid
    name = f"{name_prefix}_{uuid.uuid4().hex[:10]}"
    ckpt = tempfile.mkdtemp(prefix="sc-stream-ckpt-")
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return name


def streaming_dedup_hashes(spark: SparkSession, docs_path: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the content hash over a
    document stream — the streaming twin of datapipe.dedup.exact_dedup's
    key step. With availableNow the surviving key set equals the batch
    SELECT DISTINCT md5(text), so a SQL oracle checks it exactly. (State
    store holds one entry per distinct hash; production would bound it
    with a watermark on an event-time column.)"""
    stream = _single_file_stream(spark, docs_path)
    deduped = (stream
               .select(F.md5(F.col("text")).alias("content_hash"))
               .dropDuplicates(["content_hash"]))
    name = _run_to_memory(deduped, "stream_dedup", "append")
    return spark.table(name)


def stateful_user_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user (per-host, in crawl terms) running event counter carried in
    explicit GroupState — the building block for streaming politeness
    budgets / per-host token buckets. Emits the running total on every
    update; with availableNow over a static fixture the final row per user
    equals the batch GROUP BY count, giving an exact SQL oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    stream = _single_file_stream(spark, events_path).select("user_id")
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def counter(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counts = (stream.groupBy("user_id")
              .applyInPandasWithState(counter, out_schema, state_schema,
                                      "update", GroupStateTimeout.NoTimeout))
    name = _run_to_memory(counts, "stateful_counts", "update")
    # the memory sink in update mode accumulates one row per state update;
    # keep each user's final (max) running total
    return (spark.table(name)
            .groupBy("user_id")
            .agg(F.max("n_events").alias("n_events")))


def stream_crawl_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """Live rollup over the crawler's append-only metrics log: cumulative
    fetched / new / dedup-hit counts. availableNow over whatever parts
    exist; in production this runs continuously against the log directory."""
    parts = [os.path.join(metrics_dir, e) for e in sorted(os.listdir(metrics_dir))
             if e.startswith("part-")]
    if not parts:
        raise ValueError(f"no metrics parts under {metrics_dir}")
    schema = spark.read.parquet(parts[0]).schema
    stream = (spark.readStream.schema(schema).format("parquet")
              .load(os.path.join(metrics_dir, "part-*")))
    agg = stream.agg(
        F.sum("popped").alias("total_fetched"),
        F.sum("links_new").alias("total_new_urls"),
        F.sum("dedup_hits").alias("total_dedup_hits"),
        F.sum("robots_denied").alias("total_robots_denied"),
        F.max("cycle_id").alias("last_cycle"),
    )
    name = f"crawl_metrics_{abs(hash(metrics_dir)) % 10**8}"
    ckpt = tempfile.mkdtemp(prefix="sc-stream-ckpt-")
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


def streaming_link_ingest(spark: SparkSession, links_dir: str,
                          seen_df: DataFrame, out_dir: str,
                          bloom=None,
                          max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming frontier ingestion — the streaming twin of the crawl
    cycle's J1 dedup: a file-stream of discovered links (one file ≈ one
    crawl cycle's output) is deduped per micro-batch against (a) the static
    seen set and (b) everything admitted by EARLIER micro-batches, then
    appended to a frontier-delta parquet directory.

    Cross-batch dedup state is the engine's own PartitionedBloom: each
    foreachBatch calls ``prefilter`` (definitively-new rows skip the exact
    verify; the seen table streams through broadcast semi/anti joins, never
    shuffles) and then ``absorb``s the admitted urls (the probe has already
    ORed the batch's bits; absorb pins them) — exactly how a
    continuously-running crawler would keep its seen-filter current, and
    identical state management to the batch engine (the filter is a
    distributed pid-keyed table; nothing driver-resident). With
    ``availableNow`` the final admitted set equals the batch
    ``dropDuplicates ∘ left_anti`` — asserted in tests.

    Returns the admitted-url DataFrame read back from ``out_dir``.
    """
    from .bloom import PartitionedBloom

    if bloom is None:
        bloom = PartitionedBloom(partitions=8, capacity=1 << 16)
        bloom.add(spark, seen_df, "url")
    schema = spark.read.parquet(links_dir).schema
    stream = (spark.readStream.schema(schema).format("parquet")
              .option("path", links_dir)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load())

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cand = batch_df.select("url").dropDuplicates(["url"])
        # exact-verify side = static seen ∪ everything already admitted
        # (the out_dir delta): the bloom alone routes repeats from EARLIER
        # micro-batches into the verify, and the verify must know about
        # them or it would re-admit — same base∪delta shape as the engine's
        # frontier view
        seen_all = seen_df.select("url")
        if os.path.isdir(out_dir) and any(
                e.endswith(".parquet") for e in os.listdir(out_dir)):
            seen_all = seen_all.unionByName(
                spark.read.parquet(out_dir).select("url"))
        new = bloom.prefilter(spark, cand, "url", seen_all,
                              verify="broadcast")
        new = new.persist()
        n_new = new.count()
        if n_new:
            new.write.mode("append").parquet(out_dir)
        bloom.absorb(n_new)
        new.unpersist()

    ckpt = tempfile.mkdtemp(prefix="sc-stream-ckpt-")
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    # If no micro-batch admitted any URL (every candidate already seen),
    # out_dir was never written — return an empty url frame instead of
    # letting spark.read raise PATH_NOT_FOUND.
    if not (os.path.isdir(out_dir) and any(
            e.endswith(".parquet") for e in os.listdir(out_dir))):
        return spark.createDataFrame(
            [], schema=T.StructType([T.StructField("url", T.StringType())]))
    return spark.read.parquet(out_dir)
