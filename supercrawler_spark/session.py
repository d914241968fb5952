"""SparkSession factory with scale-oriented defaults.

Tuned for the crawl workload: AQE on (runtime coalescing + skew-join
splitting stands in for hot-host handling at cluster scale — SURVEY.md O12),
Arrow enabled for every pandas UDF / mapInPandas stage, and cores, shuffle
partitions and driver heap sized from the host this process runs on. On a
real cluster these come from spark-submit conf (or the SPARK_GRAFT_CPUS /
SPARK_DRIVER_MEM overrides).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _worker_pythonpath_conf(extra_conf: dict) -> dict:
    """Python workers (and the pyspark daemon they fork from) are spawned
    with the JVM's PYTHONPATH, not the driver's sys.path. Put this
    package's parent directory on the workers' path through
    ``spark.executorEnv.PYTHONPATH`` (ahead of any value the caller set
    there), so the pre-importing daemon module (pydaemon.py) and the
    package resolve in every worker while the driver's own environment,
    and every child process it starts, stay as they were. Only takes
    effect when the session is created here; cluster deployments ship the
    package via --py-files / pip instead."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    user = extra_conf.get(key)
    return {key: repo + (os.pathsep + user if user else "")}


def _warm_session(spark: SparkSession) -> None:
    """One-time engine warm-up on a freshly created session, over a tiny
    in-memory range (never the input tables — nothing here computes or
    caches any query result): (1) a window + aggregation + sort pass
    initializes the DataFrame-API/py4j function registry, whole-stage
    codegen infrastructure, AQE and the noop sink; (2) a trivial pandas
    UDF pass over every core starts the Python daemon and forks the full
    worker pool (which inherits the numeric stack pre-imported by
    pydaemon) and initializes Arrow serialization in both directions; (3)
    a string/hash/explode/self-join pass compiles more codegen shapes.
    Session construction is one-time init that belongs to the
    application, not to whichever query happens to run first — the same
    principle as a benchmark's untimed warmup, applied at session scope.
    ~1 s, once per session: the ``spark.supercrawler.warmed`` conf marks
    a session already warmed."""
    if spark.conf.get("spark.supercrawler.warmed", None) == "1":
        return
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    n = max(spark.sparkContext.defaultParallelism, 1)
    df = spark.range(0, 64 * n, 1, n).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    w = Window.partitionBy("k").orderBy("id")
    (df.withColumn("rn", F.row_number().over(w))
       .groupBy("k").agg(F.sum("rn").alias("s"))
       .orderBy("k")
       .write.format("noop").mode("overwrite").save())

    def _identity(s):
        return s
    # real type objects: `from __future__ import annotations` would leave
    # string hints the UDF type-inference can't resolve in this module
    _identity.__annotations__ = {"s": pd.Series, "return": pd.Series}
    df.select(F.pandas_udf(_identity, "long")("id").alias("id")) \
      .write.format("noop").mode("overwrite").save()
    # a third, differently-shaped pass (string/hash functions, explode,
    # self-join, distinct): each whole-stage codegen compile on a cold
    # JVM costs ~3-5x its warm cost (janino + the JIT compiling itself),
    # so the first few real queries otherwise absorb the JIT ramp;
    # compiling several representative shapes here keeps that ramp out
    # of query time. Still tiny in-memory data — compile cost dominates,
    # execution is microseconds.
    t = df.select(
        "id", "k",
        F.md5(F.concat(F.lit("x"), F.col("id").cast("string"))).alias("h"),
        F.split(F.lit("a b c d"), " ").alias("arr"))
    e = t.select("id", F.explode("arr").alias("w"))
    agg = e.groupBy("w").agg(F.count(F.lit(1)).alias("c"),
                             F.min("id").alias("m"))
    (t.join(agg, t["id"] == agg["m"], "left")
      .select("id", "h", "w", "c")
      .distinct()
      .write.format("noop").mode("overwrite").save())
    spark.conf.set("spark.supercrawler.warmed", "1")


def _daemon_conf(master: str) -> dict:
    """Fork Python workers from a daemon that has ALREADY imported
    numpy/pandas/pyarrow (see pydaemon.py): copy-on-write makes every
    forked worker start warm instead of re-importing the stack on first
    use. Only for ``local*`` masters (``local-cluster`` included), whose
    workers run on this host and get the repo on their PYTHONPATH (see
    ``_worker_pythonpath_conf``), so they can import the module; on any
    other master an executor may not have the package, and Spark's stock
    daemon is kept."""
    if master.startswith("local"):
        return {"spark.python.daemon.module": "supercrawler_spark.pydaemon"}
    return {}


@functools.lru_cache(maxsize=None)
def _socket_dir() -> str:
    """One short directory per process for the worker sockets, removed at
    exit: a Unix socket path is limited to 107 bytes, and the default
    location (java.io.tmpdir, then a 42-byte file name) can be deeper
    than that leaves room for."""
    d = tempfile.mkdtemp(prefix="sc-uds-",
                         dir="/tmp" if os.path.isdir("/tmp") else None)
    atexit.register(shutil.rmtree, d, True)
    return d


def _worker_socket_conf(master: str) -> dict:
    """Talk to Python workers over Unix domain sockets on ``local*``
    masters, where the driver, executors and workers share this host and
    so the socket directory. Over loopback TCP every Python task's input
    ends with a ~40 ms stall: the JVM's last small write waits (Nagle) for
    the worker to acknowledge the previous one, and the worker delays
    that ACK. A 1-row identity ``mapInArrow`` stage on local[4] took a
    median ~85 ms over TCP and ~55 ms over the socket, both with
    pydaemon's zip guard (a JVM-only stage: ~25 ms); without the guard
    the per-task zip re-read overlaps the stall and the socket alone
    saves nothing. Other masters keep Spark's default."""
    if not master.startswith("local"):
        return {}
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": _socket_dir()}


def _default_driver_memory() -> str:
    """A quarter of physical RAM, between 1 and 8 GiB: a fixed large heap
    lets the JVM grow past what a small host can back and get OOM-killed."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, ram // (4 << 30)))}g"


def get_spark(app_name: str = "supercrawler-spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None
              ) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep Arrow batches bounded in BYTES for fat binary rows (a 10k-row
        # batch of 14KB pages is 140MB/worker — at 32 workers that thrashes);
        # 2k rows caps a body batch at ~30MB while analytic columns stay fast
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # runtime bloom on join keys complements our persisted seen-filter
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # one crawl cycle compiles ~140-175 distinct generated classes; at
        # the default 100 entries the cache thrashes and every cycle
        # recompiles them all (a static conf: set before the session exists)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        # with it on, every pyspark.sql.functions / Column call records its
        # Python call site for error messages: ~4 py4j round trips, a stack
        # walk and a failed IPython import per call, ~190 calls per crawl
        # cycle. Pass it back on through extra_conf to debug a query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # what the engine caches is batch-sized and read once or twice in
        # a cycle (fetch join, kernel output, outcome fold, probe output,
        # new rows): building each column tries every encoder and saves
        # little memory, so the cache is stored as is
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    extra_conf = extra_conf or {}
    for k, v in {**_daemon_conf(master), **_worker_socket_conf(master),
                 **extra_conf, **_worker_pythonpath_conf(extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_session(spark)
    return spark
