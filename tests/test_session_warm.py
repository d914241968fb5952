"""Round-6: session warm-up + pre-importing worker daemon wiring.

The optimization moves one-time engine init (py4j function-registry
bring-up, codegen infra, Python worker pool fork + numeric-stack import)
off the first query's timed path and into session construction. These
tests pin the wiring, not timings: the conf is set, the warm flag is
recorded, the daemon module is importable and pre-imports the stack,
and a pandas UDF still round-trips correctly through the warmed pool.
"""

import importlib
import os
import sys

import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_daemon_module_conf_set(spark):
    assert spark.conf.get("spark.python.daemon.module") == \
        "supercrawler_spark.pydaemon"


def test_daemon_module_only_on_local_masters():
    """The pre-importing daemon is wired only where executors inherit the
    driver's PYTHONPATH (local and local-cluster masters); elsewhere
    Spark's stock daemon stays."""
    from supercrawler_spark.session import _daemon_conf
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert _daemon_conf(master) == {
            "spark.python.daemon.module": "supercrawler_spark.pydaemon"}, master
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443",
                   "mesos://zk:2181"):
        assert _daemon_conf(master) == {}, master


def test_worker_sockets_are_unix_on_local_masters(spark):
    """Local masters talk to their Python workers over Unix domain sockets
    in one short per-process directory (a socket path has 107 bytes);
    other masters keep Spark's TCP default."""
    from supercrawler_spark.session import _worker_socket_conf
    for master in ("local[4]", "local-cluster[2,1,1024]"):
        conf = _worker_socket_conf(master)
        assert conf["spark.python.unix.domain.socket.enabled"] == "true"
        d = conf["spark.python.unix.domain.socket.dir"]
        assert os.path.isdir(d) and len(d) + 42 < 107, d
    assert _worker_socket_conf("yarn") == {}
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"


def test_call_sites_are_not_captured_per_expression(spark, monkeypatch):
    """Building a Column does not record its Python call site (a stack walk
    and ~4 py4j round trips per ``pyspark.sql.functions`` call) unless a
    caller turns ``spark.python.sql.dataFrameDebugging.enabled`` back on."""
    import pyspark.errors.utils as err_utils
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    def capture(depth):
        raise AssertionError("call site captured")
    monkeypatch.setattr(err_utils, "_capture_call_site", capture)
    col = F.when(F.col("a") > F.lit(1), F.lit("x")).otherwise(F.concat(
        F.lit("y"), F.col("b").cast("string")))
    assert spark.range(2).select(
        F.lit(2).alias("a"), F.col("id").alias("b")).select(col).first()[0] == "x"


def test_cached_frames_are_stored_uncompressed(spark):
    """The engine caches only batch-sized frames it reads once or twice a
    cycle, so the in-memory cache skips columnar compression."""
    assert spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") \
        == "false"
    df = spark.range(100).select((F.col("id") % 3).alias("k")).persist()
    try:
        assert df.groupBy("k").count().orderBy("k").collect()[2]["count"] == 33
    finally:
        df.unpersist()


def test_warm_flag_recorded(spark):
    # get_spark ran _warm_session on this (session-scoped) fixture
    assert spark.conf.get("spark.supercrawler.warmed") == "1"


def test_repo_on_worker_pythonpath(spark, monkeypatch):
    """The repo reaches the workers through ``spark.executorEnv.PYTHONPATH``:
    a pandas UDF imports the package from the repo inside a worker, and
    get_spark leaves the driver's own environment as it found it."""
    from supercrawler_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and p != repo))
    before = dict(os.environ)
    assert get_spark("supercrawler-tests", master="local[4]",
                     shuffle_partitions=4) is spark
    assert dict(os.environ) == before

    def where(s):
        import os

        import supercrawler_spark
        return pd.Series([os.path.dirname(os.path.dirname(
            supercrawler_spark.__file__)) + "|" + os.environ["PYTHONPATH"]]
            * len(s))
    where.__annotations__ = {"s": pd.Series, "return": pd.Series}
    got = spark.range(1).select(
        F.pandas_udf(where, "string")("id")).first()[0]
    pkg_parent, worker_path = got.split("|", 1)
    assert pkg_parent == repo
    assert repo in worker_path.split(os.pathsep)


def test_pydaemon_module_preimports_stack():
    mod = importlib.import_module("supercrawler_spark.pydaemon")
    # the module-level imports ran (best-effort, but this image has them)
    assert "numpy" in sys.modules and "pandas" in sys.modules
    assert callable(mod.manager)


def test_pandas_udf_through_warmed_pool(spark):
    def double(s):
        return s * 2
    double.__annotations__ = {"s": pd.Series, "return": pd.Series}
    out = (spark.range(0, 100, 1, 4)
           .select(F.pandas_udf(double, "long")("id").alias("v"))
           .agg(F.sum("v")).collect()[0][0])
    assert out == 2 * sum(range(100))


def test_default_driver_memory_fits_the_host(monkeypatch):
    """Without SPARK_DRIVER_MEM the JVM heap is a quarter of physical
    RAM, clamped to 1-8 GiB, so a small host never grants the JVM more
    heap than it can back."""
    from supercrawler_spark.session import _default_driver_memory
    page = 4096
    for ram_gib, want in ((2, "1g"), (16, "4g"), (15.5, "3g"), (256, "8g")):
        pages = int(ram_gib * (1 << 30)) // page
        monkeypatch.setattr(os, "sysconf", lambda name, p=pages: {
            "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": p}[name])
        assert _default_driver_memory() == want, ram_gib


def test_pydaemon_pins_blas_threads_unless_set():
    """Importing the daemon module in a fresh interpreter sets the BLAS
    and OpenMP thread pools to one thread before numpy loads (importing
    the package alone loads no numpy); a value already in the
    environment is kept."""
    import subprocess

    names = ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS")
    code = ("import os, sys\n"
            "import supercrawler_spark\n"
            "assert 'numpy' not in sys.modules\n"
            "import supercrawler_spark.pydaemon\n"
            "assert 'numpy' in sys.modules\n"
            f"print(','.join(os.environ[v] for v in {names!r}))\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k not in names}

    def run(extra):
        return subprocess.run([sys.executable, "-c", code], cwd=repo,
                              env={**env, **extra}, capture_output=True,
                              text=True, check=True).stdout.strip()

    assert run({}) == "1,1,1"
    assert run({"OMP_NUM_THREADS": "3"}) == "1,1,3"


def test_pydaemon_guards_zip_directory_rereads(tmp_path):
    """In a fresh interpreter without Spark: after the daemon module is
    imported, ``importlib.invalidate_caches()`` re-reads no zip directory
    while the archive is unchanged; once the archive is rewritten with a
    new module it is re-read and the new module imports. On Python 3.12+
    (whose zipimport already does this) the guard installs nothing."""
    import subprocess

    code = (
        "import importlib, os, sys, zipfile, zipimport\n"
        f"zp = {str(tmp_path / 'zpkg.zip')!r}\n"
        "def write(mods):\n"
        "    with zipfile.ZipFile(zp, 'w') as z:\n"
        "        z.writestr('zpkg/__init__.py', '')\n"
        "        for m in mods:\n"
        "            z.writestr(f'zpkg/{m}.py', f'X = {m!r}\\n')\n"
        "write(['a'])\n"
        "sys.path.insert(0, zp)\n"
        "import zpkg.a\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import supercrawler_spark.pydaemon as daemon\n"
        "guarded = zipimport.zipimporter.invalidate_caches\n"
        "assert (guarded is not stock) == (sys.version_info < (3, 12))\n"
        "assert daemon._guard_zip_rereads((3, 12, 0)) is False\n"
        "assert zipimport.zipimporter.invalidate_caches is guarded\n"
        "if sys.version_info < (3, 12):\n"
        "    reads = []\n"
        "    read = zipimport._read_directory\n"
        "    def counting(archive):\n"
        "        reads.append(archive)\n"
        "        return read(archive)\n"
        "    zipimport._read_directory = counting\n"
        "    importlib.invalidate_caches()\n"
        "    importlib.invalidate_caches()\n"
        "    assert reads == [], reads\n"
        "    write(['a', 'b'])\n"
        "    importlib.invalidate_caches()\n"
        "    assert reads == [zp], reads\n"
        "    import zpkg.b\n"
        "    assert zpkg.b.X == 'b'\n"
        "print('ok')\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "ok", out.stderr
