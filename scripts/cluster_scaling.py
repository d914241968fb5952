"""N -> 4N executor scaling of the micro-cycle core under spark-submit.

Spark's `local-cluster[N,cores,mem]` master spawns N SEPARATE executor
JVMs (own heaps, netty shuffle service, own python workers) under a
standalone-style scheduler — the closest a single box gets to "the same
job at N and 4N executors". Both sides run scripts/submit_scaling.py
through the real `spark-submit --py-files` path on identical input
bytes with an identical executor spec; only the executor COUNT changes.

The default geometry fits the host: 1 core per executor, max(1, nproc//4)
executors on the small side (4x that on the big side), and executor
memory sized so the big side's executors together take at most half of
physical RAM. Each run appends its record to
BENCH/cluster_scaling_attempts.jsonl and prints it.

Usage: python scripts/cluster_scaling.py [n_exec] [scale] [n_runs]
  n_exec  small side executor count (default max(1, nproc // 4))
  scale   input replication factor (default 4 — walls >= ~60s on the
          small side so multi-JVM fixed costs don't dominate)
  n_runs  timed runs per side, min taken (default 3)
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_DIR = os.environ.get("SC_BENCH_DIR", "/tmp/sc_bench")
LOG = os.path.join(REPO, "BENCH", "cluster_scaling_attempts.jsonl")
NPROC = os.cpu_count() or 1
RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
# cores per executor. 1 gives the most executors the host's cores allow:
# the more executors per side, the smaller the jump between the sides in
# the share of shuffle blocks that cross JVMs (2 -> 8 executors: 50% ->
# 87.5%; 4 -> 16: 75% -> 93.75%), a jump a production N -> 4N
# (250 -> 1000 executors) does not see.
CORES = int(os.environ.get("SC_EXEC_CORES", "1"))
ZIP = "/tmp/supercrawler_spark.zip"


def _ensure_inputs():
    """The parse-heavy scaling corpus and a 2M-row seen set, written once
    (deterministic seed) so both sides read identical bytes."""
    web_path = os.path.join(BENCH_DIR, "web_pages_big")
    seen_path = os.path.join(BENCH_DIR, "seen_big")
    if all(os.path.exists(os.path.join(p, "_SUCCESS"))
           for p in (web_path, seen_path)):
        return
    from supercrawler_spark import fixtures
    from supercrawler_spark.session import get_spark
    spark = get_spark("prep")
    spark.sparkContext.setLogLevel("ERROR")
    _, web = fixtures.make_bench_web(n_hosts=1500, pages_per_host=24,
                                     links_per_page=60, filler_kb=8)
    spark.createDataFrame(web).repartition(NPROC * 4).write \
        .mode("overwrite").parquet(web_path)
    seen = fixtures.make_seed_frontier(2_000_000, n_hosts=1500)
    spark.createDataFrame(seen[["url"]]).repartition(NPROC).write \
        .mode("overwrite").parquet(seen_path)
    spark.stop()


def _ensure_zip():
    subprocess.run(
        ["zip", "-qr", ZIP, "supercrawler_spark", "-x", "*__pycache__*"],
        cwd=REPO, check=True)


def _submit(n_exec: int, mem_mb: int, scale: int, n_runs: int) -> dict:
    env = {**os.environ, "SC_BENCH_DIR": BENCH_DIR,
           "SC_SUBMIT_SCALE": str(scale), "SC_SUBMIT_RUNS": str(n_runs)}
    out = subprocess.run(
        _submit_args(n_exec, mem_mb, "submit_scaling.py"),
        capture_output=True, text=True, timeout=2400, env=env, cwd=REPO)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from spark-submit: {out.stderr[-2000:]}")


def _submit_args(n_exec: int, mem_mb: int, payload: str) -> list[str]:
    """spark-submit command line running ``scripts/<payload>`` on a
    local-cluster of ``n_exec`` CORES-core executors, each with a worker
    grant of ``mem_mb``, and a driver heap sized to the host."""
    import pyspark

    from supercrawler_spark.session import _default_driver_memory
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                          "spark-submit")
    return [
        submit, "--master", f"local-cluster[{n_exec},{CORES},{mem_mb}]",
        "--conf", f"spark.sql.shuffle.partitions={n_exec * CORES}",
        "--conf", f"spark.executor.memory={_heap_mb(mem_mb)}m",
        "--conf", f"spark.driver.memory={_default_driver_memory()}",
        # cluster-faithful CPU isolation: on a real cluster each executor
        # is cgroup-capped at its core grant; in local-cluster every
        # executor JVM sees all of the host's cores and sizes GC/JIT
        # pools for them, so 4N JVMs oversubscribe the box and the big
        # side measures scheduler thrash, not engine scaling.
        "--conf", ("spark.executor.extraJavaOptions="
                   f"-XX:ActiveProcessorCount={CORES}"),
        "--conf", ("spark.driver.extraJavaOptions="
                   f"-XX:ActiveProcessorCount={min(4, NPROC)}"),
        "--py-files", ZIP,
        os.path.join(REPO, "scripts", payload)]


def _exec_mem_mb(n_exec: int) -> int:
    """Worker grant per executor such that ``n_exec`` executors together
    take at most half of physical RAM (SC_EXEC_MEM_MB overrides)."""
    return int(os.environ.get("SC_EXEC_MEM_MB", RAM_MB // 2 // n_exec))


def _heap_mb(mem_mb: int) -> int:
    """Executor heap inside its worker grant: 1 GiB left for off-heap
    and the python workers, or half the grant when that is smaller."""
    return max(mem_mb // 2, mem_mb - 1024)


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else max(1, NPROC // 4)
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    big = n * 4
    mem_mb = _exec_mem_mb(big)
    _ensure_inputs()
    _ensure_zip()
    t0 = time.time()
    small_res = _submit(n, mem_mb, scale, n_runs)
    big_res = _submit(big, mem_mb, scale, n_runs)
    rec = {
        "ts": datetime.datetime.now().strftime("%Y-%m-%dT%H:%M:%S"),
        "mode": "local-cluster multi-executor (spark-submit --py-files)",
        "executor_spec": f"{CORES} cores / {_heap_mb(mem_mb)}m each",
        "n_executors_small": n, "n_executors_big": big,
        "scale": scale, "pages": small_res["pages"],
        "wall_s_small": small_res["wall_s"],
        "wall_s_big": big_res["wall_s"],
        "walls_small": small_res["walls_s"],
        "walls_big": big_res["walls_s"],
        "efficiency_n_to_4n": round(
            small_res["wall_s"] / big_res["wall_s"] / 4.0, 3),
        "elapsed_s": round(time.time() - t0, 1),
    }
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(LOG, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
