"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process on ``local[nproc]`` and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` runs the workload with Spark's event log on, job groups
around each engine call and timers around the storage and Bloom methods,
then runs the same invocation untraced in a child process, and reports the
per-layer metrics plus ``trace_overhead.<metric>`` (traced minus untraced)
for each end-to-end metric.

Everything it writes stays under ``.perfbench_work/`` in the current
directory, which it removes before exiting.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench import workloads  # noqa: E402
from perfbench.layers import E2E_UNITS, LAYER_UNITS, layer_metrics  # noqa: E402
from perfbench.trace import (MethodTimer, Spans, read_event_log,  # noqa: E402
                             tree_pids)


def host_geometry() -> dict:
    """Cores this process may use and a driver heap that fits the box:
    a quarter of physical RAM, between 1 and 8 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "driver_memory": f"{heap_gb}g"}


def open_session(work: str, event_dir: str | None):
    from supercrawler_spark import get_spark
    geo = host_geometry()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch files and every temp file inside the work dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    conf = {
        "spark.driver.memory": geo["driver_memory"],
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{geo['cores']}]",
                      shuffle_partitions=geo["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM PySpark launched, if any, and wait until every child
    process is gone."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_children(30.0)


def wait_children(timeout: float) -> None:
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10.0
        time.sleep(0.2)
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def run_workload(name: str, seed: int, seconds: float, work: str,
              traced: bool, t_start: float) -> tuple[workloads.Result, dict]:
    """Run the workload once on a new session, stopped before returning.
    Session start counts from ``t_start``. A traced run turns on the event
    log, job groups and method timers and also returns the layer
    metrics."""
    event_dir = os.path.join(work, "events") if traced else None
    spark = open_session(work, event_dir)
    session_s = time.perf_counter() - t_start
    timer = None
    if traced:
        from supercrawler_spark.bloom import PartitionedBloom
        from supercrawler_spark.storage import AppendLog, SnapshotStore
        timer = MethodTimer(
            [(SnapshotStore, "commit"), (SnapshotStore, "load"),
             (AppendLog, "append"), (PartitionedBloom, "add")])
    spans = Spans(spark.sparkContext if traced else None)
    data = os.path.join(work, "data")
    ctx = workloads.Ctx(spark, data, seed, seconds, spans, session_s, traced)
    try:
        res = workloads.WORKLOADS[name](ctx)
    finally:
        if timer is not None:
            timer.restore()
        spark.stop()
        shutil.rmtree(data, ignore_errors=True)
    layers = {}
    if traced:
        layers = layer_metrics(res, spans, read_event_log(event_dir),
                               timer.calls)
    return res, layers


def _metric_block(values: dict, units: dict) -> dict:
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind normally, so the session and work dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        res, layers = run_workload(args.workload, args.seed, args.seconds,
                                work, bool(args.trace), T_START)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    for p in res.problems:
        print(f"correctness: {p}", file=sys.stderr)
    out = {"correct": not res.problems, "attempted": res.attempted,
           "failed": res.failed}
    if not args.trace:
        out["metrics"] = _metric_block(res.e2e, E2E_UNITS)
    else:
        # the same invocation untraced, in a fresh process (a PySpark
        # process cannot start a second JVM for cached UDFs), is the
        # baseline for the tracing overhead; it does the same work with
        # less instrumentation, so it is stopped only if it takes more
        # than twice the traced part's time plus a minute
        limit = 2.0 * (time.perf_counter() - T_START) + 60.0
        with subprocess.Popen(
                [sys.executable, os.path.abspath(__file__),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True) as child:
            try:
                stdout, stderr = child.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                child.terminate()  # its SIGTERM handler ends its JVM
                child.communicate(timeout=60)
                print("untraced baseline run timed out", file=sys.stderr)
                return 1
        if child.returncode != 0:
            sys.stderr.write(stderr[-4000:])
            return 1
        base_run = json.loads(stdout.strip().splitlines()[-1])
        for k in E2E_UNITS:
            layers[f"trace_overhead.{k}"] = (
                res.e2e[k] - base_run["metrics"][k]["value"])
        out["correct"] = out["correct"] and base_run["correct"]
        out["attempted"] += base_run["attempted"]
        out["failed"] += base_run["failed"]
        out["metrics"] = _metric_block(layers, LAYER_UNITS)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
