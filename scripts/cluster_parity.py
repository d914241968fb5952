"""Crawl-vs-oracle PARITY under a true multi-executor cluster.

Submits scripts/submit_parity.py (full SparkCrawler vs the Python
reference oracle, both queue disciplines) via `spark-submit --py-files`
onto a `local-cluster[N,cores,mem]` master — N separate executor JVMs —
and appends the result to BENCH/cluster_parity.jsonl. This is the
correctness companion to scripts/cluster_scaling.py (throughput): the
north rule's "matching crawl ordering and URL-seen set ... run via
spark-submit --py-files on a multi-executor cluster" clause, evidenced
end to end. No timing is recorded — parity is calibration-independent,
so host weather cannot invalidate a run.

The cluster is sized to the host like cluster_scaling.py's (whose
arithmetic it imports): CORES-core executors (1 by default,
SC_EXEC_CORES overrides), the executors together taking at most half of
physical RAM (SC_EXEC_MEM_MB overrides the per-executor grant), and the
driver heap from ``session._default_driver_memory()``.

Usage: python scripts/cluster_parity.py [n_exec]   (default 2)
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

from cluster_scaling import (CORES, _ensure_zip, _exec_mem_mb, _heap_mb,
                             _submit_args)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LOG = os.path.join(REPO, "BENCH", "cluster_parity.jsonl")


def _submit(n_exec: int, extra_env: dict | None = None) -> dict:
    env = {**os.environ, **(extra_env or {})}
    out = subprocess.run(
        _submit_args(n_exec, _exec_mem_mb(n_exec), "submit_parity.py"),
        capture_output=True, text=True, timeout=1200, cwd=REPO, env=env)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from spark-submit: {out.stderr[-2000:]}")


def submit_parity(n_exec: int) -> dict:
    return _submit(n_exec)


def submit_resume(n_exec: int) -> dict:
    """Checkpoint/resume across two separate spark-submit invocations:
    the first JVM (driver + executors) seeds, crawls 3 cycles with
    per-cycle snapshots into a shared workdir, and DIES; a brand-new
    submission resumes from the parquet snapshot and must converge to
    the exact final frontier state of an uninterrupted crawl."""
    import tempfile
    workdir = tempfile.mkdtemp(prefix="sc_cluster_resume_")
    first = _submit(n_exec, {"SC_PARITY_PHASE": "resume_first",
                             "SC_PARITY_WORKDIR": workdir})
    second = _submit(n_exec, {"SC_PARITY_PHASE": "resume_second",
                              "SC_PARITY_WORKDIR": workdir})
    return {"first": first, "second": second,
            "all_match": bool(second.get("all_match"))}


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    with_resume = os.environ.get("SC_PARITY_RESUME", "1") != "0"
    _ensure_zip()
    res = submit_parity(n)
    rec = {
        "ts": datetime.datetime.now().strftime("%Y-%m-%dT%H:%M:%S"),
        "mode": "local-cluster multi-executor parity (spark-submit --py-files)",
        "executor_spec": (f"{CORES} cores / "
                          f"{_heap_mb(_exec_mem_mb(n))}m each"),
        **res,
    }
    if with_resume:
        rec["resume_across_jvm_lifetimes"] = submit_resume(n)
        rec["all_match"] = bool(
            rec["all_match"]
            and rec["resume_across_jvm_lifetimes"]["all_match"])
    with open(LOG, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
