"""SnapshotStore commits: tables written side by side, atomically."""

import threading
import time

import pytest
from pyspark.sql import functions as F


def test_run_concurrently_keeps_order_and_waits_before_raising(spark):
    from supercrawler_spark.storage import run_concurrently

    assert run_concurrently(spark, []) == []
    assert run_concurrently(spark, [lambda: 1]) == [1]
    finished = []

    def slow():
        time.sleep(0.3)
        finished.append(threading.current_thread().name)
        return "slow"

    def boom():
        raise ValueError("boom")

    assert run_concurrently(spark, [slow, lambda: "fast"]) == ["slow", "fast"]
    finished.clear()
    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, [boom, slow])
    # the failure surfaced only after the other thunk had finished: no
    # thread outlives the call
    assert len(finished) == 1


def test_commit_tags_jobs_with_the_callers_group(spark, tmp_path):
    """Every table of a commit is written, from worker threads that carry
    the caller's job group, and the manifest lists all of them."""
    from supercrawler_spark.storage import SnapshotStore

    sc = spark.sparkContext
    st = SnapshotStore(str(tmp_path / "snaps"))
    tables = {f"t{i}": spark.range(0, 10 * (i + 1), 1, 2) for i in range(3)}
    sc.setJobGroup("commit-under-test", "commit-under-test")
    try:
        version = st.commit(tables, meta={"k": 1})
    finally:
        sc.setJobGroup("after-test", "after-test")
    assert version == 0
    assert sorted(st.read_manifest()["tables"]) == ["t0", "t1", "t2"]
    for i in range(3):
        assert st.load(spark, f"t{i}").count() == 10 * (i + 1)
    assert len(sc.statusTracker().getJobIdsForGroup("commit-under-test")) >= 3


def test_commit_failure_leaves_previous_version(spark, tmp_path):
    """A table whose write fails fails the commit: the manifest still
    names the previous version, and no write is left running."""
    from supercrawler_spark.storage import SnapshotStore

    st = SnapshotStore(str(tmp_path / "snaps"))
    st.commit({"t": spark.range(3)})

    @F.udf("long")
    def fail(x):
        raise RuntimeError("write fails")

    bad = spark.range(4).select(fail("id").alias("id"))
    with pytest.raises(Exception, match="write fails"):
        st.commit({"good": spark.range(5), "bad": bad})
    assert st.read_manifest()["version"] == 0
    assert st.load(spark, "t").count() == 3
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
