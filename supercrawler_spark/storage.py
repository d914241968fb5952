"""Snapshot table store — "Iceberg-lite" on plain parquet + a JSON manifest.

The north rule targets Iceberg tables with per-cycle snapshot commits and
checkpoint/resume. The sandbox has no Iceberg runtime jar, so this module
emulates the snapshot contract with identical semantics (documented switch,
SURVEY.md §7d):

- every commit writes a NEW versioned parquet directory (never in-place)
- the manifest JSON is written last via atomic rename → a crashed commit is
  invisible and the table resumes from the previous snapshot
- each snapshot records lineage metadata (cycle id, row counts, metrics)

On a real cluster, ``SnapshotStore.commit`` becomes ``MERGE INTO`` /
``writeTo(...).append()`` on an Iceberg catalog table and ``resume`` becomes
snapshot time-travel; the engine code paths do not change shape.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _read(spark: SparkSession, path: str,
          schema: T.StructType | None) -> DataFrame:
    """A parquet table read with the caller's ``schema`` when it knows it:
    reading without one runs a job that infers the schema from the file
    footers."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def run_concurrently(spark: SparkSession, thunks: list) -> list:
    """Call each zero-argument callable on a thread of its own and return
    their results in order once every one has finished; the first failure
    is raised after the others end. Each thread carries the caller's Spark
    local properties (job group, scheduler pool) and ``spark``'s job tags,
    so the jobs it starts are tagged as if the caller ran them. A commit's
    writes are small jobs whose cost is mostly driver-side (planning, the
    output committer's renames): side by side, those fixed costs overlap."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from pyspark import inheritable_thread_target
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
    return [f.result() for f in futures]


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def read_manifest(self) -> dict | None:
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # -- snapshots ---------------------------------------------------------
    def commit(self, tables: dict[str, DataFrame], meta: dict | None = None,
               keep_last: int = 3) -> int:
        """Write a new snapshot version containing the given tables, side
        by side (``run_concurrently``); the manifest is written only after
        every table is. Returns the committed version number."""
        prev = self.read_manifest()
        version = (prev["version"] + 1) if prev else 0
        vdir = os.path.join(self.root, f"v{version:06d}")
        paths = {name: os.path.join(vdir, name) for name in tables}
        run_concurrently(
            next(iter(tables.values())).sparkSession if tables else None,
            [(lambda df=df, path=paths[name]:
              df.write.mode("overwrite").parquet(path))
             for name, df in tables.items()])
        manifest = {
            "version": version,
            "committed_at": time.time(),
            "tables": paths,
            "meta": meta or {},
        }
        # per-version manifest copy inside the version dir: makes every
        # retained snapshot self-describing, so time-travel reads
        # (load_as_of) work without a central history log — the Iceberg
        # snapshot-metadata analog
        with open(os.path.join(vdir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        self._write_manifest(manifest)
        self._gc(version, keep_last)
        return version

    # -- time travel -------------------------------------------------------
    def versions(self) -> list[int]:
        """Retained snapshot versions, oldest first (older ones are GC'd
        by keep_last at commit time)."""
        out = []
        for entry in os.listdir(self.root):
            if entry.startswith("v") and entry[1:].isdigit() and \
                    os.path.exists(os.path.join(self.root, entry,
                                                "manifest.json")):
                out.append(int(entry[1:]))
        return sorted(out)

    def manifest_as_of(self, version: int) -> dict | None:
        path = os.path.join(self.root, f"v{version:06d}", "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def load_as_of(self, spark: SparkSession, name: str, version: int,
                   schema: T.StructType | None = None) -> DataFrame | None:
        """Read table ``name`` AS OF a retained snapshot version — the
        Iceberg time-travel analog (`VERSION AS OF`). Returns None if the
        version was GC'd or never carried that table."""
        m = self.manifest_as_of(version)
        if m is None or name not in m.get("tables", {}):
            return None
        return _read(spark, m["tables"][name], schema)

    def _gc(self, current: int, keep_last: int) -> None:
        for entry in os.listdir(self.root):
            if entry.startswith("v") and entry[1:].isdigit():
                if int(entry[1:]) <= current - keep_last:
                    shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

    def load(self, spark: SparkSession, name: str,
             schema: T.StructType | None = None) -> DataFrame | None:
        """Table ``name`` of the current snapshot, read with ``schema``
        when given (no schema-inference job), or None."""
        manifest = self.read_manifest()
        if manifest is None or name not in manifest["tables"]:
            return None
        return _read(spark, manifest["tables"][name], schema)


class AppendLog:
    """Append-only parquet log (crawl events / metrics — SURVEY.md S7/A5).
    Each append is its own directory part; reads union all parts."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._n = len([e for e in os.listdir(root) if e.startswith("part-")])

    def append(self, df: DataFrame) -> None:
        path = os.path.join(self.root, f"part-{self._n:06d}")
        df.write.mode("overwrite").parquet(path)
        self._n += 1

    def read(self, spark: SparkSession) -> DataFrame | None:
        parts = sorted(
            os.path.join(self.root, e) for e in os.listdir(self.root) if e.startswith("part-")
        )
        if not parts:
            return None
        return spark.read.parquet(*parts)
