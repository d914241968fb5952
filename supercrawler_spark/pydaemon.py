"""PySpark worker daemon that pre-imports the heavy numeric stack.

Python-UDF workers are forked from the pyspark daemon on first use; each
fresh worker then pays the import of numpy / pandas / pyarrow (several
hundred ms of CPU per worker — with a 32-wide pool forking on the first
UDF stage, ~1-2 s of wall added to whichever query happens to hit the
Python boundary first). Importing those modules HERE, in the daemon
parent BEFORE it starts forking, lets every worker inherit the
already-initialized modules through copy-on-write fork memory: the
per-worker import cost drops to ~0 for the lifetime of the application.
This is the optimization guide's §4.5 ("initialise heavyweight state
once, not per row or per batch") applied one level up, at the worker
process pool itself.

Each worker is one of many on the host (one per core), so the BLAS and
OpenMP thread pools are pinned to one thread before numpy loads them —
a pool per worker sized to the whole host oversubscribes the cores. A
value already set in the environment wins.

Each task also paid a fixed cost of tens of ms for a different reason
(36 ms for 14 importers in an idle process on a 4-vCPU host). Before every
task, Spark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python < 3.12 every ``zipimporter``
then re-reads its archive's whole directory: a worker holds ~16 importers
over ``pyspark.zip`` (one per pyspark sub-package), and the zip has ~1,300
entries. CPython 3.12 only re-reads when the archive changed (gh-103200).
``_guard_zip_rereads`` does the same here: it records each archive's
(mtime_ns, size) when its directory is read and re-reads only when that
stat changes; the importers of an unchanged archive share the one cached
directory. It is installed before the daemon forks, so every worker
inherits it, and it is skipped on 3.12+.

Wired by session.get_spark via ``spark.python.daemon.module`` (local
masters only); any deployment that ships this package to the executors
(--py-files, pip, a cluster image) can use the same conf. The imports are
best-effort so the daemon still comes up on a minimal image without the
numeric stack.
"""

import importlib
import os
import sys

for _var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


def _guard_zip_rereads(version: tuple = sys.version_info) -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's (mtime_ns, size) changed since it
    was last read. Returns whether the guard was installed (never on
    Python 3.12+, whose zipimport already does this)."""
    if version >= (3, 12):
        return False
    import zipimport

    read = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    stamps = {}

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def read_directory(archive):
        # stat before reading: a rewrite during the read leaves an old
        # stamp behind, so the next invalidation reads again
        st = stamp(archive)
        files = read(archive)
        stamps[archive] = st
        return files

    def invalidate_caches(self):
        st = stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if st is not None and st == stamps.get(self.archive) \
                and files is not None:
            self._files = files  # another importer may have re-read it
            return
        invalidate(self)

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read every archive imported from so far once, so each has a stamp
    # before the daemon forks its workers
    importlib.invalidate_caches()
    return True


_guard_zip_rereads()

try:
    import numpy  # noqa: F401,E402
    import pandas  # noqa: F401,E402
    import pyarrow  # noqa: F401,E402
except Exception:  # pragma: no cover - minimal images only
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
