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

Wired by session.get_spark via ``spark.python.daemon.module``; any
deployment that ships this package to the executors (--py-files, pip,
a cluster image) can use the same conf. The imports are best-effort so
the daemon still comes up on a minimal image without the numeric stack.
"""

import os

for _var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

try:
    import numpy  # noqa: F401,E402
    import pandas  # noqa: F401,E402
    import pyarrow  # noqa: F401,E402
except Exception:  # pragma: no cover - minimal images only
    pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
