"""Custom PySpark worker daemon: remove the fixed costs of a Python task.

Python workers are forked from the daemon process per task slot, and a
forked worker is reused across tasks. Three costs would otherwise be paid
before a UDF touches a row, and a fourth after it returns:

- **Module import, once per worker.** A fresh worker imports
  numpy/pandas/pyarrow and this package on first UDF deserialization —
  on virtualized kernels where page faults are ~1000x slower than usual,
  that import chain costs seconds to tens of seconds PER WORKER
  (observed: 41 s worker init for a cold worker). Importing everything
  here, in the daemon, means every forked worker inherits the
  already-imported modules (copy-on-write, code pages shared): worker
  init drops to milliseconds.
- **Acero set-up, once per worker.** The first ``Table.group_by`` in a
  process (the grouped sketch partial pass) costs ~30 ms more than the
  next. With 8 workers taking tasks in turn, that lands in whichever
  task first groups a batch on each worker, so a query's cost drifts
  over its first runs. ``_warm_kernels`` pays it here, before forking.
- **The zip re-read, once per task.** ``pyspark.worker`` calls
  ``importlib.invalidate_caches()`` at the start of every task (in
  ``worker_util.setup_spark_files``). On CPython 3.11 that makes every
  ``zipimporter`` on ``sys.path`` eagerly re-read its archive's central
  directory — about 16 importers over ``pyspark.zip``'s 1,328 entries,
  for an archive that has not changed. On a 4-core VM an empty
  ``mapInPandas`` task cost ~0.35 CPU-s with the re-read, ~0.11 without.
  ``_cache_zip_directories`` makes that re-read happen only when the
  archive's ``(st_mtime_ns, st_size)`` differs from the last read, and
  the daemon primes the stamps before it forks, so every worker starts
  with a warm cache. A rewritten or re-added archive (``addPyFile``) is
  still re-read, and directory finders are still invalidated as before.
- **A full collection, once per task.** pyspark's daemon loop calls
  ``gc.collect()`` in a reused worker after every task (``manager`` in
  ``pyspark/daemon.py``: ``while True: code = worker(...); ...;
  gc.collect()``). That walks every object the worker inherited from the
  imports above, ~76,000 of them: 34-54 ms of CPU per task on a 4-core
  VM, after the task has sent its result, so no task time shows it.
  ``gc.freeze()`` just before ``manager()`` moves the preloaded heap to
  the permanent generation, which collections skip: a worker then holds
  ~230 collectable objects and its post-task collection takes ~0.1 ms.
  An empty 4-task ``mapInArrow`` job's worker CPU went from 0.17-0.18
  to 0.01 CPU-s. What a task allocates is collected as before.

Enabled via ``spark.python.daemon.module=datasketches_rust_spark.daemon``
in config.spark_session — a standard public Spark config.
"""

import gc
import importlib
import os
import zipimport

import numpy                      # noqa: F401
import pandas                     # noqa: F401
import pyarrow                    # noqa: F401

import datasketches_rust_spark    # noqa: F401  (also applies mallopt tuning)
# the kernels the UDFs touch, so their module-level state is pre-faulted
from datasketches_rust_spark import agg, hashing            # noqa: F401
from datasketches_rust_spark.functions import text          # noqa: F401
from datasketches_rust_spark.sketches import (bloom, countmin,  # noqa: F401
                                              frequencies, hll, minhash,
                                              simhash, tdigest, theta)

from pyspark.daemon import manager


def _cache_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since the last read; otherwise
    re-point the importer at the shared ``_zip_directory_cache`` entry."""
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _warm_kernels() -> None:
    """Pay here, once, the set-up a process does on its first Acero
    group-by (the grouped partial pass, ``agg.row_groups``). On a 4-core
    VM a forked worker's first group-by took ~35 ms without this and
    ~4 ms with it (later ones under 1 ms), so no worker pays the set-up
    in whichever task it first groups a batch."""
    batch = pyarrow.record_batch({"k": ["a", None, "a"]})
    for _ in agg.row_groups(batch, ["k"]):
        pass


if __name__ == "__main__":
    _warm_kernels()
    _cache_zip_directories()
    # one read per archive here, so forked workers inherit warm stamps
    importlib.invalidate_caches()
    # last, so everything above is frozen too; not at import, which
    # would freeze the heap of any process that imports this module
    gc.freeze()
    manager()
