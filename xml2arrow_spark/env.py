"""Process-environment tuning for the vectorized kernel hot path.

The encode kernels allocate multi-MB numpy temporaries per block. glibc
malloc services any allocation above ``M_MMAP_THRESHOLD`` (default 128 KB)
with a fresh ``mmap`` and returns it with ``munmap`` on free — so every
block encode round-trips pages through the kernel (zero-fill page faults on
touch, VMA churn, zone-lock contention across workers). Measured on the
32-core sandbox: raising the threshold so large temporaries stay on the
reused heap took the multi-process FOR-kernel aggregate from ~0.5 to ~5.6
BILLION tokens/s — it was the single largest bottleneck in the engine, far
ahead of memory bandwidth.

Call :func:`set_kernel_malloc_env` BEFORE the SparkSession (and therefore
the Python worker daemon) starts; workers inherit the environment. For
cluster deployments, ship the same variables with
``spark.executorEnv.MALLOC_MMAP_THRESHOLD_`` etc. —
:func:`recommended_spark_confs` returns them ready to pass to the builder.

Call :func:`task_setup` first in every function Spark runs in a Python
worker. Besides pinning pyarrow's pools it removes two per-task costs that
look like fixed Spark overhead but are not. A reused worker runs two PySpark
steps between any two tasks:

- ``importlib.invalidate_caches()`` before every task. On CPython 3.11 every
  cached ``zipimporter`` then re-reads its whole archive directory:
  ``pyspark.zip`` (~10 ms), py4j, and the 15 MB spark-core jar (~40 ms).
  Workers import from all three, and each package path caches its own
  finder (12 on ``pyspark.zip`` alone), so a worker re-read them about
  0.2 s of CPU per task. The prologue drops every zip finder, so the next
  invalidation reads nothing.
- the daemon's ``gc.collect()`` after every task. It walks the whole
  import-time heap (~74K objects once the engine is loaded, ~30 ms). The
  prologue freezes that heap with ``gc.freeze()``, so the collection scans
  only objects created since.

Measured on a 4-core host (Spark 4.1, CPython 3.11) with
``tools/worker_overhead_probe.py`` (warm workers, empty 4-task
``mapInArrow`` ops, two runs), median worker CPU between two tasks:
0.15-0.25 s with every finder kept, 76-88 ms with one finder per archive
and nothing frozen, 30-35 ms with only the finders dropped, 48-49 ms with
only the heap frozen, and 2 ms with both.
"""

from __future__ import annotations

import os

__all__ = [
    "KERNEL_MALLOC_ENV",
    "set_kernel_malloc_env",
    "recommended_spark_confs",
    "task_setup",
]

# 1 GiB: effectively "never mmap, never trim" for block-sized temporaries.
# Workers hold a few hundred MB of reusable heap at most (block_rows-bounded).
KERNEL_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def set_kernel_malloc_env() -> None:
    """Set the malloc tuning variables in this process (inherited by local
    Spark's Python workers). No-op for keys the user already set."""
    for key, value in KERNEL_MALLOC_ENV.items():
        os.environ.setdefault(key, value)


def recommended_spark_confs() -> dict[str, str]:
    """Spark confs that propagate the malloc tuning to executor-side Python
    workers on a real cluster (local mode inherits the driver env instead)."""
    return {f"spark.executorEnv.{k}": v for k, v in KERNEL_MALLOC_ENV.items()}


# len(sys.modules) when this process last froze its heap (-1: never);
# process-wide on purpose, like the gc state it tracks
_frozen_at_modules = -1


def task_setup() -> None:
    """Worker-task prologue: call it first in every function Spark runs in a
    Python worker (``mapInArrow``, ``mapInPandas``, ``applyInPandasWithState``).
    Idempotent, cheap (microseconds; ``gc.freeze()`` moves whole generation
    lists), worker-reuse-safe. It does three things:

    - Pins pyarrow's CPU and IO pools to one thread. pyarrow defaults both to
      ``os.cpu_count()``; inside a Spark python worker that means every task
      spawns a machine-wide pool and 'single-task' baselines secretly use
      every core. One Spark task is one unit of parallelism; Spark supplies
      the fan-out.
    - Freezes the import-time heap, only inside a Python worker
      (:func:`_freeze_import_heap`).
    - Drops every cached zip finder (:func:`_drop_zip_finders`), last, so
      no import made by an earlier step leaves one behind.
    """
    import pyarrow as pa

    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
    if pa.io_thread_count() != 1:
        pa.set_io_thread_count(1)
    _freeze_import_heap()
    _drop_zip_finders()


def _drop_zip_finders() -> None:
    """Hold no ``zipimporter`` in ``sys.path_importer_cache`` across tasks,
    and forget each such archive's cached directory.

    PySpark calls ``importlib.invalidate_caches()`` before every task, and
    that makes every cached ``zipimporter`` re-read its WHOLE archive
    directory. With none cached, the invalidation reads nothing.

    Freshness: a finder created later for a dropped path (only an import
    not yet in ``sys.modules`` creates one) finds no entry in
    ``zipimport._zip_directory_cache`` and reads the archive as it is then.
    A rewritten archive is therefore never read stale, with or without an
    ``invalidate_caches()`` call. Modules already imported keep their own
    loader and its directory.
    """
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[key]
            zipimport._zip_directory_cache.pop(finder.archive, None)


def _freeze_import_heap() -> None:
    """``gc.freeze()`` the heap when a Python worker has imported new modules.

    The PySpark daemon runs ``gc.collect()`` after every task, and a full
    collection walks every tracked object: mostly the modules, functions
    and classes the worker imported once. Frozen objects move to the
    permanent generation, which no collection scans.

    The bound: it freezes only when ``len(sys.modules)`` changed since this
    worker's last freeze, so in steady state (no new module) nothing more
    is frozen, and every later task's cyclic garbage is still collected.
    What a freeze also pins is the few objects of the task that triggered
    it, once per set of new modules. The driver and any process outside a
    Spark task (``TaskContext.get()`` is None) are never frozen.
    """
    global _frozen_at_modules
    import gc
    import sys

    from pyspark import TaskContext

    n = len(sys.modules)
    if n != _frozen_at_modules and TaskContext.get() is not None:
        _frozen_at_modules = n
        gc.freeze()
