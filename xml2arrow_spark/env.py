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
worker. Besides pinning pyarrow's pools it removes a per-task cost that
looks like fixed Spark overhead but is not: PySpark calls
``importlib.invalidate_caches()`` before every task, and on CPython 3.11
every cached ``zipimporter`` then re-reads its whole archive directory. A
reused worker holds one such finder per package imported from a zip — 12
on ``pyspark.zip`` (~10 ms each), 2 on the spark-core jar (~40 ms each), 2
on py4j — so each task paid ~0.2 s of worker CPU before any engine code
ran. Measured on a 4-core host (Spark 4.1, CPython 3.11), an empty 4-task
``mapInArrow``: worker CPU per task 0.15-0.25 s -> 0.06-0.09 s, op wall
0.32-0.49 s -> 0.20-0.28 s.
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


def task_setup() -> None:
    """Worker-task prologue: call it first in every function Spark runs in a
    Python worker (``mapInArrow``, ``mapInPandas``, ``applyInPandasWithState``).
    Idempotent, cheap (microseconds), worker-reuse-safe. It does two things:

    - Pins pyarrow's CPU and IO pools to one thread. pyarrow defaults both to
      ``os.cpu_count()``; inside a Spark python worker that means every task
      spawns a machine-wide pool and 'single-task' baselines secretly use
      every core. One Spark task is one unit of parallelism; Spark supplies
      the fan-out.
    - Drops duplicate zip finders (:func:`_drop_duplicate_zip_finders`).
    """
    import pyarrow as pa

    if pa.cpu_count() != 1:
        pa.set_cpu_count(1)
    if pa.io_thread_count() != 1:
        pa.set_io_thread_count(1)
    _drop_duplicate_zip_finders()


def _drop_duplicate_zip_finders() -> None:
    """Keep one cached ``zipimporter`` per archive in ``sys.path_importer_cache``.

    Every package imported from a zip caches its own ``zipimporter`` (one per
    ``__path__`` entry), and ``importlib.invalidate_caches()`` — which PySpark
    calls before every task — makes each of them re-read its WHOLE archive
    directory. Keeping the archive's root entry (empty ``prefix``; else the
    first one seen) means the next invalidation reads each archive once.
    Finders re-created later for a dropped path are built from the refreshed
    ``zipimport._zip_directory_cache``, so a rewritten archive is still seen
    after ``invalidate_caches()``. The last finder of an archive is never
    dropped: then nothing would refresh that cache.
    """
    import sys
    from zipimport import zipimporter

    cache = sys.path_importer_cache
    zips = [(k, f) for k, f in cache.items() if isinstance(f, zipimporter)]
    keep: dict[str, str] = {}
    for key, finder in zips:
        if finder.archive not in keep or not finder.prefix:
            keep[finder.archive] = key
    for key, finder in zips:
        if keep[finder.archive] != key:
            cache.pop(key, None)
