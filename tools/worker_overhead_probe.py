#!/usr/bin/env python
"""Between-task CPU of reused Python workers, and what each step of the
worker-task prologue (``xml2arrow_spark/env.py::task_setup``) saves.

A reused PySpark worker runs two steps between any two tasks whose cost
grows with worker state: ``importlib.invalidate_caches()`` re-reads the
archive of every cached zip finder, and the daemon's ``gc.collect()`` walks
every unfrozen object. ``task_setup`` drops the finders and freezes the
import-time heap. This probe makes that layer visible without the full
benchmark.

One local session: a warm-up encode/decode (loads the engine into the
workers), then four arms of ``--ops`` empty 4-task ``mapInArrow`` ops. Each
task reads the worker's CPU time at its start and at its end; the gap to
the same worker's previous task end is its between-task CPU. The arms run
in this order, because each one leaves the worker state the next starts
from:

- ``task_setup``: the probe calls ``task_setup()`` (both steps).
- ``no_drop``: one zip finder per archive on ``sys.path`` is put back (the
  state the previous prologue kept), and only the freeze step runs.
- ``neither``: the heap is unfrozen (``gc.unfreeze()``); no step runs.
- ``no_freeze``: only the finder drop runs.

A worker's first task in an arm makes that switch and is left out of the
statistics. Prints one JSON line: per arm the median and range of
between-task worker CPU per task (ms), the zip finders seen at the
prologue, the saving of each step against ``neither``, and for the
``task_setup`` arm the freeze count per worker pid.

Usage: python tools/worker_overhead_probe.py [--ops 12] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARMS = ("task_setup", "no_drop", "neither", "no_freeze")
DDL = "arm string, pid long, gap_ms double, zips long, frozen long"


def _probe_fn(arm: str, state_dir: str):
    """The worker fn of one arm; ``state_dir`` keeps each worker's last arm
    and task-end CPU time across tasks (one small JSON file per pid)."""

    def probe(batches):
        import gc
        import time
        import zipimport

        import pyarrow as pa

        start = time.process_time()
        from xml2arrow_spark import env

        path = os.path.join(state_dir, str(os.getpid()))
        try:
            with open(path) as f:
                last = json.load(f)
        except FileNotFoundError:
            last = None
        steady = last is not None and last["arm"] == arm
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        if arm == "task_setup":
            env.task_setup()
        elif arm == "no_drop":
            if not steady:
                for p in sys.path:
                    if os.path.isfile(p) and p not in sys.path_importer_cache:
                        try:
                            sys.path_importer_cache[p] = zipimport.zipimporter(p)
                        except zipimport.ZipImportError:
                            pass
            env._freeze_import_heap()
        elif arm == "neither":
            if not steady:
                gc.unfreeze()
        else:
            env._drop_zip_finders()
        for _ in batches:
            pass
        row = {
            "arm": arm,
            "pid": os.getpid(),
            "gap_ms": (start - last["end"]) * 1e3 if steady else None,
            "zips": zips,
            "frozen": gc.get_freeze_count(),
        }
        with open(path, "w") as f:
            json.dump({"arm": arm, "end": time.process_time()}, f)
        yield pa.RecordBatch.from_pylist([row], schema=pa.schema([
            ("arm", pa.string()), ("pid", pa.int64()), ("gap_ms", pa.float64()),
            ("zips", pa.int64()), ("frozen", pa.int64()),
        ]))

    return probe


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ops", type=int, default=12, help="empty ops per arm")
    ap.add_argument("--cores", type=int, default=4, help="local[N]")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from xml2arrow_spark.env import set_kernel_malloc_env

    set_kernel_malloc_env()
    from pyspark.sql import SparkSession

    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators import decode_table, encode_table
    from xml2arrow_spark.sources import tokens_dataframe

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = tokens_dataframe(spark, 20_000, n_partitions=4)
        blocks = encode_table(df, CodecManifest.auto_for(df.schema))
        decode_table(
            blocks, "doc_id string, tokens array<int>, n_tok int, source string"
        ).count()
        rows = []
        with tempfile.TemporaryDirectory() as state_dir:
            for arm in ARMS:
                fn = _probe_fn(arm, state_dir)
                for _ in range(args.ops):
                    rows += spark.range(0, 4, 1, 4).mapInArrow(fn, DDL).collect()
    finally:
        spark.stop()

    out: dict = {"ops_per_arm": args.ops, "tasks_per_op": 4, "cores": args.cores}
    gaps, zips = {}, {}
    for arm in ARMS:
        steady = [r for r in rows if r.arm == arm and r.gap_ms is not None]
        g = sorted(r.gap_ms for r in steady)
        gaps[arm] = {
            "median": round(statistics.median(g), 1) if g else None,
            "min": round(g[0], 1) if g else None,
            "max": round(g[-1], 1) if g else None,
            "n": len(g),
        }
        zips[arm] = sorted({r.zips for r in steady})
    out["between_task_cpu_ms"] = gaps
    base = gaps["neither"]["median"]
    out["saved_ms_vs_neither"] = {
        step: round(base - gaps[arm]["median"], 1)
        if base is not None and gaps[arm]["median"] is not None else None
        for step, arm in (
            ("drop", "no_freeze"), ("freeze", "no_drop"), ("both", "task_setup")
        )
    }
    out["zip_finders_at_prologue"] = zips
    frozen: dict[str, set] = {}
    for r in rows:
        if r.arm == "task_setup" and r.gap_ms is not None:
            frozen.setdefault(str(r.pid), set()).add(r.frozen)
    out["freeze_count_per_pid"] = {p: sorted(v) for p, v in sorted(frozen.items())}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
