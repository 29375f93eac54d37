"""File-level scan planning for the pyarrow-native encode path.

Why this exists: ``mapInArrow`` over a JVM parquet scan pays a
columnar->row->Arrow double conversion at the Python boundary (Spark's
``PythonMapInArrow`` feeds from row iterators). For an engine whose entire
data plane is vectorized Arrow kernels, that boundary dominates — measured
~20-30x slower than letting the Python worker read the parquet bytes
directly. So the flagship encode path ships *file splits*, not rows, through
Spark: the driver plans size-balanced file tasks (this module), executors
open the files with pyarrow and go parquet -> Arrow -> numpy kernels with
zero JVM row materialization.

This mirrors the reference's split between compile-once plan and streaming
execution (``Parser::new`` vs ``Parser::parse``,
/root/reference/src/xml_parser.rs:763-806): planning is a driver-side pure
function over file metadata; per-file state lives entirely in the task.

Every file job runs through ONE runner, :func:`map_tasks`: the driver
plans the units (LPT file bins, or any other per-task list), and
``spark.range(0, n, 1, n).mapInArrow`` runs unit i alone in partition i,
with the unit list pickled in the worker closure. A file worker is only
its per-unit body; the runner calls ``task_setup()`` for all of them.

Scale notes (1000-executor / 100 TB):

- The unit list is one ``(file_idx, path)`` per FILE — KB-scale per
  thousand files; it ships names, never payload, and PySpark broadcasts
  it once the pickled command passes 1 MB.
- Balance uses greedy LPT (longest-processing-time) bin-packing on file
  size: deterministic, O(F log F) on the driver, bounds the makespan at
  4/3 OPT. At 100 TB with row-group-sized files this is what keeps stragglers
  off the encode stage without touching the data.
- ``file_idx`` is a stable unit id (position in the sorted file list), the
  checkpoint/resume key: a resume drops completed files from the listing
  on the driver before the LPT, and the rest keep their ``file_idx``.
"""

from __future__ import annotations

import functools
import os
import pickle

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "BlockWalk",
    "local_frame",
    "map_tasks",
    "parquet_file_infos",
    "plan_parquet_tasks",
    "scan_map_arrow",
]


def map_tasks(spark: SparkSession, units: list, fn, schema) -> DataFrame:
    """The one file-task runner: a DataFrame (``schema``, a StructType or
    a DDL string, parsed once per process) of every ``fn(unit)``'s record
    batches, with ``units[i]`` run alone in Spark partition i by a worker
    that calls ``task_setup()`` first. ``units`` (LPT file bins, token
    slices) and ``fn`` travel pickled in the worker closure; PySpark
    broadcasts a command over 1 MB, so a long unit list does not bloat
    every task.

    ``spark.range(0, n, 1, n)`` pins id i to partition i, JVM-side, with
    no Python RDD and no Generate. Shapes that look simpler are wrong:

    - A per-op SQL literal (the units as base64 JSON, ``from_json`` and
      ``inline`` over ``range``) keeps the placement, but Catalyst parses,
      resolves and constant-folds it on every op, and the JIT keeps
      compiling that driver-side code: 59 against 44 py4j commands for a
      ``decode_dataset`` plus count, 84 against 66 for a ``count_where``
      above the valve (4-core host, BENCH/OP_THREADS.md).
    - ``createDataFrame`` over ``parallelize(rows, n)`` is a Python RDD:
      every task then starts a SECOND Python worker session (for
      PySpark's row conversion) before the real ``mapInArrow`` session,
      ~0.26 s of worker CPU each.
    - ``createDataFrame(pyarrow.Table)`` plans as a LocalRelation, whose
      partition count is capped at ``defaultParallelism`` (8 rows landed
      2 per partition on 4 partitions).
    - Hash-repartitioning k unit ids into k partitions leaves ~1/e of
      them empty and stacks 2-3 units on others (measured: capped 4-core
      scaling at 1.2x)."""
    def run(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from fn(units[i])

    if isinstance(schema, str):
        schema = _arrow_schema(schema)[0]
    n = len(units)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(run, schema)


def parquet_file_infos(path: str) -> list[tuple[str, int]]:
    """[(absolute file path, size bytes)] for every ``*.parquet`` under
    ``path`` (a file or a directory), sorted by path for determinism.

    Local filesystem walk — the sandbox stand-in for the Iceberg/Hive file
    manifest; on a real catalog this is one metadata-table read.
    """
    path = path.removeprefix("file:")
    if os.path.isfile(path):
        return [(path, os.path.getsize(path))]
    infos: list[tuple[str, int]] = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                full = os.path.join(root, name)
                infos.append((full, os.path.getsize(full)))
    infos.sort()
    if not infos:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return infos


def _lpt_assign(sizes: list[int], n_tasks: int) -> list[int]:
    """Greedy LPT: largest size -> currently-lightest bin. Returns the bin id
    per input index. Pure, deterministic (ties break on bin id)."""
    import heapq

    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    heap = [(0, b) for b in range(n_tasks)]
    heapq.heapify(heap)
    assignment = [0] * len(sizes)
    for i in order:
        load, b = heapq.heappop(heap)
        assignment[i] = b
        heapq.heappush(heap, (load + sizes[i], b))
    return assignment


def plan_parquet_tasks(
    spark: SparkSession, path: str, n_tasks: int | None = None
) -> list[list[tuple[int, str]]]:
    """The file tasks of ``path``: ``n_tasks`` size-balanced LPT bins, each
    a list of ``(file_idx, path)``, ready for :func:`map_tasks` (bin i runs
    alone in partition i). ``file_idx`` is the stable per-file unit id
    used for checkpoint lineage."""
    return _plan_tasks(spark, parquet_file_infos(path), n_tasks)


def _plan_tasks(
    spark: SparkSession, infos, n_tasks: int | None, skip=frozenset()
) -> list[list[tuple[int, str]]]:
    """:func:`plan_parquet_tasks` over an already-listed ``infos``, leaving
    out the ``file_idx`` values in ``skip`` (a resume's done units) before
    the LPT; the files that remain keep their ``file_idx``."""
    todo = [(i, p, s) for i, (p, s) in enumerate(infos) if i not in skip]
    if n_tasks is None:
        n_tasks = max(spark.sparkContext.defaultParallelism, 1)
    n_tasks = min(n_tasks, len(todo))
    bins: list[list[tuple[int, str]]] = [[] for _ in range(n_tasks)]
    for (i, p, _s), b in zip(todo, _lpt_assign([s for *_, s in todo], n_tasks)):
        bins[b].append((i, p))
    return [b for b in bins if b]


def scan_map_arrow(
    spark: SparkSession,
    path: str,
    fn,
    output_ddl: str,
    columns: list[str] | None = None,
    n_tasks: int | None = None,
) -> DataFrame:
    """Generic fused scan+map: plan balanced file tasks, have each Python
    worker read its parquet splits with pyarrow (column-pruned) and stream
    record batches through ``fn(batch) -> iterator[RecordBatch]``.

    The generalization of the fused encode path to ANY vectorized operator:
    no JVM row materialization on the input side — the boundary that costs
    20-30x on payload-heavy columns (module doc above). ``fn`` must be a
    plain function (it is pickled to workers).
    """
    def scan(files):
        import pyarrow.parquet as pq

        for _i, fpath in files:
            pf = pq.ParquetFile(fpath)
            for batch in pf.iter_batches(batch_size=65536, columns=columns):
                yield from fn(batch)

    return map_tasks(spark, plan_parquet_tasks(spark, path, n_tasks), scan,
                     output_ddl)


@functools.lru_cache(maxsize=256)
def _arrow_schema(ddl: str):
    """(Spark StructType, pyarrow Schema) of a DDL string, parsed once per
    driver process: a parse is a py4j call into the JVM's SQL parser, and
    the ops that need one run the same few DDLs again and again. Needs an
    active SparkContext, so resolve it driver-side; the pa.Schema pickles.
    Callers must not mutate the shared results."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def _arrow_batch(schema, rows) -> pa.RecordBatch:
    """Row tuples (one value per field of ``schema``) as one RecordBatch."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def local_frame(spark: SparkSession, ddl: str, rows) -> DataFrame:
    """Row tuples under ``ddl`` as an Arrow-backed LocalRelation — the
    driver-local finish of every metadata aggregate. It plans as a
    LocalTableScan and collects in ~30 ms; a python-list
    ``createDataFrame`` is RDD-backed (~0.3 s Spark job per action) and
    even ``range(1).select(lit(...))`` pays a 1-task job (~0.15 s)."""
    struct, schema = _arrow_schema(ddl)
    return spark.createDataFrame(
        pa.Table.from_batches([_arrow_batch(schema, rows)]), schema=struct
    )


# The most groups the per-file partials of a keyed fold (group_count,
# group_aggs) may hold, by the metadata bound, for a walk above the valve to
# fold them on the driver (:meth:`BlockWalk.folds_on_driver`) instead of
# combining them in Spark. Set at the crossover measured on a 4-core host
# (8 files of disjoint int keys, bound = groups): at 2^13 the driver fold
# of group_sum took 580 ms of process-tree CPU against the combine's 920,
# at 2^14 it ran longer in wall time (538 against 449 ms) and at 2^15 it
# lost on CPU too (1,330 against 1,230 ms).
DRIVER_FOLD_GROUPS = 1 << 13

# The most blocks files whose groups the driver pre-pass bounds; a longer
# listing combines in Spark without it. The pre-pass reads one file at a
# time, at about 0.9 ms each on the same host (4 blocks per file), while
# the driver fold saves a job stage: with the pre-pass, group_sum ran
# 188 against 230 ms wall over 32 files, 315 against 226 over 128 and
# 1,009 against 529 over 512.
DRIVER_FOLD_FILES = 64


class BlockWalk:
    """The one executor of the metadata aggregates over a stored dataset's
    ``blocks/`` tree (count_where, group_count, group_aggs, top_k,
    time_bucket_count and the sketches walks). An operator supplies only
    its own logic — a per-file routine ``per_file(path, pyarrow.parquet)``
    that classifies blocks pruned / interior / boundary and folds what
    survives, plus its driver fold and finish — and the walk supplies the
    rest:

    - **One size decision.** ``local`` is True when the tree's files total
      at most ``local_bytes`` (a conservative stand-in for what the stat
      reads could touch). A metadata-scale dataset then answers
      DRIVER-SIDE: a cluster job to scan kilobytes of block stats costs
      more than the scan (the KB-metadata ground rule). ``local_bytes=0``
      forces the distributed path.
    - **Every file's partial, on either path** (:meth:`partials`): the
      driver loop, or one fan-out job whose partials come back pickled —
      so an op with a bounded partial per file has ONE driver fold.
    - **One bound for keyed partials** (:meth:`folds_on_driver`): a keyed
      fold's partials hold O(groups) per file, so above the valve they
      fold on the driver only when block metadata bounds their groups by
      :data:`DRIVER_FOLD_GROUPS` over at most :data:`DRIVER_FOLD_FILES`
      files; past either bound the op combines the rows in Spark, which
      is faster there and whose driver memory does not grow with the
      number of groups.
    - **One fan-out** (:meth:`fan_out`) plans file tasks from the same
      listing (one tree walk per op) and runs the identical ``per_file``
      on each bin through :func:`map_tasks`.
    """

    def __init__(self, out_path: str, local_bytes: int):
        self.infos = parquet_file_infos(os.path.join(out_path, "blocks"))
        self.local = sum(s for _p, s in self.infos) <= local_bytes

    def folds_on_driver(self, file_groups) -> bool:
        """True when a keyed fold may fold every file's partial on the
        driver (:meth:`partials`): always on the local path, which runs no
        pre-pass; above the valve, when ``file_groups(path,
        pyarrow.parquet)`` — an upper bound on the groups one file's
        partial holds, read off block metadata without payload bytes —
        sums to at most :data:`DRIVER_FOLD_GROUPS` over the files. The
        pre-pass runs on the driver in listing order and stops at the
        first file that takes the sum past the cap. A listing of more
        than :data:`DRIVER_FOLD_FILES` files runs none and combines."""
        if self.local:
            return True
        if len(self.infos) > DRIVER_FOLD_FILES:
            return False
        import pyarrow.parquet as pq

        total = 0
        for fp, _s in self.infos:
            total += file_groups(fp, pq)
            if total > DRIVER_FOLD_GROUPS:
                return False
        return True

    def partials(
        self, spark: SparkSession, per_file, n_tasks: int | None = None
    ):
        """Every file's ``per_file(path, pyarrow.parquet)`` result, ready
        for a driver-side fold.

        When ``local``, a lazy driver loop over the files IN ORDER.
        Deliberately SEQUENTIAL: a ThreadPoolExecutor variant was
        measured at sf1.0/local[32] and made every metadata-aggregate local
        dispatch ~2x SLOWER (group_sum 0.63 s -> 1.63 s, count_where[str]
        0.37 s -> 1.37 s, group_aggs 1.5 s -> 2.4 s): the per-file work is
        dominated by many SMALL per-block numpy/python steps that hold the
        GIL, so threads only add contention.

        Otherwise ONE fan-out job, run before this returns: each file
        ships its partial pickled as one ``p binary`` row and the driver
        unpickles it, so the fold sees the same Python objects on both
        paths and no op declares a partial schema. The rows arrive in
        task order, not file order, so the fold must not depend on order.
        Only for bounded partials (a keyed fold asks
        :meth:`folds_on_driver` first); ``per_file`` and its result must
        pickle."""
        import pyarrow.parquet as pq

        if self.local:
            return (per_file(fp, pq) for fp, _s in self.infos)
        rows = self.fan_out(
            spark, per_file, lambda part: [(pickle.dumps(part),)],
            "p binary", n_tasks,
        ).collect()
        return [pickle.loads(r[0]) for r in rows]

    def fan_out(
        self, spark: SparkSession, per_file, to_rows, ddl: str,
        n_tasks: int | None = None,
    ) -> DataFrame:
        """DataFrame (schema ``ddl``) of every file's partial: each file
        task runs ``per_file(path, pyarrow.parquet)`` on its files and
        ships ``to_rows(partial)`` — row tuples under ``ddl``; an empty
        result ships nothing. The caller combines the rows in Spark, or
        :meth:`partials` collects them. ``per_file`` and ``to_rows`` must
        pickle."""
        struct, schema = _arrow_schema(ddl)

        def walk_files(files):
            import pyarrow.parquet as pq

            for _i, fpath in files:
                rows = to_rows(per_file(fpath, pq))
                if rows:
                    yield _arrow_batch(schema, rows)

        return map_tasks(spark, _plan_tasks(spark, self.infos, n_tasks),
                         walk_files, struct)
