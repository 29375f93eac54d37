"""Fused pyarrow scan+encode path: planning balance, roundtrip equality,
parity with the DataFrame encode path, and driver-side manifest resolution.

Mirrors the reference's file-level integration tests
(/root/reference/tests/integration_tests.rs:27-113): whole-file in, exact
columnar values out.
"""

from __future__ import annotations

import ast
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.encode import (
    decode_table,
    encode_parquet,
    encode_parquet_tasks,
    encode_table,
    resolve_manifest_parquet,
)
from xml2arrow_spark.sources.files import (
    _lpt_assign,
    _plan_tasks,
    map_tasks,
    parquet_file_infos,
    plan_parquet_tasks,
)
from xml2arrow_spark.sources.tokens import generate_tokens_arrow, tokens_dataframe

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture(scope="module")
def token_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tokdir"))
    for i in range(7):
        tbl = generate_tokens_arrow(400 + 150 * i, variant="uniform_vocab",
                                    seed=100 + i, start_id=10_000 * i)
        pq.write_table(tbl, os.path.join(d, f"part-{i}.parquet"))
    return d


def test_lpt_assignment_balances_sizes():
    sizes = [100, 90, 30, 30, 25, 20, 10, 5]
    bins = _lpt_assign(sizes, 3)
    loads = [0, 0, 0]
    for i, b in enumerate(bins):
        loads[b] += sizes[i]
    # optimal makespan is 105; LPT guarantees <= 4/3 OPT
    assert max(loads) <= 140
    assert len(set(bins)) == 3


def test_parquet_file_infos_lists_sorted(token_dir):
    infos = parquet_file_infos(token_dir)
    assert len(infos) == 7
    assert [p for p, _ in infos] == sorted(p for p, _ in infos)
    assert all(s > 0 for _, s in infos)


def _python_rdd_free(df) -> bool:
    """No Python RDD in ``df``'s physical lineage: each one costs every
    task a second Python worker session before any mapInArrow runs."""
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


def _per_partition(df, *aggs) -> dict[int, tuple]:
    # JVM-side (df.rdd.glom() would itself add a Python RDD)
    return {
        r[0]: tuple(r[1:])
        for r in df.groupBy(F.spark_partition_id()).agg(*aggs).collect()
    }


def _file_ids():
    """A file worker that opens nothing and ships the ``file_idx`` of its
    bin (a local def: workers cannot import this test module)."""
    def file_ids(files):
        import pyarrow as pa

        yield pa.RecordBatch.from_pydict(
            {"file_idx": [i for i, _p in files]},
            pa.schema([("file_idx", pa.int32())]),
        )

    return file_ids


def test_plan_parquet_tasks_covers_all_files(spark, token_dir):
    infos = parquet_file_infos(token_dir)
    sizes = [s for _, s in infos]
    # 6 is above the fixture session's local[4] defaultParallelism
    for n_tasks in (3, 6):
        bins = plan_parquet_tasks(spark, token_dir, n_tasks=n_tasks)
        # the bins are exactly the LPT assignment, files as (file_idx, path)
        lpt = _lpt_assign(sizes, n_tasks)
        assert bins == [
            [(i, infos[i][0]) for i in range(7) if lpt[i] == b]
            for b in range(n_tasks)
        ]
        # the runner puts exactly one bin per Spark partition (the
        # scaling-critical invariant) and every file in one of them
        df = map_tasks(spark, bins, _file_ids(), "file_idx int")
        assert df.rdd.getNumPartitions() == n_tasks
        got = _per_partition(df, F.sort_array(F.collect_list("file_idx")))
        assert got == {b: ([i for i, _p in files],) for b, files in enumerate(bins)}
        assert _python_rdd_free(df)


def test_map_tasks_runs_unit_i_alone_in_partition_i(spark):
    """Unit i runs alone in partition i, above local[4]'s parallelism, and
    the plan is the bare range + mapInArrow: no Python RDD and no
    Generate or JSON parse of a task literal."""
    import pyarrow as pa

    units = [f"unit-{i}" for i in range(6)]

    def one_row(unit):
        yield pa.RecordBatch.from_pydict({"u": [unit]})

    df = map_tasks(spark, units, one_row, "u string")
    assert df.rdd.getNumPartitions() == 6
    assert _per_partition(df, F.count("*"), F.first("u")) == {
        p: (1, f"unit-{p}") for p in range(6)
    }
    assert _python_rdd_free(df)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan and "JsonToStructs" not in plan


def test_map_tasks_ships_a_long_unit_list_in_the_closure(spark):
    """20,000 files of ~100-byte paths make a closure over 1 MB (PySpark
    broadcasts it); every file comes back exactly once."""
    import pickle

    infos = [(f"/data/{'d' * 80}/part-{i:06d}.parquet", 1000 + i % 7)
             for i in range(20_000)]
    bins = _plan_tasks(spark, infos, 4)
    assert len(pickle.dumps(bins)) > 1 << 20
    got = [r[0] for r in map_tasks(spark, bins, _file_ids(), "file_idx int")
           .collect()]
    assert sorted(got) == list(range(20_000))


def test_map_tasks_eager_runs_unit_i_alone_in_partition_i(spark):
    """With ``schema=None`` the runner collects ``fn``'s plain items in
    unit order, unit i alone in partition i, above local[4]'s
    parallelism."""
    def where(unit):
        from pyspark import TaskContext

        yield TaskContext.get().partitionId(), unit

    units = [f"unit-{i}" for i in range(6)]
    assert map_tasks(spark, units, where, None) == [
        (p, f"unit-{p}") for p in range(6)
    ]


def test_map_tasks_eager_ships_a_long_unit_list_in_the_closure(spark):
    """The eager mode ships the same >1 MB closure; every file comes back
    exactly once."""
    import pickle

    infos = [(f"/data/{'d' * 80}/part-{i:06d}.parquet", 1000 + i % 7)
             for i in range(20_000)]
    bins = _plan_tasks(spark, infos, 4)
    assert len(pickle.dumps(bins)) > 1 << 20

    def file_ids(files):
        yield from (i for i, _p in files)

    got = map_tasks(spark, bins, file_ids, None)
    assert sorted(got) == list(range(20_000))


def test_map_tasks_eager_runs_nothing_for_no_units(spark):
    def never(_unit):
        raise AssertionError("ran a unit")

    sc = spark.sparkContext
    sc.setJobGroup("eager-no-units", "eager-no-units")
    try:
        assert map_tasks(spark, [], never, None) == []
        assert list(sc.statusTracker().getJobIdsForGroup("eager-no-units")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_map_tasks_eager_leaves_the_environment_as_it_was(spark):
    """The eager RDD's workers run under the SQL runners' env (here
    ``SPARK_SIMPLIFIED_TRACEBACK``, on by default), and the driver's
    ``sparkContext.environment`` is the same dict, unchanged, after."""
    def worker_env(_unit):
        import os

        yield os.environ.get("SPARK_SIMPLIFIED_TRACEBACK")

    sc = spark.sparkContext
    env, before = sc.environment, dict(sc.environment)
    assert map_tasks(spark, [0, 1], worker_env, None) == ["1", "1"]
    assert sc.environment is env and env == before
    assert "SPARK_SIMPLIFIED_TRACEBACK" not in env


_ONE_POOL_SCRIPT = """
import os, sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xml2arrow_spark.env import set_kernel_malloc_env

set_kernel_malloc_env()
from pyspark.sql import SparkSession

from xml2arrow_spark.operators.dataset import (
    count_where, decode_dataset, encode_parquet_dataset)

base, confs = sys.argv[1], sys.argv[2:]
b = (SparkSession.builder.master("local[2]")
     .config("spark.ui.enabled", "false")
     .config("spark.ui.showConsoleProgress", "false"))
for kv in confs:
    b = b.config(*kv.split("=", 1))
spark = b.getOrCreate()
src, out = os.path.join(base, "src"), os.path.join(base, "ds")
os.makedirs(src)
for j in range(2):
    ids = np.arange(j * 10, j * 10 + 10, dtype=np.int64)
    pq.write_table(pa.table({"id": ids}), os.path.join(src, f"p{j}.parquet"))
encode_parquet_dataset(spark, src, out)  # eager
assert len(decode_dataset(spark, out).collect()) == 20  # mapInArrow
assert count_where(spark, out, ("id", 5, 14), local_bytes=0).collect()[0][0] == 10
jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
daemons = 0
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        continue
    daemons += ppid == jvm and b"pyspark.daemon" in cmd
print("DAEMONS", daemons)
spark.stop()
"""


@pytest.mark.parametrize("confs", [
    [],
    ["spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled=false"],
    ["spark.sql.execution.pyspark.udf.hideTraceback.enabled=true"],
])
def test_eager_and_sql_jobs_share_one_worker_pool(tmp_path, confs):
    """Spark keys its Python worker pools on the worker env: after an
    eager encode, a collected ``decode_dataset`` (mapInArrow) and an
    above-the-valve ``count_where`` (eager) in one fresh session, exactly
    one ``pyspark.daemon`` runs under the JVM, whatever the SQL traceback
    confs say. A second daemon is a second pool of workers, each with its
    own import-time heap."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _ONE_POOL_SCRIPT, str(tmp_path), *confs],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("DAEMONS")]
    assert lines, out.stderr[-3000:]
    assert lines[-1] == "DAEMONS 1"


def test_encode_resume_plans_only_the_files_left(spark, tmp_path, monkeypatch):
    """With units 0-4 of 8 done, a resume lists all eight files but plans
    only 5-7, each with its original file_idx and one per task at
    n_tasks=3; the finished store equals a fresh encode."""
    import pyarrow as pa

    import xml2arrow_spark.sources.files as files_mod
    from xml2arrow_spark.operators.dataset import (
        dataset_metrics,
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(8):
        pq.write_table(
            generate_tokens_arrow(60 + 10 * i, seed=i, start_id=1000 * i),
            os.path.join(src, f"part-{i}.parquet"),
        )
    man = CodecManifest.auto_for(spark.read.parquet(src).schema, block_rows=32)
    fresh, res = str(tmp_path / "fresh"), str(tmp_path / "res")
    encode_parquet_dataset(spark, src, fresh, manifest=man, n_tasks=3)
    # a crash after units 0-4 committed: their manifest rows and blocks only
    encode_parquet_dataset(spark, src, res, manifest=man, n_tasks=3)
    mdir = os.path.join(res, "manifest")
    meta = pq.read_table(mdir)
    for name in os.listdir(mdir):
        os.remove(os.path.join(mdir, name))
    pq.write_table(meta.filter(pa.compute.less(meta["unit_id"], 5)),
                   os.path.join(mdir, "manifest-crash.parquet"))
    for u in (5, 6, 7):
        os.remove(os.path.join(res, "blocks", f"blocks-u{u:06d}.parquet"))

    planned = []
    real = files_mod.map_tasks

    def spy(spark_, units, fn, schema):
        planned.append(units)
        return real(spark_, units, fn, schema)

    monkeypatch.setattr(files_mod, "map_tasks", spy)
    encode_parquet_dataset(spark, src, res, manifest=man, n_tasks=3)
    paths = [p for p, _s in parquet_file_infos(src)]
    [bins] = planned
    assert sorted(bins) == [[(u, paths[u])] for u in (5, 6, 7)]

    assert dataset_metrics(spark, res) == dataset_metrics(spark, fresh)
    for u in range(8):
        name = f"blocks-u{u:06d}.parquet"
        # part_id is the task that wrote the block, so a resume may differ
        a, b = (pq.read_table(os.path.join(d, "blocks", name)).drop(["part_id"])
                for d in (res, fresh))
        assert a.equals(b), name
    rows = [sorted(decode_dataset(spark, d).collect()) for d in (res, fresh)]
    assert rows[0] == rows[1]


def test_tokens_dataframe_slices_one_per_partition(spark):
    import numpy as np

    n_rows, n_parts = 1000, 6
    df = tokens_dataframe(spark, n_rows, n_partitions=n_parts)
    assert df.rdd.getNumPartitions() == n_parts
    bounds = np.linspace(0, n_rows, n_parts + 1).astype(np.int64)
    # slice p (rows bounds[p]..bounds[p+1]) alone in partition p
    assert _per_partition(df, F.count("*"), F.min("doc_id")) == {
        p: (int(bounds[p + 1] - bounds[p]), f"doc-{bounds[p]:08d}")
        for p in range(n_parts)
    }
    assert _python_rdd_free(df)


def test_engine_builds_no_python_rdd():
    """Lint: engine DataFrames are planned JVM-side
    (sources/files.py::map_tasks), never from a Python RDD."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    offenders = []
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                fp = os.path.join(dirpath, name)
                with open(fp, encoding="utf-8") as f:
                    if "sparkContext.parallelize(" in f.read():
                        offenders.append(os.path.relpath(fp, root))
    assert offenders == []


_WORKER_APIS = {"mapInArrow", "mapInPandas", "applyInPandasWithState",
                "mapPartitions"}


def _scope_nodes(scope):
    """Nodes of ``scope`` outside any nested def (nested defs themselves
    are included, their bodies are not)."""
    stack = list(scope.body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(node))


def _calls_prologue_first(fn) -> bool:
    for stmt in fn.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
                and isinstance(stmt.value.value, str)):
            continue  # docstring
        call = stmt.value if isinstance(stmt, ast.Expr) else None
        return (isinstance(call, ast.Call) and isinstance(call.func, ast.Name)
                and call.func.id == "task_setup")
    return False


def test_every_worker_fn_calls_task_setup_first():
    """Lint: every function the engine hands to mapInArrow / mapInPandas /
    applyInPandasWithState / mapPartitions runs ``env.task_setup()``
    before anything but imports (pinned pyarrow pools, frozen import-time
    heap, no zip finder). Every file job (the fused encoders,
    decode_dataset, compaction, the block walk's fan-out and partials,
    tokens_dataframe) shares ONE worker fn, the runner
    sources/files.py::map_tasks, in its lazy (mapInArrow) and eager
    (mapPartitions) modes; the exact site count makes a new hand-rolled
    worker show up here."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    sites, offenders = [], []
    for dirpath, _dirs, names in os.walk(root):
        for name in (n for n in names if n.endswith(".py")):
            fp = os.path.join(dirpath, name)
            with open(fp, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for scope in ast.walk(tree):
                if not isinstance(scope, (ast.Module, ast.FunctionDef)):
                    continue
                nodes = list(_scope_nodes(scope))
                defs = [n for n in nodes if isinstance(n, ast.FunctionDef)]
                for call in nodes:
                    if not (isinstance(call, ast.Call)
                            and isinstance(call.func, ast.Attribute)
                            and call.func.attr in _WORKER_APIS):
                        continue
                    where = f"{os.path.relpath(fp, root)}:{call.lineno}"
                    arg = call.args[0] if call.args else None
                    fn = None
                    if isinstance(arg, ast.Name):
                        named = [d for d in defs
                                 if d.name == arg.id and d.lineno < call.lineno]
                        fn = max(named, key=lambda d: d.lineno, default=None)
                    sites.append((os.path.relpath(fp, root),
                                  fn.name if fn is not None else None))
                    if fn is None or not _calls_prologue_first(fn):
                        offenders.append(where)
    assert len(sites) == 21  # the lint really found the engine's worker fns
    assert sites.count((os.path.join("sources", "files.py"), "run")) == 2
    assert offenders == []


def test_file_workers_get_units_only_from_map_tasks():
    """Lint: file workers get their units only from
    sources/files.py::map_tasks, the one place that calls ``range`` for
    exact placement (``spark.range`` in its lazy mode,
    ``sparkContext.range`` in its eager one); no engine module builds a
    task table out of a SQL literal (``from_json``/``unbase64`` of the
    units)."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    ranges, literals = [], []
    for dirpath, _dirs, names in os.walk(root):
        for name in (n for n in names if n.endswith(".py")):
            fp = os.path.join(dirpath, name)
            with open(fp, encoding="utf-8") as f:
                src = f.read()
            rel = os.path.relpath(fp, root)
            if "from_json(" in src or "unbase64(" in src:
                literals.append(rel)
            for scope in ast.walk(ast.parse(src)):
                if not isinstance(scope, (ast.Module, ast.FunctionDef)):
                    continue
                for call in _scope_nodes(scope):
                    if (isinstance(call, ast.Call)
                            and isinstance(call.func, ast.Attribute)
                            and call.func.attr == "range"):
                        ranges.append((rel, getattr(scope, "name", None)))
    assert ranges == [(os.path.join("sources", "files.py"), "map_tasks")] * 2
    assert literals == []


_LAYOUT_BLIND = (
    "_fold_blocks_file", "count_where", "group_count", "group_aggs",
    "_keyed_fold", "top_k", "time_bucket_count", "decode_dataset",
)
# the decode loop, decode_table and the encoders, beside the writer and
# the view in operators/encode.py
_LAYOUT_BLIND_ENCODE = (
    "decode_blocks", "decode_table", "encode_table", "encode_parquet_tasks",
    "encode_parquet_stats", "encode_parquet",
)
# modules that read and write the blocks format only through
# operators/encode.py
_LAYOUT_BLIND_MODULES = (
    os.path.join("pipeline", "sketches.py"),
    os.path.join("operators", "bloomidx.py"),
    os.path.join("operators", "dataset.py"),
)


def _layout_knowledge(tree) -> list[str]:
    """What in ``tree`` reads a blocks layout directly: a ``c_{...}__``
    f-string (a wide column name), the ``"cols"`` literal (the nested
    struct), ``entries.field`` (a nested entry read) or a ``wide`` name."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            shape = "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
            if "c_{}__" in shape:
                found.append(f"{node.lineno}: f-string {shape!r}")
        elif isinstance(node, ast.Constant) and node.value == "cols":
            found.append(f"{node.lineno}: literal 'cols'")
        elif (isinstance(node, ast.Attribute) and node.attr == "field"
                and isinstance(node.value, ast.Name)
                and node.value.id == "entries"):
            found.append(f"{node.lineno}: entries.field")
        elif (isinstance(node, ast.Name) and node.id == "wide") or (
                isinstance(node, ast.arg) and node.arg == "wide"):
            found.append(f"{node.lineno}: name 'wide'")
    return found


def test_claiming_walks_do_not_know_the_blocks_layout():
    """Lint: the metadata-aggregate walks, the decoders, the encoders and
    the Bloom index builders read and write the blocks format only through
    operators/encode.py (the writer ``_encode_block`` and its schema
    builder; ``BlockStats`` on pyarrow, ``zone_col`` and
    ``payload_columns`` on Spark), never by naming a layout's columns
    themselves."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    offenders = {}
    for module, names in (("dataset.py", _LAYOUT_BLIND),
                          ("encode.py", _LAYOUT_BLIND_ENCODE)):
        with open(os.path.join(root, "operators", module), encoding="utf-8") as f:
            tree = ast.parse(f.read())
        fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        assert set(names) <= set(fns)  # the lint really found the functions
        offenders.update({
            name: hits for name in names
            if (hits := _layout_knowledge(fns[name]))
        })
    for rel in _LAYOUT_BLIND_MODULES:
        with open(os.path.join(root, rel), encoding="utf-8") as f:
            hits = _layout_knowledge(ast.parse(f.read()))
        if hits:
            offenders[rel] = hits
    assert offenders == {}



def test_one_keyed_fold():
    """Lint, one way to group: ``BlockWalk.folds_on_driver`` has exactly
    one caller in the engine (the keyed fold in operators/dataset.py),
    no module but operators/blocks.py computes mixed-radix group codes
    (``codes * len(dictionary) + c``), and operators/dataset.py opens a
    ``BlockStats`` view only in the one block loop, the group-bound
    pre-pass, top_k and decode_dataset (count_where folds through the
    block loop, with no view of its own)."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    dispatch, radix = [], []
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "folds_on_driver"):
                    dispatch.append(rel)
                if (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)
                        and isinstance(node.left, ast.BinOp)
                        and isinstance(node.left.op, ast.Mult)
                        and isinstance(node.left.right, ast.Call)
                        and getattr(node.left.right.func, "id", None) == "len"):
                    radix.append(rel)
    assert dispatch == [os.path.join("operators", "dataset.py")]
    assert radix == [os.path.join("operators", "blocks.py")]
    with open(os.path.join(root, "operators", "dataset.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    views = {
        fn.name for fn in tree.body if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "BlockStats"
    }
    assert views == {"_fold_blocks_file", "_file_groups", "top_k",
                     "decode_dataset"}


def _engine_sites(want) -> set[tuple[str, str]]:
    """``(module path, top-level def)`` of every engine node ``want(node)``
    accepts; a node outside any def is attributed to ``<module>``."""
    import xml2arrow_spark

    root = os.path.dirname(xml2arrow_spark.__file__)
    sites = set()
    for dirpath, _dirs, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for top in tree.body:
                scope = getattr(top, "name", "<module>")
                sites.update((rel, scope) for n in ast.walk(top) if want(n))
    return sites


def _calls(*names):
    def want(node):
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return getattr(f, "id", None) in names or getattr(f, "attr", None) in names
    return want


def test_one_predicate_path():
    """Lint, one way to evaluate a predicate: in operators/ only
    ``blocks.py::_code_stream`` splits a codec's sections (the match and
    group kernels read every dictionary or run codec through it); only
    ``encode.py::apply_row_filters`` calls the match kernels, so every
    ``where=`` and ``row_filter=`` mask is its mask; and only
    predicates.py reads an ``any_of``'s ``.disjuncts`` (its ``dnf`` is
    the one flattener)."""
    split = {
        s for s in _engine_sites(_calls("split_sections"))
        if s[0].startswith("operators/")
    }
    assert split == {("operators/blocks.py", "_code_stream")}
    match = _engine_sites(_calls("match_mask_column", "match_decode_column"))
    assert match == {("operators/encode.py", "apply_row_filters")}
    disjuncts = _engine_sites(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "disjuncts"
    )
    assert {m for m, _fn in disjuncts} == {"operators/predicates.py"}


def test_fused_encode_roundtrip_bit_identical(spark, token_dir):
    blocks = encode_parquet(spark, token_dir, n_tasks=3)
    decoded = decode_table(blocks, TOKENS_DDL)
    src = spark.read.parquet(token_dir)
    assert decoded.exceptAll(src).count() == 0
    assert src.exceptAll(decoded).count() == 0


def test_fused_unit_id_is_file_idx(spark, token_dir):
    blocks = encode_parquet(spark, token_dir, n_tasks=3)
    units = sorted(r.unit_id for r in blocks.select("unit_id").distinct().collect())
    assert units == list(range(7))


def test_fused_matches_dataframe_path_sizes(spark, token_dir):
    """Same manifest -> same total encoded bytes on both paths (the kernels
    are shared; only the transport differs)."""
    manifest = CodecManifest.auto_for(
        spark.read.parquet(token_dir).schema, block_rows=100_000
    )
    resolved = resolve_manifest_parquet(token_dir, manifest)
    fused = encode_parquet(spark, token_dir, resolved, n_tasks=1)
    # one unit per file on the fused path; compare per-file against
    # encode_table over the same single file
    f_tot = fused.agg(F.sum("out_bytes").alias("ob"), F.sum("n_values").alias("nv")).collect()[0]
    infos = parquet_file_infos(token_dir)
    df_ob = 0
    df_nv = 0
    for path, _ in infos:
        sub = spark.read.parquet(path)
        agg = encode_table(sub.coalesce(1), resolved).agg(
            F.sum("out_bytes").alias("ob"), F.sum("n_values").alias("nv")
        ).collect()[0]
        df_ob += int(agg["ob"])
        df_nv += int(agg["nv"])
    assert int(f_tot["nv"]) == df_nv
    assert int(f_tot["ob"]) == df_ob


def test_resolve_manifest_parquet_picks_expected_codecs(token_dir):
    # resolution is pure pyarrow; no Spark session needed
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ])
    resolved = resolve_manifest_parquet(
        token_dir, CodecManifest.auto_for(schema, block_rows=4096)
    )
    assert all(p.codec != "auto" for p in resolved.columns.values())
    assert resolved.columns["tokens"].codec in {"for", "bitpack"}
    assert resolved.columns["source"].codec in {"dict_str", "seq_str"}


def test_encode_parquet_single_file(spark, token_dir):
    one = parquet_file_infos(token_dir)[0][0]
    blocks = encode_parquet(spark, one, n_tasks=4)
    decoded = decode_table(blocks, TOKENS_DDL)
    src = spark.read.parquet(one)
    assert decoded.count() == src.count()
    assert decoded.exceptAll(src).count() == 0


def test_encode_parquet_missing_path_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        encode_parquet(spark, str(tmp_path / "nope"))


def test_fused_auto_cascade_resolves_bss_on_reduced_precision_floats(
    spark, tmp_path
):
    """The fused stats/encode path resolves ``auto+zstd`` float-list columns
    through the cascade-aware chooser: on bf16-upcast float32 embeddings
    (two all-zero mantissa byte planes) it must pick bss_float, and the
    encoded bytes must beat the forced plain_float+zstd encode of the same
    table (measured ~0.72x; the r05 regression this pins was
    resolve_manifest_parquet dropping the cascade before the probe ran)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(23)
    n_vec, dim = 4000, 64
    flat = (
        rng.normal(size=n_vec * dim).astype(np.float32).view(np.uint32)
        & np.uint32(0xFFFF0000)
    ).view(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(flat), dim
            ).cast(pa.list_(pa.float32())),
        }
    )
    d = str(tmp_path / "bf16emb")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
    schema = spark.read.parquet(d).schema

    def total_out(codec):
        man = CodecManifest.auto_for(schema, block_rows=4096)
        man.columns["embedding"].codec = codec
        from xml2arrow_spark.operators.encode import encode_parquet_stats

        row = (
            encode_parquet_stats(spark, d, manifest=man, n_tasks=2)
            .agg(F.sum("out_bytes").alias("ob"))
            .collect()[0]
        )
        return int(row["ob"])

    auto_bytes = total_out("auto+zstd")
    plain_bytes = total_out("plain_float+zstd")
    assert auto_bytes < plain_bytes
    # and the driver-side resolver itself names the codec
    man = CodecManifest.auto_for(schema, block_rows=4096)
    man.columns["embedding"].codec = "auto+zstd"
    resolved = resolve_manifest_parquet(d, man)
    assert resolved.columns["embedding"].codec == "bss_float+zstd"
    # roundtrip through the real encode (not just stats) stays bit-exact
    blocks = encode_parquet_tasks(
        spark, plan_parquet_tasks(spark, d, n_tasks=2), resolved
    )
    decoded = decode_table(blocks, "vec_id bigint, embedding array<float>")
    got = decoded.orderBy("vec_id").collect()
    assert len(got) == n_vec
    emb0 = np.array(got[0]["embedding"], dtype=np.float32)
    np.testing.assert_array_equal(
        emb0.view(np.uint32), flat[:dim].view(np.uint32)
    )


def test_fused_encoders_list_their_input_once(spark, token_dir, tmp_path,
                                              monkeypatch):
    """The fused encoders share one prologue that lists the input once and
    hands that listing to manifest resolution and task planning."""
    import xml2arrow_spark.sources.files as files_mod
    from xml2arrow_spark.operators.dataset import encode_parquet_dataset
    from xml2arrow_spark.operators.encode import encode_parquet_stats

    calls = []
    real = files_mod.parquet_file_infos

    def spy(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(files_mod, "parquet_file_infos", spy)
    man = CodecManifest.auto_for(spark.read.parquet(token_dir).schema,
                                 block_rows=1024)
    for run in (
        lambda: encode_parquet_dataset(spark, token_dir, str(tmp_path / "ds"),
                                       manifest=man, n_tasks=2),
        lambda: encode_parquet(spark, token_dir, man, n_tasks=2).count(),
        lambda: encode_parquet_stats(spark, token_dir, man, n_tasks=2).count(),
    ):
        calls.clear()
        run()
        assert calls == [token_dir]


def test_auto_encode_of_wide_decimal_roundtrips(spark, tmp_path):
    """A decimal(20,0) column (UInt64's widened type) under the default
    all-``auto`` manifest: the fused encoder resolves it through the same
    chooser as resolve_manifest (the low 64 bits as an integer stream) and
    round-trips values at and above 2^63 exactly."""
    import decimal

    import numpy as np
    import pyarrow as pa

    from xml2arrow_spark.operators.dataset import (
        MANIFEST_SIDECAR,
        decode_dataset,
        encode_parquet_dataset,
    )
    from xml2arrow_spark.plans.selector import resolve_manifest

    rng = np.random.default_rng(3)
    n = 5000
    vals = [None if i % 97 == 0 else decimal.Decimal(2**63 - 500 + int(x))
            for i, x in enumerate(rng.integers(0, 1 << 30, n))]
    vals[1] = decimal.Decimal(2**64 - 1)
    d = str(tmp_path / "dec")
    os.makedirs(d)
    pq.write_table(pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "u": pa.array(vals, type=pa.decimal128(20, 0)),
    }), os.path.join(d, "part-0.parquet"))
    out = str(tmp_path / "store")
    encode_parquet_dataset(spark, d, out, n_tasks=1)
    got = {r["id"]: r["u"] for r in decode_dataset(spark, out).collect()}
    assert got == dict(enumerate(vals))
    stored = CodecManifest.from_yaml_file(os.path.join(out, MANIFEST_SIDECAR))
    df = spark.read.parquet(d)
    spark_pick = resolve_manifest(df, CodecManifest.auto_for(df.schema))
    assert stored.columns["u"].codec == spark_pick.columns["u"].codec != "auto"
