"""The worker-task prologue ``env.task_setup``: pinned pyarrow pools, no zip
finder held across tasks (a rewritten archive still imports fresh), and the
import-time heap frozen only inside a Python worker."""

from __future__ import annotations

import gc
import importlib
import json
import os
import sys
import zipfile
import zipimport
from collections import Counter

import pyarrow as pa
import pytest

from xml2arrow_spark.env import task_setup


def _zip_finders_per_archive() -> Counter:
    return Counter(
        f.archive for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    )


def _write_zip(path: str, files: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a rewrite, as a redeployed archive would be


def _rows_per_worker(spark, probe, ddl: str, min_tasks: int) -> dict[int, list]:
    """Run 4-task ``mapInArrow(probe)`` jobs until one reused worker has run
    ``min_tasks`` of them; return the rows per worker pid, in task order
    (jobs run in turn). Spark hands out idle workers round-robin, so a
    session with many idle workers needs many jobs."""
    seen: dict[int, list] = {}
    for _ in range(64):
        for r in spark.range(0, 4, 1, 4).mapInArrow(probe, ddl).collect():
            seen.setdefault(r.pid, []).append(r)
        if max(len(v) for v in seen.values()) >= min_tasks:
            return seen
    raise AssertionError(f"no worker ran {min_tasks} tasks: {seen}")


@pytest.fixture
def arrow_pools():
    """task_setup pins the pools process-wide; give this process its own back."""
    saved = pa.cpu_count(), pa.io_thread_count()
    yield
    pa.set_cpu_count(saved[0])
    pa.set_io_thread_count(saved[1])


def test_task_setup_drops_every_zip_finder(tmp_path, monkeypatch, arrow_pools):
    archive = str(tmp_path / "zpkg.zip")
    files = {
        "zp_top/__init__.py": "",
        "zp_top/a/__init__.py": "",
        "zp_top/a/m.py": "X = 'a'\n",
        "zp_top/b/__init__.py": "",
        "zp_top/b/m.py": "X = 'b'\n",
    }
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("zp_top.a.m")
        importlib.import_module("zp_top.b.m")
        # root, zp_top, zp_top/a, zp_top/b: one finder per package path
        assert _zip_finders_per_archive()[archive] == 4
        assert archive in zipimport._zip_directory_cache
        others = {
            k: f for k, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }

        task_setup()

        assert pa.cpu_count() == 1 and pa.io_thread_count() == 1
        assert _zip_finders_per_archive() == Counter()  # every archive, not just ours
        assert archive not in zipimport._zip_directory_cache
        for k, f in others.items():  # non-zip finders untouched
            assert sys.path_importer_cache.get(k) is f

        # a module added to the archive after the prologue imports, both
        # without and with an invalidation in between
        _write_zip(archive, {**files, "zp_top/a/new.py": "X = 'new'\n"})
        assert importlib.import_module("zp_top.a.new").X == "new"
        task_setup()
        _write_zip(archive, {**files, "zp_top/b/new.py": "X = 'newer'\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zp_top.b.new").X == "newer"
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zp_top"]:
            del sys.modules[name]
        for k in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[k]
        zipimport._zip_directory_cache.pop(archive, None)


def test_task_setup_is_idempotent(arrow_pools):
    task_setup()
    before = dict(sys.path_importer_cache)
    task_setup()
    assert sys.path_importer_cache == before


def test_task_setup_never_freezes_outside_a_worker(arrow_pools):
    before = gc.get_freeze_count()
    task_setup()
    task_setup()
    assert gc.get_freeze_count() == before


def test_worker_holds_no_zip_finder_in_steady_state(spark):
    """From a worker's third task on, its prologue finds no zip finder. (A
    fresh worker's first task imports pandas after its prologue, which
    caches one finder per archive on sys.path; the second prologue drops
    them.)"""
    def probe(batches):
        from xml2arrow_spark.env import task_setup

        counts = Counter(
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        task_setup()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "counts": json.dumps(counts)}]
        )

    seen = _rows_per_worker(spark, probe, "pid long, counts string", 3)
    for pid, tasks in seen.items():
        assert all(json.loads(r.counts) == {} for r in tasks[2:]), (pid, tasks)


def test_worker_freeze_is_constant_and_garbage_still_collected(spark):
    """Six+ tasks per reused worker, each leaving ~10K objects of cyclic
    garbage: from a worker's third task on its freeze count is constant and
    its live heap at the prologue does not grow with the garbage."""
    n_garbage = 10_000

    def probe(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        row = {
            "pid": os.getpid(),
            "frozen": gc.get_freeze_count(),
            "live": len(gc.get_objects()),
        }
        for _ in range(n_garbage):
            cell = []
            cell.append(cell)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([row])

    seen = _rows_per_worker(spark, probe, "pid long, frozen long, live long", 6)
    for pid, tasks in seen.items():
        steady = tasks[2:]
        if not steady:
            continue
        assert len({r.frozen for r in steady}) == 1, (pid, tasks)
        assert steady[0].frozen > 0, (pid, tasks)
        lives = [r.live for r in steady]
        assert max(lives) - min(lives) < n_garbage // 2, (pid, tasks)
