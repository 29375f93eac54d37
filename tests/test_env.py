"""The worker-task prologue ``env.task_setup``: pinned pyarrow pools and one
cached zip finder per archive, with archive invalidation still working."""

from __future__ import annotations

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


@pytest.fixture
def arrow_pools():
    """task_setup pins the pools process-wide; give this process its own back."""
    saved = pa.cpu_count(), pa.io_thread_count()
    yield
    pa.set_cpu_count(saved[0])
    pa.set_io_thread_count(saved[1])


def test_task_setup_keeps_one_zip_finder_per_archive(tmp_path, monkeypatch, arrow_pools):
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
        others = {
            k: f for k, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }

        task_setup()

        assert pa.cpu_count() == 1 and pa.io_thread_count() == 1
        counts = _zip_finders_per_archive()
        assert counts[archive] == 1
        assert set(counts.values()) == {1}  # every archive, not just ours
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        for k, f in others.items():  # non-zip finders untouched
            assert sys.path_importer_cache.get(k) is f

        # a module added to the archive after the prologue still imports
        _write_zip(archive, {**files, "zp_top/a/new.py": "X = 'new'\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zp_top.a.new").X == "new"
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zp_top"]:
            del sys.modules[name]
        for k in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[k]


def test_task_setup_is_idempotent(arrow_pools):
    task_setup()
    before = dict(sys.path_importer_cache)
    task_setup()
    assert sys.path_importer_cache == before


def test_worker_holds_one_zip_finder_per_archive(spark):
    def probe(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        counts = Counter(
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "counts": json.dumps(counts)}]
        )

    df = spark.range(0, 2, 1, 2)
    ddl = "pid long, counts string"
    df.mapInArrow(probe, ddl).collect()
    rows = df.mapInArrow(probe, ddl).collect()  # reused workers' 2nd task
    for r in rows:
        # trivially true when workers import nothing from a zip
        assert all(n <= 1 for n in json.loads(r.counts).values()), r
