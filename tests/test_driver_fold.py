"""The bounded metadata aggregates fold their per-file partials on the
driver on BOTH dispatch paths (``BlockWalk.partials``): above the
``local_bytes`` valve that is one fan-out job with no shuffle, run inside
the call, and the returned frame is driver-local, so collecting it runs
no further job. The keyed folds (group_count, group_aggs, group_sum) do
the same while a metadata pre-pass bounds their groups
(``BlockWalk.folds_on_driver``), and combine in Spark past that bound.

Jobs are counted per call through a job group and the status tracker."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xml2arrow_spark.manifest import CodecManifest, ColumnPolicy
from xml2arrow_spark.operators.blocks import encode_column, value_counts_column
from xml2arrow_spark.operators.dataset import (
    any_of,
    count_where,
    decode_dataset,
    encode_parquet_dataset,
    group_aggs,
    group_count,
    group_sum,
    time_bucket_count,
    top_k,
)
from xml2arrow_spark.sources import files
from xml2arrow_spark.sources.files import BlockWalk, parquet_file_infos


def _write_store(spark, base, layout="nested"):
    """Four source files of ten rows, so four blocks files: ``k`` holds
    three values and one NULL, ``s`` two strings."""
    src, out = str(base / "src"), str(base / "ds")
    os.makedirs(src, exist_ok=True)
    for j in range(4):
        ids = np.arange(j * 10, j * 10 + 10, dtype=np.int64)
        k = pa.array([None if i == 7 else int(i % 3) for i in ids], pa.int64())
        s = pa.array(["x" if i % 2 else "y" for i in ids])
        pq.write_table(pa.table({"id": ids, "t": ids * 3, "k": k, "s": s}),
                       os.path.join(src, f"part-{j}.parquet"))
    encode_parquet_dataset(spark, src, out, layout=layout)
    assert len(parquet_file_infos(os.path.join(out, "blocks"))) == 4
    return out


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    return _write_store(spark, tmp_path_factory.mktemp("driver_fold"))


@pytest.fixture(scope="module")
def wide_store(spark, tmp_path_factory):
    return _write_store(spark, tmp_path_factory.mktemp("driver_fold_wide"),
                        layout="wide")


_GROUPS = itertools.count()


def _jobs(spark, call):
    """(job ids the call ran, number of jobs its ``.collect()`` added)."""
    sc = spark.sparkContext
    group = f"driver-fold-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        df = call()
        in_call = list(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
        on_collect = len(sc.statusTracker().getJobIdsForGroup(group)) - len(in_call)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return in_call, on_collect


@pytest.mark.parametrize(
    "op", ["count_where", "count_where_past_the_bounds", "time_bucket_count"]
)
def test_bounded_fold_runs_one_job_eagerly(spark, store, op, monkeypatch):
    if op == "count_where_past_the_bounds":
        # a keyless partial holds one group: count_where folds on the
        # driver whatever the keyed folds' bounds say, with no pre-pass
        def pre_pass(self, _file_groups):
            raise AssertionError("count_where ran the group bound pre-pass")

        monkeypatch.setattr(files, "DRIVER_FOLD_GROUPS", 0)
        monkeypatch.setattr(files, "DRIVER_FOLD_FILES", 0)
        monkeypatch.setattr(BlockWalk, "folds_on_driver", pre_pass)

    def call():
        if op.startswith("count_where"):
            return count_where(spark, store, ("id", 5, 25), agg_col="t",
                               local_bytes=0)
        return time_bucket_count(spark, store, "t", 7, local_bytes=0)

    in_call, on_collect = _jobs(spark, call)
    assert len(in_call) == 1 and on_collect == 0
    # one stage: the partials never cross a shuffle
    info = spark.sparkContext.statusTracker().getJobInfo(in_call[0])
    assert len(info.stageIds) == 1


@pytest.mark.parametrize("where, n_jobs", [(None, 3), (("id", 5, 25), 1)])
def test_top_k_jobs(spark, store, where, n_jobs):
    # without where=, the tau pre-pass reads the blocks metadata through
    # Spark (schema read + ordered limit) before the one fan-out job
    in_call, on_collect = _jobs(
        spark, lambda: top_k(spark, store, "t", 3, local_bytes=0, where=where)
    )
    assert len(in_call) == n_jobs and on_collect == 0


# the keyed folds, each above the valve unless the test says otherwise
_KEYED = {
    "group_count": lambda spark, ds, lb: group_count(
        spark, ds, "k", local_bytes=lb),
    "group_count_composite": lambda spark, ds, lb: group_count(
        spark, ds, ["k", "s"], local_bytes=lb, where=("id", 3, 33)),
    "group_sum": lambda spark, ds, lb: group_sum(
        spark, ds, "k", "t", local_bytes=lb),
    "group_aggs": lambda spark, ds, lb: group_aggs(
        spark, ds, ["s", "k"], ["id", "t"], local_bytes=lb),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("op", sorted(_KEYED))
def test_bounded_keyed_fold_runs_one_job_eagerly(spark, store, op):
    in_call, on_collect = _jobs(spark, lambda: _KEYED[op](spark, store, 0))
    assert len(in_call) == 1 and on_collect == 0
    info = spark.sparkContext.statusTracker().getJobInfo(in_call[0])
    assert len(info.stageIds) == 1


@pytest.mark.parametrize("op", sorted(_KEYED))
def test_keyed_fold_past_the_bound_combines_in_spark(
    spark, store, op, monkeypatch
):
    folded = _rows(_KEYED[op](spark, store, 0))
    local = _rows(_KEYED[op](spark, store, 128 << 20))
    monkeypatch.setattr(files, "DRIVER_FOLD_GROUPS", 0)
    in_call, _on_collect = _jobs(spark, lambda: _KEYED[op](spark, store, 0))
    assert in_call == []  # lazy: the Spark combine runs on collect
    assert _rows(_KEYED[op](spark, store, 0)) == folded == local


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_bound_pre_pass_reads_no_payload(
    spark, store, wide_store, layout, monkeypatch
):
    """Above the valve the pre-pass is the only parquet read on the
    driver; it never asks for the payload (``data``) of any column."""
    ds = store if layout == "nested" else wide_store
    asked = []
    read = pq.ParquetFile.read

    def spy(self, columns=None, **kw):
        asked.append(list(columns or ["<all>"]))
        return read(self, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read", spy)
    rows = _rows(group_count(spark, ds, ["k", "s"], local_bytes=0))
    monkeypatch.undo()
    assert len(asked) == 4  # one read per blocks file
    for cols in asked:
        assert cols[0] == "n_rows"
        for c in cols:
            assert c != "<all>" and c != "cols"
            assert not c.endswith(("data", "__data", ".data")), c
    assert rows == _rows(group_count(spark, ds, ["k", "s"]))


# decode_dataset's driver-side file elimination: the store's four files
# each hold ten ids of one range (0-9, 10-19, 20-29, 30-39)
def _decoded(spark, ds, zf, monkeypatch, agg=False):
    """(the decode's rows under zone filter and row filter ``zf``, the
    same with every file planned); aggregated when ``agg``."""
    def rows():
        df = decode_dataset(spark, ds, zone_filter=zf, row_filter=zf)
        if agg:
            df = df.selectExpr("count(*)", "sum(k)")
        return _rows(df)

    got = rows()
    with monkeypatch.context() as m:
        m.setattr(files, "DRIVER_FOLD_FILES", 0)
        return got, rows()


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_one_file_decode_runs_one_job(spark, store, wide_store, layout,
                                      monkeypatch):
    """A zone filter inside one file plans one task, so the global
    aggregate over it needs no Exchange: one job, run on collect."""
    ds = store if layout == "nested" else wide_store
    in_call, on_collect = _jobs(spark, lambda: decode_dataset(
        spark, ds, zone_filter=("id", 12, 17), row_filter=("id", 12, 17)
    ).selectExpr("count(*)", "sum(k)"))
    assert in_call == [] and on_collect == 1
    got, every_file = _decoded(spark, ds, ("id", 12, 17), monkeypatch, True)
    assert got == every_file == [(6, 6)]


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_any_of_zone_filter_keeps_both_files(spark, store, wide_store, layout,
                                             monkeypatch):
    ds = store if layout == "nested" else wide_store
    zf = any_of(("id", 3, 5), ("id", 31, 33))
    got, every_file = _decoded(spark, ds, zf, monkeypatch)
    assert got == every_file
    assert sorted(r[0] for r in got) == [3, 4, 5, 31, 32, 33]


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_decode_pruning_every_file_is_empty(spark, store, wide_store, layout,
                                            monkeypatch):
    ds = store if layout == "nested" else wide_store
    got, every_file = _decoded(spark, ds, ("id", 100, 200), monkeypatch)
    assert got == every_file == []
    df = decode_dataset(spark, ds, zone_filter=("id", 100, 200))
    assert df.schema == decode_dataset(spark, ds).schema
    assert df.count() == 0


def test_local_walk_runs_no_pre_pass(store):
    def pre_pass(_path, _pq):
        raise AssertionError("the local path ran the group bound pre-pass")

    assert BlockWalk(store, 128 << 20).folds_on_driver(pre_pass)


def test_long_listing_runs_no_pre_pass(store, monkeypatch):
    """More files than the pre-pass reads combine in Spark without it."""
    def pre_pass(_path, _pq):
        raise AssertionError("a long listing ran the pre-pass")

    monkeypatch.setattr(files, "DRIVER_FOLD_FILES", 3)
    assert not BlockWalk(store, 0).folds_on_driver(pre_pass)


def test_group_bound_takes_the_file_wide_int_range(spark, tmp_path):
    """Blocks that each span one int range bound their file by that range
    once, not once per block; a composite key multiplies the file-wide
    bounds of its keys."""
    from xml2arrow_spark.operators.dataset import _file_groups

    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    i = np.arange(600, dtype=np.int64)
    pq.write_table(pa.table({"k": i % 10, "m": i % 3}),
                   os.path.join(src, "p.parquet"))
    man = CodecManifest(columns={"k": ColumnPolicy(codec="for"),
                                 "m": ColumnPolicy(codec="for")},
                        block_rows=128)
    encode_parquet_dataset(spark, src, out, manifest=man)
    [(fp, _s)] = parquet_file_infos(os.path.join(out, "blocks"))
    assert _file_groups(["k"])(fp, pq) == 10  # 5 blocks of range 10
    assert _file_groups(["k", "m"])(fp, pq) == 30


@pytest.mark.parametrize("codec", ["dict", "rle", "pdict", "for", "plain"])
def test_group_bound_covers_every_partial(spark, tmp_path, codec):
    """The metadata bound is never below the groups a file's partial
    really holds, whatever the key's codec; with nulls it counts the NULL
    group too."""
    from xml2arrow_spark.operators.dataset import _file_groups

    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    rng = np.random.default_rng(5)
    groups = []
    for j in range(3):
        v = rng.integers(0, 4 + 40 * j, 300)
        k = pa.array([None if x % 11 == 0 else int(x) for x in v], pa.int64())
        groups.append(len(set(k.to_pylist())))
        pq.write_table(pa.table({"k": k}), os.path.join(src, f"p-{j}.parquet"))
    man = CodecManifest(columns={"k": ColumnPolicy(codec=codec)},
                        block_rows=128)
    encode_parquet_dataset(spark, src, out, manifest=man)
    bound = _file_groups(["k"])
    infos = parquet_file_infos(os.path.join(out, "blocks"))
    got = [bound(fp, pq) for fp, _s in infos]
    assert all(g <= b <= 300 for g, b in zip(groups, got)), (groups, got)
    assert got[0] < 300  # the header or the zone range bounds it


def test_group_aggs_refuses_an_int64_total_across_files(spark, tmp_path):
    """Each file's sum fits int64 and only the total does not: the
    driver fold above the valve refuses it as the local path does."""
    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    big = pa.array([1 << 62, (1 << 62) - 1], pa.int64())
    for j in range(2):
        pq.write_table(pa.table({"k": pa.array([1, 1], pa.int64()), "v": big}),
                       os.path.join(src, f"p-{j}.parquet"))
    encode_parquet_dataset(spark, src, out)
    for lb in (0, 128 << 20):
        with pytest.raises(ArithmeticError, match="outside int64"):
            group_aggs(spark, out, "k", ["v"], local_bytes=lb)


def test_group_aggs_answers_when_only_file_sums_leave_int64(spark, tmp_path,
                                                          monkeypatch):
    """One int64 rule, on the total: each file's sum (+-2^64) leaves int64
    but the total (0) fits, so every path answers — the driver-local
    walk, the driver fold above the valve and the Spark combine past the
    group bound."""
    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    for j, sign in enumerate((1, -1)):
        pq.write_table(
            pa.table({"k": pa.array([1] * 4, pa.int64()),
                      "v": pa.array([sign << 62] * 4, pa.int64())}),
            os.path.join(src, f"p-{j}.parquet"))
    encode_parquet_dataset(spark, src, out)
    want = [(1, 8, 8, 0, -(1 << 62), 1 << 62)]
    for lb in (128 << 20, 0):
        assert _rows(group_aggs(spark, out, "k", ["v"], local_bytes=lb)) == want
    monkeypatch.setattr(files, "DRIVER_FOLD_GROUPS", 0)
    in_call, _on_collect = _jobs(
        spark, lambda: group_aggs(spark, out, "k", ["v"], local_bytes=0))
    assert in_call == []  # the Spark combine
    assert _rows(group_aggs(spark, out, "k", ["v"], local_bytes=0)) == want


def test_group_aggs_combine_refuses_an_int64_total(spark, tmp_path,
                                                   monkeypatch):
    """Past the group bound the Spark combine sums as decimal(38,0) and
    refuses a total outside int64 with the driver fold's text, not ANSI's
    ARITHMETIC_OVERFLOW; an in-range total equals the driver fold's."""
    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    big = pa.array([1 << 62, (1 << 62) - 1], pa.int64())  # sums to 2^63 - 1
    for j, w in enumerate(([-5, None], [7, 3])):
        pq.write_table(
            pa.table({"k": pa.array([1, 1], pa.int64()), "v": big,
                      "w": pa.array(w, pa.int64())}),
            os.path.join(src, f"p-{j}.parquet"))
    encode_parquet_dataset(spark, src, out)
    folded = {sq: _rows(group_aggs(spark, out, "k", ["w"], local_bytes=0,
                                   with_sum_sq=sq)) for sq in (False, True)}
    monkeypatch.setattr(files, "DRIVER_FOLD_GROUPS", 0)
    for sq in (False, True):
        assert _rows(group_aggs(spark, out, "k", ["w"], local_bytes=0,
                                with_sum_sq=sq)) == folded[sq]
    with pytest.raises(Exception, match="outside int64") as err:
        group_aggs(spark, out, "k", ["v"], local_bytes=0).collect()
    assert "ARITHMETIC_OVERFLOW" not in str(err.value)


def test_top_k_trims_masked_blocks_that_repeat_values(spark, tmp_path):
    """A masked RLE block tallies one entry per run, so a value repeats;
    keeping only the block's k best entries still gives the exact top k
    of an untrimmed fold (here: sorting the matching rows)."""
    runs = [(5, 3), (7, 2), (5, 4), (9, 2), (7, 3), (2, 5), (9, 1), (5, 2)]
    r = [v for v, n in runs for _ in range(n)] * 4
    ids = np.arange(len(r), dtype=np.int64)
    lo, hi = 3, len(r) - 6
    _kind, meta, data = encode_column(pa.array(r, pa.int64()), "rle")
    vals, _c, _n = value_counts_column(
        meta, data, mask=(ids >= lo) & (ids <= hi))
    assert len(set(vals.to_pylist())) < len(vals)  # the mask repeats values

    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    pq.write_table(pa.table({"id": ids, "r": pa.array(r, pa.int64())}),
                   os.path.join(src, "p.parquet"))
    man = CodecManifest(columns={"id": ColumnPolicy(codec="for"),
                                 "r": ColumnPolicy(codec="rle")})
    encode_parquet_dataset(spark, src, out, manifest=man)
    matching = [v for i, v in zip(ids, r) if lo <= i <= hi]
    for k in (1, 2, 3, 5, 12, 100):
        for desc in (True, False):
            got = [x[0] for x in top_k(spark, out, "r", k, descending=desc,
                                       where=("id", lo, hi)).collect()]
            assert got == sorted(matching, reverse=desc)[:k], (k, desc)
