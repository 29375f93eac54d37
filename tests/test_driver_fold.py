"""The bounded metadata aggregates fold their per-file partials on the
driver on BOTH dispatch paths (``BlockWalk.partials``): above the
``local_bytes`` valve that is one fan-out job with no shuffle, run inside
the call, and the returned frame is driver-local, so collecting it runs
no further job.

Jobs are counted per call through a job group and the status tracker."""

from __future__ import annotations

import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xml2arrow_spark.operators.dataset import (
    count_where,
    encode_parquet_dataset,
    time_bucket_count,
    top_k,
)
from xml2arrow_spark.sources.files import parquet_file_infos


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Four source files of ten rows, so four blocks files."""
    base = tmp_path_factory.mktemp("driver_fold")
    src, out = str(base / "src"), str(base / "ds")
    os.makedirs(src)
    for j in range(4):
        ids = np.arange(j * 10, j * 10 + 10, dtype=np.int64)
        pq.write_table(pa.table({"id": ids, "t": ids * 3}),
                       os.path.join(src, f"part-{j}.parquet"))
    encode_parquet_dataset(spark, src, out)
    assert len(parquet_file_infos(os.path.join(out, "blocks"))) == 4
    return out


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


@pytest.mark.parametrize("op", ["count_where", "time_bucket_count"])
def test_bounded_fold_runs_one_job_eagerly(spark, store, op):
    def call():
        if op == "count_where":
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
