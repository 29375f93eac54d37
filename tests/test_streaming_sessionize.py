"""applyInPandasWithState sessionization: batch parity, incremental
emission across watermark advances, disorder tolerance, late-drop contract."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from xml2arrow_spark.pipeline.events import sessionize
from xml2arrow_spark.streaming.sessionize_stream import (
    FLUSH_EVENT_ID,
    run_sessionize_stream,
)

EV_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double"
)

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
T0_US = 1_704_067_200 * 1_000_000  # T0 as epoch microseconds (the
# operator emits absolute epoch-us, same as the batch sessionize)


def _ev(eid, sec, user):
    return (eid, T0 + datetime.timedelta(seconds=sec), user, "e", 0.0)


def _sentinel(sec):
    return (FLUSH_EVENT_ID, T0 + datetime.timedelta(seconds=sec), -1, "f", 0.0)


def _stage(spark, tmp_path, name, batches):
    """One appended parquet file per batch with explicit increasing
    mtimes (deterministic micro-batch order under the file source's
    oldest-first rule — rapid writes can otherwise tie)."""
    from xml2arrow_spark.streaming.run import stage_ordered

    src = str(tmp_path / name)
    stage_ordered(
        [spark.createDataFrame(rows, EV_DDL) for rows in batches], src
    )
    return src


def test_stream_matches_batch_on_fixture(spark, tmp_path, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mm = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span = int((mm["hi"] - mm["lo"]).total_seconds()) + 60
    src = str(tmp_path / "src")
    ev.repartitionByRange(6, "ts").write.parquet(src)
    import glob
    import time

    before = set(glob.glob(os.path.join(src, "*.parquet")))
    spark.createDataFrame(
        [(FLUSH_EVENT_ID, mm["hi"] + datetime.timedelta(seconds=span + 5400),
          -1, "f", 0.0)], EV_DDL,
    ).write.mode("append").parquet(src)
    for p in set(glob.glob(os.path.join(src, "*.parquet"))) - before:
        os.utime(p, (time.time() + 60, time.time() + 60))  # sentinel LAST
    got = run_sessionize_stream(
        spark, src, str(tmp_path / "out"), watermark_delay=f"{span} seconds"
    )
    want = sessionize(ev)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_emission_and_disorder(spark, tmp_path):
    """Sessions are emitted as soon as the watermark proves them closed
    (not only at the flush), out-of-order WITHIN the delay is exact, and
    maxFilesPerTrigger=1 forces the multi-batch path."""
    gap = 100
    # user 1: two sessions; batch 2 delivers an out-of-order event (t=30)
    # that belongs to session 0 — the 60s delay keeps it in-contract
    b1 = [_ev(1, 10, 1), _ev(2, 40, 1)]
    b2 = [_ev(3, 30, 1), _ev(4, 500, 1)]  # t=30 late-but-in-delay; t=500 new sess
    b3 = [_ev(5, 2000, 1)]  # watermark 2000-60 proves session@500 closed
    b4 = [_sentinel(5000)]
    src = _stage(spark, tmp_path, "src", [b1, b2, b3, b4])
    got = run_sessionize_stream(
        spark, src, str(tmp_path / "out"), gap_seconds=gap,
        watermark_delay="60 seconds", max_files_per_trigger=1,
    ).collect()
    rows = {(r.user_id, r.session_idx): r for r in got}
    assert set(rows) == {(1, 0), (1, 1), (1, 2)}
    s0 = rows[(1, 0)]
    assert (s0.n_events, s0.t_start_us, s0.t_end_us) == (
        3, T0_US + 10_000_000, T0_US + 40_000_000
    )  # the disordered t=30 landed in session 0
    assert rows[(1, 1)].n_events == 1
    assert rows[(1, 1)].t_start_us == T0_US + 500_000_000
    assert rows[(1, 2)].n_events == 1  # t=2000, closed by the sentinel


def test_bucket_counts_agree(spark, tmp_path):
    """The bucketed multi-user state body (r06) emits the SAME session set
    at every bucket fan-out — n_buckets=1 (all users share one group, the
    worst-case multi-user path) vs a spread-out fan-out vs the batch
    operator, on a multi-user disordered stream."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    eid = 1
    for user in range(1, 14):
        for t in sorted(int(x) for x in rng.integers(0, 4000, 25)):
            rows.append(_ev(eid, t, user))
            eid += 1
    rng.shuffle(rows)
    b1, b2, b3 = rows[:120], rows[120:240], rows[240:]
    batches = [b1, b2, b3, [_sentinel(20_000)]]
    outs = []
    for k, nb in enumerate((1, 7)):
        src = _stage(spark, tmp_path, f"srcb{k}", batches)
        got = run_sessionize_stream(
            spark, src, str(tmp_path / f"outb{k}"), gap_seconds=100,
            watermark_delay="4100 seconds", max_files_per_trigger=1,
            n_buckets=nb,
        )
        outs.append(
            sorted(tuple(r) for r in got.collect())
        )
    assert outs[0] == outs[1]
    ev = spark.createDataFrame(b1 + b2 + b3, EV_DDL)
    want = sorted(
        tuple(r) for r in sessionize(ev, gap_seconds=100).collect()
    )
    assert outs[0] == want


def test_late_into_emitted_history_dropped(spark, tmp_path):
    """An event that would fall into ALREADY-EMITTED history is dropped
    (emitted append-mode rows are immutable) — it neither mutates the
    emitted session nor spawns a phantom out-of-order session. Spark does
    not pre-filter late rows for applyInPandasWithState, so this is the
    operator's own frontier guard."""
    gap = 100
    b1 = [_ev(1, 10, 7), _ev(2, 20, 7)]
    b2 = [_ev(3, 10_000, 7)]  # advances watermark far past session 0
    # batch 3 triggers the group with wm=10_000s: session 0 EMITS here
    b3 = [_ev(4, 10_001, 7)]
    b4 = [_ev(5, 25, 7)]      # falls into emitted history: must be dropped
    b5 = [_sentinel(50_000)]
    src = _stage(spark, tmp_path, "src2", [b1, b2, b3, b4, b5])
    got = run_sessionize_stream(
        spark, src, str(tmp_path / "out2"), gap_seconds=gap,
        watermark_delay="0 seconds", max_files_per_trigger=1,
    ).collect()
    rows = {(r.user_id, r.session_idx): r for r in got}
    assert rows[(7, 0)].n_events == 2  # late event did not mutate history
    assert rows[(7, 0)].t_end_us == T0_US + 20_000_000
    assert rows[(7, 1)].n_events == 2  # t=10000, 10001
    assert len(rows) == 2  # and no phantom session from the dropped event


def test_resume_pins_n_buckets(spark, tmp_path):
    """n_buckets keys the state (pmod(user_id, n_buckets)): a resume may
    not remap users. The first run records it in the checkpoint; a
    different count is refused, an unset one adopts the recorded count."""
    import pytest

    from xml2arrow_spark.streaming.run import stage_ordered

    b1 = [_ev(1, 10, 1), _ev(2, 20, 2), _ev(3, 500, 1)]
    b2 = [_ev(4, 30, 2), _ev(5, 560, 1), _ev(6, 900, 3)]
    src = _stage(spark, tmp_path, "src_pin", [b1])
    out, cp = str(tmp_path / "out_pin"), str(tmp_path / "cp_pin")
    kw = dict(gap_seconds=100, watermark_delay="4100 seconds",
              max_files_per_trigger=1, checkpoint_dir=cp)
    run_sessionize_stream(spark, src, out, n_buckets=7, **kw).collect()

    stage_ordered(
        [spark.createDataFrame(b2, EV_DDL),
         spark.createDataFrame([_sentinel(20_000)], EV_DDL)], src
    )
    with pytest.raises(ValueError, match="n_buckets=7"):
        run_sessionize_stream(spark, src, out, n_buckets=5, **kw)
    got = sorted(
        tuple(r) for r in run_sessionize_stream(spark, src, out, **kw).collect()
    )
    want = sorted(
        tuple(r) for r in sessionize(
            spark.createDataFrame(b1 + b2, EV_DDL), gap_seconds=100
        ).collect()
    )
    assert got == want
    # a checkpoint with progress but no record cannot be checked: refuse
    # an unset n_buckets rather than guess the count it was keyed with
    os.remove(os.path.join(cp, "n_buckets"))
    with pytest.raises(ValueError, match="no recorded n_buckets"):
        run_sessionize_stream(spark, src, out, **kw)
