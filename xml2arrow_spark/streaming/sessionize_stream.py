"""Custom stateful streaming operator: gap sessionization via
``applyInPandasWithState`` — the arbitrary-state primitive the built-in
streaming aggregations can't express (per-group ordered merge + incremental
session numbering + exact integer session bounds).

Contract (the streaming twin of :func:`xml2arrow_spark.pipeline.events.
sessionize`, same output schema and values): events arrive in micro-batches
with at most ``watermark_delay`` of event-time disorder; each user's events
are BUFFERED in state, and a session is emitted exactly once, as soon as it
is *provably closed* — its last event plus the gap lies before the current
watermark, so no event that could still arrive may extend or precede it.
Emission is therefore in per-user time order and ``session_idx`` is the
same 0-based counter the batch operator assigns.

Scale shape:

- state per user = ONLY the events of not-yet-closed sessions (the
  watermark prunes everything emitted) plus one counter — bounded by
  ``watermark_delay`` + session span, not by stream length;
- the buffered merge is exact under ANY within-watermark disorder — no
  reliance on file arrival order;
- Spark does NOT pre-filter late rows for applyInPandasWithState (the
  user owns lateness), so the operator tracks the EMITTED FRONTIER (last
  emitted session end) in state: an event that would fall into emitted
  history — ``tse <= frontier + gap`` — is dropped (emitted rows are
  immutable in append mode); any later event, even one behind the
  watermark, is still integrated exactly;
- ``EventTimeTimeout`` keeps groups flushing even when a micro-batch
  carries no rows for them (the final no-data batch after a flush
  sentinel drains every remaining closed session);
- users are grouped into ``n_buckets`` HASH BUCKETS (``pmod(user_id, B)``)
  and the state function handles every user of a bucket in one vectorized
  body (r06): ``applyInPandasWithState`` pays a fixed per-GROUP cost
  (state (de)serialization, pandas construction, one Python call) every
  micro-batch, so 15k per-user groups cost ~30k calls per drain while 128
  buckets cost ~256 — measured ~2x on the whole drain at 1M events/15k
  users with bit-identical emitted rows. Per-user semantics are preserved
  exactly: the bucket body segments its event buffer per user and applies
  the same (ts, event_id) sort, gap cuts, closed-prefix emission and
  frontier drop as the per-user form (equivalence pinned by
  tests/test_streaming_sessionize.py, including a cross-bucket-count net).

A stream never "ends", so fully draining requires advancing the watermark
past the last session: ingest one sentinel row (``event_id = -1``, any
user) with an event time beyond ``last_real + delay + gap``; sentinel rows
advance the watermark but are excluded from every buffer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from xml2arrow_spark.pipeline.events import _EPOCH_US, GAP_SECONDS

__all__ = ["sessionize_stream", "run_sessionize_stream", "FLUSH_EVENT_ID"]

FLUSH_EVENT_ID = -1

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double"
)
# the columns the operator actually reads — a caller that stages its own
# source dir can stage just these (guide: project early; event_type/value
# never cross the scan, the shuffle, or the Python boundary)
EVENTS_NARROW_DDL = "event_id bigint, ts timestamp, user_id bigint"
_OUT_DDL = (
    "user_id bigint, session_idx bigint, n_events bigint, "
    "t_start_us bigint, t_end_us bigint, dur_us bigint"
)
_STATE_DDL = (
    "users array<bigint>, next_idxs array<bigint>, emitted_ends array<bigint>, "
    "ev_user array<bigint>, ev_ts array<bigint>, ev_eid array<bigint>"
)

_NEG_INF = -(1 << 62)


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    gap_seconds: int = GAP_SECONDS,
    watermark_delay: str = "0 seconds",
    max_files_per_trigger: int = 4,
    n_buckets: int | None = None,
    events_ddl: str = EVENTS_DDL,
) -> DataFrame:
    """Streaming DataFrame of closed sessions (append mode) from a parquet
    directory stream of events.

    ``n_buckets`` sets the hash-bucket fan-out the per-user state is
    sharded into (default: ``max(128, 4 * defaultParallelism)`` — enough
    groups to spread over every shuffle partition at any core count while
    keeping the per-group machinery cost amortized over many users). It is
    part of the state key: a caller that manages its own checkpoint must
    keep it fixed across resumes (:func:`run_sessionize_stream` pins it).
    ``events_ddl`` is the staged source schema; a caller that controls the
    staging can pass :data:`EVENTS_NARROW_DDL` after staging only the three
    columns the operator reads."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_seconds * 1_000_000
    if n_buckets is None:
        n_buckets = _default_n_buckets(spark)

    def fn(key, pdfs, state):
        # fully vectorized MULTI-USER bucket body (r06): one invocation
        # handles every user hashed into this bucket — whole-array numpy
        # with semantics IDENTICAL to the per-user form (same
        # (ts, event_id) sort order, same gap cuts, same per-user
        # closed-prefix emission rule, same frontier drop); the per-user
        # reference lives on as the property-net oracle in
        # tests/test_streaming_sessionize.py
        import numpy as np
        import pandas as pd

        from xml2arrow_spark.env import task_setup

        task_setup()
        if state.exists:
            su, sn, se, bu0, bt0, be0 = (
                np.asarray(x, dtype=np.int64) for x in state.get
            )
            parts_u, parts_t, parts_e = [bu0], [bt0], [be0]
        else:
            su = sn = se = np.empty(0, dtype=np.int64)
            parts_u, parts_t, parts_e = [], [], []
        for pdf in pdfs:
            # drop sentinels AND events that would fall into the user's
            # already-EMITTED history (emitted rows are immutable);
            # anything later than frontier+gap is integrated exactly,
            # even if it arrived behind the watermark
            u_a = pdf["user_id"].to_numpy()
            ts_a = pdf["tse"].to_numpy()
            eid_a = pdf["event_id"].to_numpy()
            m = eid_a != FLUSH_EVENT_ID
            if su.size and m.any():
                idx = np.searchsorted(su, u_a)
                idx_c = np.minimum(idx, su.size - 1)
                known = (idx < su.size) & (su[idx_c] == u_a)
                end_u = np.where(known, se[idx_c], _NEG_INF)
                m &= ts_a > end_u + gap_us
            if m.any():
                parts_u.append(u_a[m].astype(np.int64))
                parts_t.append(ts_a[m].astype(np.int64))
                parts_e.append(eid_a[m].astype(np.int64))
        if parts_u:
            ub = np.concatenate(parts_u)
            tb = np.concatenate(parts_t)
            eb = np.concatenate(parts_e)
            order = np.lexsort((eb, tb, ub))  # per-user (ts, event_id) runs
            ub, tb, eb = ub[order], tb[order], eb[order]
        else:
            ub = tb = eb = np.empty(0, dtype=np.int64)
        wm_us = state.getCurrentWatermarkMs() * 1000
        kept_u, kept_t, kept_e = ub, tb, eb
        out = None
        if ub.size:
            n = ub.size
            newsess = np.empty(n, dtype=bool)
            newsess[0] = True
            newsess[1:] = (ub[1:] != ub[:-1]) | ((tb[1:] - tb[:-1]) > gap_us)
            s_start = np.flatnonzero(newsess)
            s_end = np.append(s_start[1:], n)  # exclusive
            s_user = ub[s_start]
            s_first = tb[s_start]
            s_last = tb[s_end - 1]
            nsess = s_start.size
            # provably closed: nothing arriving >= watermark can extend
            # it; per user, sessions are time-ordered, so the closed set
            # is a per-user PREFIX — a session is emitted iff every
            # session up to and including it (for its user) is closable
            closable = s_last + gap_us < wm_us
            ufirst = np.empty(nsess, dtype=bool)
            ufirst[0] = True
            ufirst[1:] = s_user[1:] != s_user[:-1]
            nc = np.cumsum(~closable)
            ex = nc - ~closable  # exclusive cumsum
            seg_id = np.cumsum(ufirst) - 1
            seg_first = np.flatnonzero(ufirst)
            closed_mask = (nc - ex[seg_first][seg_id]) == 0
            if closed_mask.any():
                pos_in_seg = np.arange(nsess, dtype=np.int64) - seg_first[seg_id]
                if su.size:
                    idx = np.searchsorted(su, s_user)
                    idx_c = np.minimum(idx, su.size - 1)
                    known = (idx < su.size) & (su[idx_c] == s_user)
                    base_next = np.where(known, sn[idx_c], 0)
                else:
                    base_next = np.zeros(nsess, dtype=np.int64)
                cm = closed_mask
                t0 = s_first[cm]
                t1 = s_last[cm]
                out = pd.DataFrame(
                    {
                        "user_id": s_user[cm],
                        "session_idx": (base_next + pos_in_seg)[cm],
                        "n_events": (s_end - s_start)[cm],
                        "t_start_us": t0,
                        "t_end_us": t1,
                        "dur_us": t1 - t0,
                    }
                )
                # fold the per-user counters forward: next_idx advances by
                # the closed count, emitted_end to the last closed
                # session's end (counters are the whole frontier contract,
                # so they persist even after a user's buffer drains)
                seg_closed = np.bincount(seg_id, weights=cm).astype(np.int64)
                has = seg_closed > 0
                uc = s_user[seg_first][has]
                add_n = seg_closed[has]
                new_end = s_last[seg_first[has] + add_n - 1]
                merged = np.union1d(su, uc)
                mn = np.zeros(merged.size, dtype=np.int64)
                me = np.full(merged.size, _NEG_INF, dtype=np.int64)
                if su.size:
                    p = np.searchsorted(merged, su)
                    mn[p] = sn
                    me[p] = se
                p = np.searchsorted(merged, uc)
                mn[p] += add_n
                me[p] = new_end
                su, sn, se = merged, mn, me
                keep_ev = ~closed_mask[np.cumsum(newsess) - 1]
                kept_u, kept_t, kept_e = ub[keep_ev], tb[keep_ev], eb[keep_ev]
        state.update(
            (
                su.tolist(),
                sn.tolist(),
                se.tolist(),
                kept_u.tolist(),
                kept_t.tolist(),
                kept_e.tolist(),
            )
        )
        # re-arm ONLY while something is buffered: a drained bucket must
        # not re-fire on every future watermark advance; new data for the
        # bucket triggers the function anyway
        if kept_u.size:
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        if out is not None:
            yield out

    stream = (
        spark.readStream.schema(events_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
        .withWatermark("ts", watermark_delay)
    )
    ev = stream.select(
        "user_id", "event_id", F.expr(_EPOCH_US).alias("tse"), "ts",
        F.pmod(F.col("user_id"), F.lit(n_buckets)).alias("bucket"),
    )
    return ev.groupBy("bucket").applyInPandasWithState(
        fn, _OUT_DDL, _STATE_DDL, "append", GroupStateTimeout.EventTimeTimeout
    )


def run_sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    gap_seconds: int = GAP_SECONDS,
    watermark_delay: str = "0 seconds",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 4,
    n_buckets: int | None = None,
    events_ddl: str = EVENTS_DDL,
) -> DataFrame:
    """Drain the source with an availableNow query into ``out_dir`` and
    return the emitted session rows.

    ``n_buckets`` is recorded in the checkpoint on the first run. On resume
    an unset ``n_buckets`` adopts the recorded value and a different one is
    refused: the bucket is the state key, so a new count would silently
    move users to new, empty state."""
    from xml2arrow_spark.streaming.run import drain_available_now

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_stream_checkpoint")
    sessions = sessionize_stream(
        spark, source_dir, gap_seconds, watermark_delay,
        max_files_per_trigger=max_files_per_trigger,
        n_buckets=_pin_n_buckets(spark, checkpoint_dir, n_buckets),
        events_ddl=events_ddl,
    )
    return drain_available_now(spark, sessions, out_dir, _OUT_DDL, checkpoint_dir)


def _default_n_buckets(spark: SparkSession) -> int:
    return max(128, 4 * spark.sparkContext.defaultParallelism)


def _pin_n_buckets(
    spark: SparkSession, checkpoint_dir: str, n_buckets: int | None
) -> int:
    """The bucket count this checkpoint's state was keyed with: recorded
    on the first run, checked against ``n_buckets`` on resume. A checkpoint
    with progress but no record (written before the pin existed) needs an
    explicit ``n_buckets``: its count cannot be recovered."""
    from xml2arrow_spark import fsutil

    pin = checkpoint_dir.rstrip("/") + "/n_buckets"
    if fsutil.exists(spark, pin):
        pinned = int(fsutil.read_text(spark, pin))
        if n_buckets is not None and int(n_buckets) != pinned:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was written with n_buckets="
                f"{pinned}; resuming with n_buckets={n_buckets} would remap "
                f"users to new state keys"
            )
        return pinned
    if n_buckets is None:
        if fsutil.exists(spark, checkpoint_dir.rstrip("/") + "/offsets"):
            raise ValueError(
                f"checkpoint {checkpoint_dir} has no recorded n_buckets; "
                f"pass the n_buckets it was written with"
            )
        n_buckets = _default_n_buckets(spark)
    fsutil.mkdirs(spark, checkpoint_dir)
    fsutil.write_text_atomic(spark, pin, str(int(n_buckets)))
    return int(n_buckets)
