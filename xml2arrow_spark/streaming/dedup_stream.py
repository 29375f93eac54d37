"""Streaming exact dedup: a first-arrival filter over continuous ingestion
via ``applyInPandasWithState`` — the second custom stateful operator (the
sessionizer buffers and orders; this one is a keyed seen-set).

Each group key is the document text digest (md5); state is a single
``seen`` marker plus the winning doc id. The FIRST time a digest appears,
its winner row is emitted (append mode) — every later copy, in the same
micro-batch or any future one, is suppressed. Within one micro-batch the
winner is the minimum doc id of the batch's copies, so when the stream's
arrival order respects doc-id order (the gate stages range-partitioned
files; a production ingest replays append logs in order), the surviving
set is EXACTLY the batch ``exact_dedup`` keep-set (min id per distinct
text) — the property the oracle checks.

Scale shape: state per distinct document text is ~50 bytes (digest key +
id), the practical shape of continuous corpus-level dedup; no timeouts and
no watermark are needed because the decision is pure first-arrival (state
never needs to expire to be correct). That state grows with the corpus
forever, though (10 B docs ≈ 500 GB of state store) — the TIERED variant
below (:func:`dedup_stream_tiered` / :func:`run_dedup_stream_tiered`,
VERDICT r04 #4) bounds it: keyed state is only the HOT tier (recent
window, TTL-evicted), and every batch's first-arrivals fold into a
persisted parquet digest store (the archival tier) that filters
re-appearances of evicted digests — state RAM plateaus at the window's
distinct count while dedup coverage stays exact (pinned in
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "dedup_stream",
    "run_dedup_stream",
    "dedup_stream_tiered",
    "run_dedup_stream_tiered",
]

_OUT_DDL = "text_md5 string, keep_doc_id bigint"
_STATE_DDL = "keep_doc_id bigint"


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str = (
        "doc_id bigint, text string, source string, n_chars bigint"
    ),
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Streaming DataFrame of first-arrival winners (text_md5,
    keep_doc_id), one row per distinct text, emitted in the micro-batch
    its first copy arrives."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        from xml2arrow_spark.env import task_setup

        task_setup()
        if state.exists:
            return  # digest already won: suppress every later copy
        best = None
        for pdf in pdfs:
            for d in pdf["doc_id"]:
                d = int(d)
                if best is None or d < best:
                    best = d
        if best is None:
            return
        state.update((best,))
        yield pd.DataFrame(
            [(key[0], best)], columns=["text_md5", "keep_doc_id"]
        )

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    keyed = stream.select(
        F.md5(F.col("text")).alias("text_md5"), "doc_id"
    )
    return keyed.groupBy("text_md5").applyInPandasWithState(
        fn, _OUT_DDL, _STATE_DDL, "append", GroupStateTimeout.NoTimeout
    )


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    schema_ddl: str = (
        "doc_id bigint, text string, source string, n_chars bigint"
    ),
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Drain the source availableNow into ``out_dir``; returns the winner
    rows."""
    from xml2arrow_spark.streaming.run import drain_available_now

    winners = dedup_stream(spark, source_dir, schema_ddl, max_files_per_trigger)
    return drain_available_now(spark, winners, out_dir, _OUT_DDL, checkpoint_dir)


def dedup_stream_tiered(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str = (
        "doc_id bigint, text string, source string, n_chars bigint"
    ),
    max_files_per_trigger: int = 4,
    ttl_ms: int = 60_000,
) -> DataFrame:
    """HOT tier of the tiered dedup: first-arrival candidates with
    TTL-evicted keyed state. Rows are stamped with an INGEST-time column
    (``current_timestamp()``, constant per batch) carrying a ``ttl_ms``
    watermark, and each group arms an ``EventTimeTimeout`` at
    watermark + ttl ONCE, at first arrival — when a later batch's
    watermark passes it, the group times out and is REMOVED
    (state.remove(), never re-armed: a drained group must not keep firing
    every batch). EventTimeTimeout, NOT ProcessingTimeTimeout: under an
    availableNow drain the processing-time variant never converges — the
    post-data "cleaning up state" batches carry no data, the clock the
    timeout evaluates against doesn't advance, and the query spins forever
    (measured: 120 s+ on a 30-row source); the event-time clock is pinned
    to the data batches, so cleanup converges exactly like the
    sessionizer's.

    A digest re-appearing after eviction emits a SECOND candidate row;
    the archival store in :func:`run_dedup_stream_tiered` filters those,
    so eviction can never lose coverage — only RAM. State size is
    therefore O(distinct digests per TTL window), not O(corpus)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        from xml2arrow_spark.env import task_setup

        task_setup()
        if state.hasTimedOut:
            state.remove()  # evict from the hot tier; the store remembers
            return
        if state.exists:
            return  # hot suppress: digest already won within the window
        best = None
        ing_ms = 0
        for pdf in pdfs:
            for d in pdf["doc_id"]:
                d = int(d)
                if best is None or d < best:
                    best = d
            if len(pdf):
                # the batch's ingest stamp (constant per batch) — the TTL
                # anchor. NOT getCurrentWatermarkMs(): the watermark is 0 on
                # the first batch (and always lags by the delay), which gave
                # first-batch groups an epoch-dated timeout ≈ instant
                # eviction regardless of ttl_ms (r05 review finding).
                # ing_ms is computed JVM-side (unix_millis) — the pandas
                # timestamp arrives session-tz-NAIVE, and naive
                # .timestamp() assumes UTC, shifting the anchor by the
                # session-tz offset (second review finding: instant
                # eviction west of UTC, a setTimeoutTimestamp
                # IllegalArgumentException behind the watermark, inflated
                # TTL east of it)
                ing_ms = max(ing_ms, int(pdf["ing_ms"].iloc[0]))
        if best is None:
            return
        state.update((best,))
        # armed ONCE, at first arrival; expires when the ingest watermark
        # passes arrival + ttl (always > current watermark: the watermark
        # trails ing_ts by exactly the ttl delay)
        state.setTimeoutTimestamp(ing_ms + int(ttl_ms))
        yield pd.DataFrame(
            [(key[0], best)], columns=["text_md5", "keep_doc_id"]
        )

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    keyed = (
        stream.select(
            F.md5(F.col("text")).alias("text_md5"),
            "doc_id",
            F.current_timestamp().alias("ing_ts"),
        )
        .withWatermark("ing_ts", f"{int(ttl_ms)} milliseconds")
        # tz-safe epoch anchor for the state fn (see fn's comment)
        .withColumn("ing_ms", F.unix_millis(F.col("ing_ts")))
    )
    return keyed.groupBy("text_md5").applyInPandasWithState(
        fn, _OUT_DDL, _STATE_DDL, "append", GroupStateTimeout.EventTimeTimeout
    )


def run_dedup_stream_tiered(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    schema_ddl: str = (
        "doc_id bigint, text string, source string, n_chars bigint"
    ),
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 4,
    ttl_ms: int = 60_000,
    progress_holder: list | None = None,
) -> DataFrame:
    """Tiered streaming dedup drain: hot-tier candidates fold into the
    persisted parquet digest store per micro-batch (the archival tier).

    Each batch: candidates anti-join the store (drops re-appearances of
    evicted digests — first arrival stays the winner), then the survivors
    land in a ``batch=<id>`` partition via DYNAMIC partition overwrite, so
    a replayed batch overwrites its own partition instead of duplicating
    rows (the r04 idempotent-sink pattern). The store IS the winner set:
    O(distinct) on cheap storage, while executor state RAM stays O(TTL
    window). At 100x partition the store by a digest prefix so the
    anti-join bucket-prunes instead of scanning one directory.

    ``progress_holder``: optional list; the final streaming progress dict
    is appended (tests read state-store row counts from it). Returns the
    winner rows (text_md5, keep_doc_id) read back from the store."""
    cand = dedup_stream_tiered(
        spark, source_dir, schema_ddl, max_files_per_trigger, ttl_ms
    )
    store_ddl = _OUT_DDL + ", batch bigint"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from xml2arrow_spark import fsutil

        out = batch_df.withColumn("batch", F.lit(int(batch_id)))
        # Hadoop-FS existence check, NOT os.path.isdir: the store lives on
        # hdfs://-style storage in exactly the cluster scenario this tier
        # exists for, where a local-fs check is always False and would
        # silently disable re-appearance filtering (r05 review finding)
        if fsutil.exists(spark, store_path):
            known = (
                spark.read.schema(store_ddl)
                .parquet(store_path)
                .select("text_md5")
            )
            out = out.join(known, "text_md5", "left_anti")
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(store_path)
        )

    q = (
        cand.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(store_path + "_checkpoint", "cp"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if progress_holder is not None:
        progress_holder.append(q.lastProgress)
    return (
        spark.read.schema(store_ddl)
        .parquet(store_path)
        .select("text_md5", "keep_doc_id")
    )
