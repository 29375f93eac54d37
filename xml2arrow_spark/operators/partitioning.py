"""Explicit partitioning for encode-work balance: n_tok range buckets + skew salting.

The reference is single-threaded, so balance is our problem alone. The north
rule demands *explicit* handling (not AQE-only):

- ``repartition_by_work``: rows are ragged (1..8192 tokens); balancing on row
  COUNT would leave token-count skew, so we bucket by ``n_tok`` and
  range-partition on (bucket, salt). The salt spreads the giant head bucket
  (``source='src0'`` is ~60% of rows in the fixture) across many tasks.
- ``salt_skewed``: generic salting helper for skewed key joins/aggregations.

Both are pure DataFrame ops — Catalyst sees through them, and AQE can still
coalesce on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["with_work_bucket", "repartition_by_work", "salt_skewed", "widen_scan"]


def widen_scan(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Scale-adaptive fan-out for compute-heavy per-row stages (opt guide
    §2.5 input skew / §6 split sizing): a small single-file input yields
    fewer byte-range splits than the cluster has cores, so the per-row
    work (regex passes, token folds, hash kernels) serializes on a
    handful of tasks — and byte-balanced splits are text-volume SKEWED,
    so one task can carry several times the median work (measured 7x on
    pii_scrub: 3.12 s -> 0.44 s at sf1.0/local[32] from this one change).

    When the plan's scan parallelism is below ``min_fraction`` x
    defaultParallelism, repartition to EXACTLY defaultParallelism (a
    fixed-number round-robin repartition, which AQE never coalesces —
    sortBeforeRepartition keeps the row placement deterministic under
    retries). A corpus-scale input (splits >= cores) is returned
    untouched, so the exchange only ever moves a few MB, exactly when it
    buys otherwise-idle cores. Never applied to streaming inputs (their
    partitioning is the trigger's business)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if target <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df  # un-plannable input: leave as-is
    if n >= max(2, int(target * min_fraction)):
        return df
    return df.repartition(target)


def with_work_bucket(df: DataFrame, n_tok_col: str = "n_tok", n_buckets: int = 8) -> DataFrame:
    """Add ``work_bucket`` = log2-scaled n_tok bucket (0..n_buckets-1).

    Log-scale because n_tok is log-normal (FIXTURES.md F1): linear buckets
    would put almost everything in bucket 0. floor(log2(n)) is computed as
    ``length(bin(n)) - 1`` — exact integer arithmetic (float log2 can return
    2.9999... for powers of two and disagree across engines/oracles).
    """
    bits = F.length(F.bin(F.greatest(F.col(n_tok_col).cast("bigint"), F.lit(1)))) - 1
    return df.withColumn(
        "work_bucket",
        F.least(bits.cast("int"), F.lit(n_buckets - 1)),
    )


def repartition_by_work(
    df: DataFrame,
    n_partitions: int,
    n_tok_col: str = "n_tok",
    salt_buckets: int = 16,
) -> DataFrame:
    """Range-partition by (work_bucket, salt) so each task gets a similar
    token budget, not just a similar row count.

    The salt is a deterministic hash of doc_id (reproducible runs — same
    placement every run, which the checkpoint/resume story depends on), not
    ``rand()``.
    """
    bucketed = with_work_bucket(df, n_tok_col)
    salted = bucketed.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets)).cast("int")
    )
    out = salted.repartitionByRange(n_partitions, "work_bucket", "salt")
    return out.drop("work_bucket", "salt")


def salt_skewed(
    df: DataFrame,
    key_col: str,
    skewed_values: list[str],
    n_salts: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Add ``salted_key`` = key for normal values, key#<salt> for skewed ones.

    Aggregations then run in two stages: partial on salted_key, final on key —
    the classic skew-salting pattern the north rule calls for.
    """
    is_skewed = F.col(key_col).isin(skewed_values)
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("string")
    return df.withColumn(
        "salted_key",
        F.when(is_skewed, F.concat_ws("#", F.col(key_col), salt)).otherwise(
            F.col(key_col)
        ),
    )

