"""Work balancing: n_tok range buckets + deterministic skew salting."""

import pyspark.sql.functions as F

from xml2arrow_spark.operators.partitioning import (
    repartition_by_work,
    salt_skewed,
    with_work_bucket,
)
from xml2arrow_spark.sources import tokens_dataframe


def test_work_buckets_are_log_scaled(spark):
    df = tokens_dataframe(spark, 3000, n_partitions=2)
    b = with_work_bucket(df)
    stats = b.groupBy("work_bucket").count().orderBy("work_bucket").collect()
    assert len(stats) >= 3  # log-normal n_tok spreads over several buckets
    assert all(0 <= r["work_bucket"] <= 7 for r in stats)


def test_repartition_by_work_balances_tokens(spark):
    df = tokens_dataframe(spark, 6000, n_partitions=2)
    out = repartition_by_work(df, 8)
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("n_tok").alias("tok"))
        .collect()
    )
    toks = [r["tok"] for r in per_part]
    assert len(toks) >= 4
    # no task should carry more than ~3x the mean token budget
    mean = sum(toks) / len(toks)
    assert max(toks) < 3 * mean, toks


def test_repartition_is_deterministic(spark):
    df = tokens_dataframe(spark, 2000, n_partitions=2)
    a = repartition_by_work(df, 4).withColumn("pid", F.spark_partition_id())
    b = repartition_by_work(df, 4).withColumn("pid", F.spark_partition_id())
    diff = (
        a.select("doc_id", "pid")
        .exceptAll(b.select("doc_id", "pid"))
        .count()
    )
    assert diff == 0  # same placement every run (resume depends on this)


def test_salt_skewed_splits_head_key(spark):
    df = tokens_dataframe(spark, 4000, n_partitions=2)
    skewed = ["src0"]  # the fixture gives src0 ~60% of rows
    salted = salt_skewed(df, "source", skewed, n_salts=8)
    n_src0_keys = (
        salted.filter(F.col("source") == "src0")
        .select("salted_key")
        .distinct()
        .count()
    )
    assert n_src0_keys == 8
    # non-skewed keys unchanged
    assert (
        salted.filter(~F.col("source").isin(skewed))
        .filter(F.col("salted_key") != F.col("source"))
        .count()
        == 0
    )
    # two-stage aggregation over salted_key reproduces exact per-key counts
    partial = salted.groupBy("salted_key", "source").count()
    final = partial.groupBy("source").agg(F.sum("count").alias("n"))
    direct = df.groupBy("source").count().withColumnRenamed("count", "n")
    assert final.exceptAll(direct).count() == 0
