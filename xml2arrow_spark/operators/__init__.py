"""Spark operators: encode/decode, partitioning, checkpoint, verification."""

from xml2arrow_spark.operators.dataset import (
    dataset_metrics,
    decode_dataset,
    encode_parquet_dataset,
)
from xml2arrow_spark.operators.encode import (
    decode_table,
    encode_parquet,
    encode_parquet_stats,
    encode_table,
)

__all__ = [
    "encode_table",
    "encode_parquet",
    "encode_parquet_stats",
    "encode_parquet_dataset",
    "decode_table",
    "decode_dataset",
    "dataset_metrics",
]
