"""Sources: deterministic synthetic token tables + parquet file planning."""

from xml2arrow_spark.sources.tokens import (
    generate_tokens_arrow,
    tokens_dataframe,
    tokenize_documents,
)
from xml2arrow_spark.sources.files import parquet_file_infos, plan_parquet_tasks

__all__ = [
    "generate_tokens_arrow",
    "tokens_dataframe",
    "tokenize_documents",
    "parquet_file_infos",
    "plan_parquet_tasks",
]
