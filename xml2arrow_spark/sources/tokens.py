"""Deterministic token-table sources (FIXTURES.md F1).

Two ways to obtain the input-hint table
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``:

1. :func:`generate_tokens_arrow` / :func:`tokens_dataframe` — pure-numpy
   synthetic generator, seed-fixed, with the F1 distribution variants that
   exercise each codec's selection + round-trip path. This is the engine's
   analog of the reference's generated benchmark XML
   (/root/reference/benches/parse_benchmark.rs:331-371) — synthetic but
   deterministic, sized by a scale parameter.

2. :func:`tokenize_documents` — derive a token table from the driver's
   ``documents`` parquet with a tokenizer built ONLY from SQL-expressible
   primitives (length/ascii/reverse arithmetic), so a DuckDB oracle can
   reproduce it exactly for the correctness gate.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = [
    "VARIANTS",
    "generate_tokens_arrow",
    "tokens_dataframe",
    "tokenize_documents",
    "TOKENIZE_ORACLE_SNIPPET",
]

VOCAB = 50257  # GPT-2-ish vocab size, per FIXTURES.md uniform_vocab
SOURCES = ["src0", "src1", "src2", "src3", "src4", "src5", "src6", "src7"]
# Zipf-skew: src0 ~60% of rows (exercises salting, FIXTURES.md F1)
_SOURCE_P = np.array([0.60, 0.17, 0.09, 0.05, 0.04, 0.02, 0.02, 0.01])


def _values(rng: np.random.Generator, total: int, variant: str) -> np.ndarray:
    if variant == "uniform_vocab":
        return rng.integers(0, VOCAB, total, dtype=np.int32)
    if variant == "low_card":
        return rng.integers(0, 64, total, dtype=np.int32)
    if variant == "runny":
        out = np.empty(0, dtype=np.int32)
        while out.size < total:
            k = max(total // 20, 1024)
            out = np.concatenate(
                [out, np.repeat(rng.integers(0, 256, k).astype(np.int32), rng.geometric(0.05, k))]
            )
        return out[:total]
    if variant == "narrow_range":
        return rng.integers(100_000, 100_256, total, dtype=np.int32)
    if variant == "skewed_zipf":
        z = rng.zipf(1.2, total).astype(np.int64)
        return np.minimum(z - 1, VOCAB - 1).astype(np.int32)
    if variant == "constant":
        return np.full(total, 7, dtype=np.int32)
    if variant == "negative_sentinels":
        v = rng.integers(0, 1000, total, dtype=np.int32)
        v[rng.random(total) < 0.01] = -1
        return v
    if variant == "boundary_values":
        v = rng.integers(0, 1000, total, dtype=np.int32)
        if total >= 3:
            v[0], v[1], v[2] = np.int32(-(2**31)), np.int32(2**31 - 1), np.int32(0)
        return v
    raise ValueError(f"unknown variant {variant!r}")


VARIANTS = [
    "uniform_vocab",
    "low_card",
    "runny",
    "narrow_range",
    "skewed_zipf",
    "constant",
    "negative_sentinels",
    "boundary_values",
    "empty_arrays",
    "single_token",
]


def generate_tokens_arrow(
    n_rows: int, variant: str = "uniform_vocab", seed: int = 42, start_id: int = 0
) -> pa.Table:
    """F1 table as a pyarrow Table; deterministic for (n_rows, variant, seed, start_id)."""
    rng = np.random.default_rng(seed)
    n_tok = np.clip(rng.lognormal(5.0, 1.0, n_rows), 1, 8192).astype(np.int32)
    if variant == "empty_arrays":
        n_tok[rng.random(n_rows) < 0.01] = 0
        vvariant = "uniform_vocab"
    elif variant == "single_token":
        n_tok[:] = 1
        vvariant = "uniform_vocab"
    else:
        vvariant = variant
    total = int(n_tok.sum())
    values = _values(rng, total, vvariant)
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.LargeListArray.from_arrays(
        pa.array(offsets, type=pa.int64()), pa.array(values, type=pa.int32())
    ).cast(pa.list_(pa.int32()))
    doc_id = pa.array([f"doc-{i:08d}" for i in range(start_id, start_id + n_rows)])
    source = pa.array(
        np.array(SOURCES, dtype=object)[rng.choice(len(SOURCES), n_rows, p=_SOURCE_P)]
    )
    return pa.table(
        {
            "doc_id": doc_id,
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": source,
        }
    )


def tokens_dataframe(spark, n_rows: int, variant: str = "uniform_vocab", seed: int = 42,
                     n_partitions: int | None = None):
    """F1 table as a Spark DataFrame, generated *on executors*.

    At 10^12-sequence scale a driver-side generate-and-parallelize would be
    the bottleneck, so generation is distributed: ``spark.range`` over
    partition seeds -> ``mapInArrow`` producing each partition's slice
    deterministically. The result is identical for fixed
    (n_rows, variant, seed, n_partitions) regardless of cluster size.
    """
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from xml2arrow_spark.sources.files import map_tasks

    if n_partitions is None:
        n_partitions = max(spark.sparkContext.defaultParallelism, 1)
    bounds = np.linspace(0, n_rows, n_partitions + 1).astype(np.int64)
    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), False),
        ]
    )
    # slice i is unit i, alone in partition i (map_tasks)
    slices = [
        (i, int(bounds[i]), int(bounds[i + 1])) for i in range(n_partitions)
    ]

    def gen(unit):
        pid, lo, hi = unit
        if hi > lo:
            yield from generate_tokens_arrow(
                hi - lo, variant=variant, seed=seed + pid, start_id=lo
            ).to_batches()

    return map_tasks(spark, slices, gen, schema)


# -- SQL-expressible tokenizer over the documents table ---------------------

# token(word) = (length*7919 + ascii(first)*31 + ascii(reverse)*7) % VOCAB —
# every primitive exists identically in Spark SQL and DuckDB, so the driver's
# oracle can verify the derived table value-for-value.
TOKENIZE_ORACLE_SNIPPET = (
    "((length({w}) * 7919 + ascii({w}) * 31 + ascii(reverse({w})) * 7) % 50257)"
)


def tokenize_documents(documents_df):
    """documents(doc_id,text,source,...) -> (doc_id string, tokens array<int32>, n_tok int32, source string).

    r06 note: deliberately does NOT widen_scan its source. The text
    operators that need fan-out widen their own narrow inputs; widening
    HERE was measured a net wash-to-loss — it bought ~1 s on the
    tokenize->encode roundtrips but cost the same across the maintenance
    suite, whose tiny cached token relations then ran every follow-up
    job at 32 tasks instead of ~12 (task overhead on KB-scale cached
    data)."""
    from pyspark.sql import functions as F

    words = F.split(F.col("text"), " ")
    tok = F.transform(
        words,
        lambda w: (
            F.length(w) * F.lit(7919)
            + F.ascii(w) * F.lit(31)
            + F.ascii(F.reverse(w)) * F.lit(7)
        )
        % F.lit(VOCAB),
    ).cast("array<int>")
    return documents_df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tok.alias("tokens"),
        F.size(tok).cast("int").alias("n_tok"),
        F.col("source").alias("source"),
    )
