"""End-to-end Spark encode/decode round-trips — the engine's integration
layer, mirroring the reference's file-level tests
(/root/reference/tests/integration_tests.rs:27-113) and its null-semantics
clusters (/root/reference/src/xml_parser.rs:2645-2838)."""

import pyspark.sql.functions as F
import pytest

from xml2arrow_spark.manifest import CodecManifest, ColumnPolicy
from xml2arrow_spark.operators import decode_table, encode_table
from xml2arrow_spark.operators.verify import roundtrip_mismatches, verify_roundtrip
from xml2arrow_spark.sources import tokenize_documents, tokens_dataframe

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.mark.parametrize(
    "variant",
    [
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
    ],
)
def test_variant_roundtrip(spark, variant):
    df = tokens_dataframe(spark, 3000, variant=variant, n_partitions=2).cache()
    blocks = encode_table(df, CodecManifest.auto_for(df.schema, block_rows=1024))
    decoded = decode_table(blocks, TOKENS_DDL)
    assert verify_roundtrip(df, decoded)["ok"]
    df.unpersist()


def test_forced_codec_roundtrip(spark):
    df = tokens_dataframe(spark, 2000, variant="uniform_vocab", n_partitions=2).cache()
    man = CodecManifest(
        columns={
            "doc_id": ColumnPolicy(codec="fsst"),
            "tokens": ColumnPolicy(codec="for"),
            "n_tok": ColumnPolicy(codec="rle"),
            "source": ColumnPolicy(codec="dict_str"),
        },
        block_rows=512,
    )
    decoded = decode_table(encode_table(df, man), TOKENS_DDL)
    assert verify_roundtrip(df, decoded)["ok"]
    df.unpersist()


def test_documents_tokenize_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = tokenize_documents(docs).cache()
    blocks = encode_table(tok, CodecManifest.auto_for(tok.schema, block_rows=256))
    decoded = decode_table(blocks, TOKENS_DDL)
    assert verify_roundtrip(tok, decoded)["ok"]
    tok.unpersist()


def test_null_roundtrip_all_types(spark):
    """F3 fixture: nulls round-trip through every codec; empty string != null
    (the reference's Utf8 asymmetry, /root/reference/src/xml_parser.rs:327-338)."""
    rows = [
        (
            i,
            None if i % 5 == 0 else ("" if i % 5 == 1 else f"s{i % 3}"),
            None if i % 7 == 0 else i * 3,
            [1, 2, i] if i % 4 else None,
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id int, s string, i int, arr array<int>").cache()
    blocks = encode_table(df, CodecManifest.auto_for(df.schema, block_rows=128))
    decoded = decode_table(blocks, "id int, s string, i int, arr array<int>")
    assert verify_roundtrip(df, decoded, key="id")["ok"]
    # empty string survived as empty string, not null
    assert decoded.filter("s = ''").count() == df.filter("s = ''").count()
    assert decoded.filter("s IS NULL").count() == df.filter("s IS NULL").count()
    df.unpersist()


def test_compression_beats_parquet_snappy_on_tokens(spark, tmp_path):
    """Size acceptance probe at test scale: engine blocks vs the raw Arrow
    input bytes must be a real reduction on compressible variants."""
    df = tokens_dataframe(spark, 5000, variant="low_card", n_partitions=2).cache()
    blocks = encode_table(df, CodecManifest.auto_for(df.schema))
    row = blocks.agg(
        F.sum("in_bytes").alias("i"), F.sum("out_bytes").alias("o")
    ).collect()[0]
    assert row["o"] < row["i"] / 3  # 6-bit tokens in 32-bit slots
    df.unpersist()


def test_mismatch_detection_not_vacuous(spark):
    """The verifier itself must catch a corrupted decode (guards against a
    trivially-green check)."""
    df = tokens_dataframe(spark, 500, variant="low_card", n_partitions=1).cache()
    corrupted = df.withColumn(
        "tokens",
        F.when(F.col("doc_id") == "doc-00000007", F.array(F.lit(1))).otherwise(
            F.col("tokens")
        ),
    )
    assert roundtrip_mismatches(df, corrupted).count() == 1
    df.unpersist()


def test_blocks_respect_block_rows(spark):
    df = tokens_dataframe(spark, 4000, variant="low_card", n_partitions=2)
    blocks = encode_table(df, CodecManifest.auto_for(df.schema, block_rows=1000))
    assert blocks.agg(F.max("n_rows")).collect()[0][0] <= 1000


def test_unit_encode_presorts_within_each_unit(spark):
    """encode_table(unit_col=, presort=) clusters rows inside each unit:
    one unit's decoded rows ascend on the presort column."""
    df = spark.range(4000).select(
        (F.col("id") % 4).cast("int").alias("unit_id"),
        ((F.col("id") * 7919) % 1000).cast("int").alias("x"),
    ).repartition(2, "unit_id")
    man = CodecManifest(columns={"x": ColumnPolicy("auto")}, block_rows=8192)
    blocks = encode_table(df, man, unit_col="unit_id", presort=["x"])
    one = blocks.filter(F.col("unit_id") == 2).coalesce(1)
    xs = [r["x"] for r in decode_table(one, "x int").collect()]
    assert len(xs) == 1000
    assert xs == sorted(xs)
