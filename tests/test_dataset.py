"""File-level encoded dataset: fused encode+sink, per-file resume lineage,
fused decode, stats parity.

Resume semantics mirror FIXTURES.md F4 / the reference's config round-trip
bookkeeping (/root/reference/src/config.rs:296-300): completed units are
never re-encoded.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from xml2arrow_spark.operators.dataset import (
    dataset_metrics,
    decode_dataset,
    encode_parquet_dataset,
)
from xml2arrow_spark.operators.encode import encode_parquet, encode_parquet_stats
from xml2arrow_spark.sources.tokens import generate_tokens_arrow


@pytest.fixture(scope="module")
def token_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dstok"))
    for i in range(5):
        tbl = generate_tokens_arrow(300 + 100 * i, variant="uniform_vocab",
                                    seed=500 + i, start_id=10_000 * i)
        pq.write_table(tbl, os.path.join(d, f"part-{i}.parquet"))
    return d


def test_encode_dataset_roundtrip(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc")
    metrics = encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    assert metrics["units"] == 5
    assert metrics["rows"] == 300 + 400 + 500 + 600 + 700
    decoded = decode_dataset(spark, out, n_tasks=2)
    src = spark.read.parquet(token_dir)
    assert decoded.exceptAll(src).count() == 0
    assert src.exceptAll(decoded).count() == 0


def test_encode_dataset_resume_skips_completed(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc2")
    encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    m1 = dataset_metrics(spark, out)
    # delete two blocks files + their manifest rows to simulate partial run
    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    keep = manifest.filter(F.col("unit_id") < 3)
    removed = manifest.filter(F.col("unit_id") >= 3).collect()
    keep_pdf = keep.toPandas()
    import shutil

    shutil.rmtree(os.path.join(out, "manifest"))
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml2arrow_spark.operators.dataset import METADATA_SCHEMA

    spark.createDataFrame(keep_pdf, from_arrow_schema(METADATA_SCHEMA)).write.parquet(
        os.path.join(out, "manifest")
    )
    for r in removed:
        os.remove(r.out_file)
    # resume: only units 3,4 re-encode
    m2 = encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    assert m2["units"] == 5
    assert m2["rows"] == m1["rows"]
    assert m2["out_bytes"] == m1["out_bytes"]
    manifest2 = spark.read.parquet(os.path.join(out, "manifest"))
    # completed rows were not rewritten: one manifest row per unit
    assert manifest2.groupBy("unit_id").count().filter("count > 1").count() == 0
    decoded = decode_dataset(spark, out)
    assert decoded.count() == m1["rows"]


def test_encode_dataset_noop_resume_fast(spark, token_dir, tmp_path):
    out = str(tmp_path / "enc3")
    encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    before = spark.read.parquet(os.path.join(out, "manifest")).count()
    m = encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    after = spark.read.parquet(os.path.join(out, "manifest")).count()
    assert before == after == 5
    assert m["units"] == 5


def test_encode_dataset_refuses_unreadable_manifest(spark, token_dir, tmp_path):
    """Resume reads the manifest fail-closed: an existing manifest that
    cannot be read must raise, not read as "no unit done" (which would
    re-encode every unit and append a duplicate manifest row each)."""
    import pyarrow as pa

    out = str(tmp_path / "enc_corrupt")
    encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    mdir = os.path.join(out, "manifest")
    with open(os.path.join(mdir, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    before = sorted(os.listdir(mdir))
    with pytest.raises(pa.ArrowInvalid):
        encode_parquet_dataset(spark, token_dir, out, n_tasks=2)
    assert sorted(os.listdir(mdir)) == before  # nothing appended


def test_stats_path_matches_blocks_path(spark, token_dir):
    stats = encode_parquet_stats(spark, token_dir, n_tasks=2).agg(
        F.sum("n_values").alias("nv"), F.sum("out_bytes").alias("ob")
    ).collect()[0]
    blocks = encode_parquet(spark, token_dir, n_tasks=2).agg(
        F.sum("n_values").alias("nv"), F.sum("out_bytes").alias("ob")
    ).collect()[0]
    assert int(stats["nv"]) == int(blocks["nv"])
    assert int(stats["ob"]) == int(blocks["ob"])
