"""In-kernel row selection (``decode_table(row_filter=...)``) — exact
match semantics on both block layouts, block skipping for zero-match
blocks, and the end-to-end lookup path it serves."""

import pytest
from pyspark.sql import functions as F

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.encode import decode_table, encode_table
from xml2arrow_spark.operators.verify import verify_roundtrip
from xml2arrow_spark.sources import tokens_dataframe

DDL = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_row_filter_exact_selection(spark, layout, tmp_path):
    df = tokens_dataframe(spark, 1200, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    blocks = encode_table(df, man, layout=layout)
    # persist so the decode input is a stable scan (and, wide, column-pruned)
    path = str(tmp_path / f"b_{layout}")
    blocks.write.parquet(path)
    stored = spark.read.parquet(path)

    wanted = [r["doc_id"] for r in df.select("doc_id").limit(7).collect()]
    got = decode_table(stored, DDL, row_filter=("doc_id", wanted))
    expect = df.filter(F.col("doc_id").isin(wanted))
    assert verify_roundtrip(expect, got)["ok"]

    # no match anywhere -> zero rows (every block skipped)
    assert decode_table(stored, DDL, row_filter=("doc_id", ["ghost"])).count() == 0
    # empty value set -> zero rows by definition
    assert decode_table(stored, DDL, row_filter=("doc_id", [])).count() == 0
    # the filter column may live OUTSIDE the decoded projection: its
    # stream computes the mask, only the projected columns decode
    got_t = decode_table(stored, "tokens array<int>", row_filter=("doc_id", wanted))
    assert got_t.count() == expect.count()
    df.unpersist()


def test_row_filter_on_int_column(spark):
    df = tokens_dataframe(spark, 600, variant="low_card", n_partitions=2).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    blocks = encode_table(df, man)
    lens = [r["n_tok"] for r in df.select("n_tok").distinct().limit(3).collect()]
    got = decode_table(blocks, DDL, row_filter=("n_tok", lens))
    expect = df.filter(F.col("n_tok").isin(lens))
    assert verify_roundtrip(expect, got)["ok"]
    df.unpersist()


def test_row_filter_composes_with_zone_filter(spark):
    df = tokens_dataframe(spark, 600, variant="low_card", n_partitions=2).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    blocks = encode_table(df, man)
    wanted = [r["doc_id"] for r in df.select("doc_id").limit(4).collect()]
    hi = df.agg(F.max("n_tok")).collect()[0][0]
    got = decode_table(
        blocks, DDL, zone_filter=("n_tok", 0, int(hi)),
        row_filter=("doc_id", wanted),
    )
    expect = df.filter(F.col("doc_id").isin(wanted))
    assert verify_roundtrip(expect, got)["ok"]
    df.unpersist()


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_range_row_filter_exact_selection(spark, layout, tmp_path):
    """3-tuple row_filter = in-kernel RANGE selection: exact rows out of
    the kernel, open sides supported, composes with the zone prune."""
    df = tokens_dataframe(spark, 1200, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    blocks = encode_table(df, man, layout=layout)
    path = str(tmp_path / f"rb_{layout}")
    blocks.write.parquet(path)
    stored = spark.read.parquet(path)

    lo, hi = 50, 300
    got = decode_table(
        stored, DDL,
        zone_filter=("n_tok", lo, hi),   # block prune first...
        row_filter=("n_tok", lo, hi),    # ...then exact in-kernel select
    )
    expect = df.filter((F.col("n_tok") >= lo) & (F.col("n_tok") <= hi))
    assert verify_roundtrip(expect, got)["ok"]

    # one-sided ranges
    got_lo = decode_table(stored, DDL, row_filter=("n_tok", 400, None))
    assert verify_roundtrip(df.filter(F.col("n_tok") >= 400), got_lo)["ok"]
    got_hi = decode_table(stored, DDL, row_filter=("n_tok", None, 30))
    assert verify_roundtrip(df.filter(F.col("n_tok") <= 30), got_hi)["ok"]

    # string ranges ride the same mask
    got_s = decode_table(stored, DDL, row_filter=("source", "src0", "src1"))
    expect_s = df.filter((F.col("source") >= "src0") & (F.col("source") <= "src1"))
    assert verify_roundtrip(expect_s, got_s)["ok"]

    # empty range -> zero rows, every block skipped
    assert decode_table(stored, DDL, row_filter=("n_tok", 10**9, 2 * 10**9)).count() == 0
    with pytest.raises(ValueError, match="at least one bound"):
        decode_table(stored, DDL, row_filter=("n_tok", None, None))
    df.unpersist()


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_decode_dataset_row_filter(spark, layout, tmp_path):
    """The STORED-dataset decode path takes the same in-kernel selection:
    zone prune skips non-overlapping blocks, the kernel gathers exactly
    the matching rows, point and range forms alike."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml2arrow_spark.operators.dataset import (
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    df = tokens_dataframe(spark, 1500, variant="low_card", n_partitions=3)
    df.write.parquet(src)
    first = sorted(
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    )[0]
    man = CodecManifest.auto_for(
        from_arrow_schema(pq.read_schema(first)), block_rows=128
    )
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)
    raw = spark.read.parquet(src)

    # range form + matching zone filter
    got = decode_dataset(
        spark, out,
        zone_filter=("n_tok", 50, 300),
        row_filter=("n_tok", 50, 300),
    )
    expect = raw.filter((F.col("n_tok") >= 50) & (F.col("n_tok") <= 300))
    assert verify_roundtrip(expect, got)["ok"]

    # point form, with column projection
    ids = [r["doc_id"] for r in raw.select("doc_id").limit(5).collect()]
    got_p = decode_dataset(
        spark, out, columns=["doc_id", "n_tok"], row_filter=("doc_id", ids)
    )
    expect_p = raw.select("doc_id", "n_tok").filter(F.col("doc_id").isin(ids))
    assert verify_roundtrip(expect_p, got_p)["ok"]

    # one-sided range, no zone filter
    got_o = decode_dataset(spark, out, row_filter=("n_tok", None, 40))
    assert verify_roundtrip(raw.filter(F.col("n_tok") <= 40), got_o)["ok"]

    # empty result + validation
    assert decode_dataset(spark, out, row_filter=("n_tok", 10**9, None)).count() == 0
    # the filter column may live OUTSIDE the projection (filter on the
    # length, project only the ids)
    got_p = decode_dataset(
        spark, out, columns=["doc_id"], row_filter=("n_tok", None, 40)
    )
    assert set(got_p.columns) == {"doc_id"}
    assert got_p.count() == raw.filter(F.col("n_tok") <= 40).count()


def test_read_encoded_dataset_row_filter_with_family(spark, tmp_path):
    """Base-column kernel selection on the curated-corpus read: the family
    join runs over the reduced row set; family columns are refused as
    filter keys (NULL-before-join semantics)."""
    from xml2arrow_spark.operators.checkpoint import (
        add_columns,
        encode_dataset,
        read_encoded_dataset,
    )

    path = str(tmp_path / "enc")
    df = tokens_dataframe(spark, 800, variant="low_card", n_partitions=2)
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    encode_dataset(df, path, man, n_units=4)
    add_columns(
        df.filter("n_tok % 2 = 0").select(
            "doc_id", (F.col("n_tok") * 2).cast("int").alias("dbl")
        ),
        path,
        "extras",
    )

    got = read_encoded_dataset(
        spark, path, columns=["doc_id", "n_tok", "dbl"],
        row_filter=("n_tok", 100, 400),
    )
    expect = (
        df.filter((F.col("n_tok") >= 100) & (F.col("n_tok") <= 400))
        .withColumn(
            "dbl",
            F.when(F.col("n_tok") % 2 == 0, (F.col("n_tok") * 2).cast("int")),
        )
        .select("doc_id", "n_tok", "dbl")
    )
    assert verify_roundtrip(expect, got)["ok"]

    with pytest.raises(ValueError, match="not a BASE column"):
        read_encoded_dataset(
            spark, path, columns=["doc_id", "dbl"], row_filter=("dbl", 0, 10)
        )


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_row_filter_conjunction(spark, tmp_path, layout):
    """row_filter now takes a LIST of conjuncts (ranges and IN-lists
    mixed): the per-conjunct masks AND together, a zero-match conjunct
    skips the whole block, and filter columns can sit outside the
    projection."""
    df = tokens_dataframe(spark, 800, variant="low_card", n_partitions=2).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    blocks = encode_table(df, man, layout=layout)
    path = str(tmp_path / f"conj_{layout}")
    blocks.write.parquet(path)
    stored = spark.read.parquet(path)

    srcs = [r["source"] for r in df.select("source").distinct().limit(2).collect()]
    cond = F.col("n_tok").between(30, 300) & F.col("source").isin(srcs)
    expect = df.filter(cond)
    got = decode_table(
        stored, DDL,
        row_filter=[("n_tok", 30, 300), ("source", srcs)],
    )
    assert verify_roundtrip(expect, got)["ok"]
    # projection without the filter columns
    got_p = decode_table(
        stored, "doc_id string",
        row_filter=[("n_tok", 30, 300), ("source", srcs)],
    )
    assert got_p.count() == expect.count()
    # a zero-match conjunct empties the result
    assert decode_table(
        stored, DDL, row_filter=[("n_tok", 30, 300), ("source", ["ghost"])]
    ).count() == 0
    df.unpersist()


def test_dataset_row_filter_conjunction(spark, tmp_path):
    from xml2arrow_spark.operators.dataset import decode_dataset, encode_parquet_dataset

    df = tokens_dataframe(spark, 700, variant="low_card", n_partitions=2)
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    df.write.parquet(src)
    encode_parquet_dataset(spark, src, out, layout="wide")
    raw = spark.read.parquet(src)
    srcs = [r["source"] for r in raw.select("source").distinct().limit(2).collect()]
    expect = raw.filter(F.col("n_tok").between(20, 200) & F.col("source").isin(srcs))
    got = decode_dataset(
        spark, out,
        columns=["doc_id", "n_tok"],
        row_filter=[("n_tok", 20, 200), ("source", srcs)],
    )
    assert set(got.columns) == {"doc_id", "n_tok"}
    assert got.count() == expect.count()
    assert {r["doc_id"] for r in got.collect()} == {
        r["doc_id"] for r in expect.collect()
    }


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_float32_filters_compare_in_float64(spark, layout, tmp_path):
    """A float32 column answers every filter form in float64, as its zone
    stats do: 0.1 is not a float32 value, so ``row_filter=("x", [0.1])``,
    ``row_filter=("x", 0.1, 0.1)`` and ``count_where(("x", [0.1]))`` all
    match no row (SQL against a DOUBLE 0.1 agrees), while 0.5, which
    float32 holds exactly, matches the same rows in every form."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml2arrow_spark.operators.dataset import (
        count_where,
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    os.makedirs(src)
    x = np.array([0.1, 0.5, 1.0, 0.1] * 50, dtype=np.float32)
    pq.write_table(
        pa.table({"id": pa.array(np.arange(x.size)), "x": pa.array(x)}),
        os.path.join(src, "part-0.parquet"),
    )
    man = CodecManifest.auto_for(
        from_arrow_schema(pq.read_schema(os.path.join(src, "part-0.parquet"))),
        block_rows=64,
    )
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)

    for v, expect in ((0.1, 0), (0.5, 50)):
        assert decode_dataset(spark, out, row_filter=("x", [v])).count() == expect
        assert decode_dataset(spark, out, row_filter=("x", v, v)).count() == expect
        for kw in ({}, {"local_bytes": 0}):
            got = count_where(spark, out, ("x", [v]), **kw).collect()[0]
            assert got["n_match"] == expect, (v, kw)
