"""Wide blocks layout: per-column top-level (codec, meta, data) triples so a
persisted blocks table supports PARQUET column pruning at decode — reading
one of k columns reads ~1/k of the payload bytes (the decode-side analog of
the scan-side unknown-subtree skip, /root/reference/src/path_registry.rs:400-408)."""

import pytest
from pyspark.sql import functions as F

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.encode import decode_table, encode_table
from xml2arrow_spark.sources.tokens import tokens_dataframe

DDL = "doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture(scope="module")
def tok(spark):
    df = tokens_dataframe(spark, 2000, variant="skewed_zipf", n_partitions=4).cache()
    yield df
    df.unpersist()


def test_wide_roundtrip_bit_identical(spark, tok):
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    blocks = encode_table(tok, man, layout="wide")
    dec = decode_table(blocks, DDL)
    j = tok.alias("a").join(dec.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    bad = j.filter(
        " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in tok.columns)
    ).count()
    assert bad == 0


def test_wide_layout_matches_nested_values(spark, tok):
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    a = decode_table(encode_table(tok, man), DDL)
    b = decode_table(encode_table(tok, man, layout="wide"), DDL)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_wide_subset_decode_prunes_parquet_scan(spark, tok, tmp_path):
    """Decoding (doc_id, n_tok) from a persisted wide blocks table must NOT
    read the tokens payload: ReadSchema is pinned to the requested columns."""
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    path = str(tmp_path / "wide_blocks")
    encode_table(tok, man, layout="wide").write.parquet(path)
    blocks = spark.read.parquet(path)
    sub = decode_table(blocks, "doc_id string, n_tok int")
    got = {r["doc_id"]: r["n_tok"] for r in sub.collect()}
    want = {r["doc_id"]: r["n_tok"] for r in tok.select("doc_id", "n_tok").collect()}
    assert got == want
    plan = sub._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "c_doc_id__data" in scan_line
    assert "c_tokens__data" not in scan_line  # the big payload is pruned
    assert "c_source__data" not in scan_line


def test_nested_subset_decode_skips_unneeded_kernels(spark, tok):
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    sub = decode_table(encode_table(tok, man), "n_tok int, source string")
    assert sub.columns == ["n_tok", "source"]
    assert sub.count() == 2000


def test_unknown_layout_rejected(spark, tok):
    with pytest.raises(ValueError, match="unknown blocks layout"):
        encode_table(tok, CodecManifest.auto_for(tok.schema), layout="diagonal")


def test_wide_missing_column_rejected(spark, tok):
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    blocks = encode_table(tok, man, layout="wide")
    with pytest.raises(ValueError, match="block lacks an entry for 'nope'"):
        decode_table(blocks, "doc_id string, nope int")


def _same_entries(nested, wide, cols):
    """Every block's nested entry equals the wide row's ``c_<col>__<field>``
    values for every field the wide layout stores."""
    from xml2arrow_spark.operators.encode import _WIDE_FIELDS

    nested, wide = nested.sort_by("block_id"), wide.sort_by("block_id")
    assert nested.num_rows == wide.num_rows > 1
    head = [n for n in nested.column_names if n != "cols"]
    assert nested.select(head).equals(wide.select(head))
    for b, entries in enumerate(nested.column("cols").to_pylist()):
        assert [e["name"] for e in entries] == cols
        for e in entries:
            for f in _WIDE_FIELDS:
                assert e[f] == wide.column(f"c_{e['name']}__{f}")[b].as_py()


def test_layouts_hold_the_same_entries_encode_table(spark, tok):
    man = CodecManifest.auto_for(tok.schema, block_rows=512)
    _same_entries(
        encode_table(tok, man).toArrow(),
        encode_table(tok, man, layout="wide").toArrow(),
        tok.columns,
    )


def test_layouts_hold_the_same_entries_dataset(spark, tok, tmp_path):
    import os

    import pyarrow.parquet as pq

    from xml2arrow_spark.operators.dataset import encode_parquet_dataset

    src = str(tmp_path / "src")
    tok.write.parquet(src)
    man = CodecManifest.auto_for(tok.schema, block_rows=256)
    read = {}
    for layout in ("nested", "wide"):
        out = str(tmp_path / layout)
        encode_parquet_dataset(spark, src, out, manifest=man, n_tasks=2,
                               layout=layout)
        read[layout] = pq.read_table(os.path.join(out, "blocks"))
    _same_entries(read["nested"], read["wide"], tok.columns)
