"""Codec auto-selection picks the expected winner per FIXTURES.md F1 variant."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xml2arrow_spark.codecs import StrData
from xml2arrow_spark.plans.selector import (
    choose_int_codec,
    choose_str_codec,
    estimate_int_sizes,
    int_stats,
)
from xml2arrow_spark.sources.tokens import VARIANTS, generate_tokens_arrow

RNG = np.random.default_rng(42)


@pytest.mark.parametrize(
    "variant,allowed",
    [
        ("uniform_vocab", {"bitpack", "for"}),  # 16-17 bits, per FIXTURES
        ("low_card", {"dict", "bitpack", "for", "pdict"}),  # 6 bits
        ("runny", {"rle"}),
        ("narrow_range", {"for", "pdict"}),
        ("skewed_zipf", {"pdict"}),  # patched dict is the zipf winner
        ("constant", {"rle", "for", "dict", "pdict"}),  # degenerate: ~0 bytes
        ("negative_sentinels", {"for", "dict", "pdict"}),  # signed range
    ],
)
def test_int_selection(variant, allowed):
    from tests.test_codecs import _variant

    values = _variant(variant, n=50000)
    assert choose_int_codec(values) in allowed


def test_estimates_track_reality():
    """Chosen codec's actual size is within 30% of its estimate."""
    from tests.test_codecs import _variant
    from xml2arrow_spark.codecs import encode_values

    for variant in ["uniform_vocab", "low_card", "runny", "narrow_range"]:
        values = _variant(variant, n=50000)
        est = estimate_int_sizes(int_stats(values), itemsize=4)
        codec = min(est, key=est.get)
        _, blob = encode_values(codec, values)
        assert len(blob) <= est[codec] * 1.3 + 64, (variant, codec)


def _strdata(strings):
    data = "".join(strings).encode()
    off = np.zeros(len(strings) + 1, dtype=np.int64)
    off[1:] = np.cumsum([len(s.encode()) for s in strings])
    return StrData(offsets=off, data=data)


def test_str_selection_prefers_dict_for_low_card():
    # FIXTURES.md: low-card sources must pick dict, NOT fsst. Suffix a
    # non-digit so the (even cheaper) seq_str path doesn't apply.
    sd = _strdata([f"src{i % 8}x" for i in range(20000)])
    assert choose_str_codec(sd) == "dict_str"


def test_str_selection_prefers_seq_for_sequential_ids():
    # fixed-template ids are an integer in disguise; seq_str beats fsst 3x+
    sd = _strdata([f"doc-{i:08d}" for i in range(20000)])
    assert choose_str_codec(sd) == "seq_str"


def test_str_selection_prefers_fsst_for_common_prefix():
    # common prefix + non-numeric variable tail -> symbol-table compression
    sd = _strdata([f"doc-{i:08d}x" for i in range(20000)])
    assert choose_str_codec(sd) == "fsst"


def test_str_selection_plain_for_random():
    rng = np.random.default_rng(7)
    sd = _strdata(
        ["".join(chr(rng.integers(33, 600)) for _ in range(20)) for _ in range(500)]
    )
    assert choose_str_codec(sd) in {"plain_str", "fsst"}


def test_resolve_manifest_spark(spark):
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.plans import resolve_manifest
    from xml2arrow_spark.sources import tokens_dataframe

    df = tokens_dataframe(spark, 4000, variant="low_card", n_partitions=2)
    resolved = resolve_manifest(df, CodecManifest.auto_for(df.schema))
    assert resolved.columns["tokens"].codec in {"dict", "bitpack", "for", "pdict"}
    # src0..src7 and doc-%08d are both '<prefix><digits>' -> seq_str wins
    assert resolved.columns["source"].codec in {"dict_str", "seq_str"}
    assert resolved.columns["doc_id"].codec == "seq_str"
    # resolved manifest validates and yaml-round-trips
    resolved.validate(df.schema)
    assert CodecManifest.from_yaml(resolved.to_yaml()).columns["tokens"].codec == \
        resolved.columns["tokens"].codec


# -- the value-bounded driver-side sample: both resolvers pick alike, and
# -- each pick equals the pick from the whole 8,192-row reference sample

def _bf16_embeddings():
    # bf16-upcast float32 vectors (two all-zero mantissa byte planes), as
    # in test_files_encode; 8,192 x 64 values is twice the value bound
    rng = np.random.default_rng(23)
    n_vec, dim = 8192, 64
    flat = (
        rng.normal(size=n_vec * dim).astype(np.float32).view(np.uint32)
        & np.uint32(0xFFFF0000)
    ).view(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(flat), dim)
        .cast(pa.list_(pa.float32())),
    })


def _lineitem_table():
    # scalar lineitem-shaped columns, 20,000 rows (the 8,192-row sample is
    # a real prefix), one column of every type family the chooser
    # dispatches on, nulls included
    import datetime
    import decimal

    rng = np.random.default_rng(5)
    n = 20_000
    orderkey = np.sort(rng.integers(1, 60_000, n)).astype(np.int64)
    partkey = rng.integers(1, 2_000, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900, 100_000, n), 2)
    base = datetime.date(1992, 1, 1)
    ship = [base + datetime.timedelta(days=int(d)) for d in rng.integers(0, 2_500, n)]
    stamp = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 86_400_000_000, n
    ).astype("timedelta64[us]")
    wide = [decimal.Decimal(2**63 + int(x)) for x in rng.integers(0, 1 << 40, n)]
    return pa.table({
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(partkey, mask=rng.random(n) < 0.05),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_comment": pa.array(
            [None if i % 11 == 0 else f"note {i % 97} x" for i in range(n)]
        ),
        "l_shipdate": pa.array(ship, type=pa.date32()),
        "l_stamp": pa.array(stamp, type=pa.timestamp("us")),
        "l_urn": pa.array(wide, type=pa.decimal128(20, 0)),
        "l_returned": pa.array(rng.random(n) < 0.3),
    })


_PIN_CASES = {
    **{f"f1_{v}": (lambda v=v: generate_tokens_arrow(8192, variant=v), {})
       for v in VARIANTS},
    "bf16_embeddings": (_bf16_embeddings, {"embedding": "auto+zstd"}),
    "lineitem": (_lineitem_table, {}),
}


@pytest.mark.parametrize("case", sorted(_PIN_CASES))
def test_value_bounded_picks_pin_reference(spark, tmp_path, monkeypatch, case):
    """Both resolvers pick alike under the value bound, and every pick equals
    the pick with the bound lifted (the whole 8,192-row sample)."""
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.encode import resolve_manifest_parquet
    from xml2arrow_spark.plans import selector
    from xml2arrow_spark.plans.selector import resolve_manifest

    make, overrides = _PIN_CASES[case]
    tbl = make()
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path)
    df = spark.read.parquet(path)
    man = CodecManifest.auto_for(df.schema, block_rows=65536)
    for name, codec in overrides.items():
        man.columns[name].codec = codec

    def picks(m):
        return {name: p.codec for name, p in m.columns.items()}

    bound = selector.SAMPLE_VALUES
    capped = picks(resolve_manifest_parquet(path, man))
    assert picks(resolve_manifest(df, man)) == capped
    monkeypatch.setattr(selector, "SAMPLE_VALUES", 1 << 62)
    reference = picks(resolve_manifest_parquet(path, man))
    assert capped == reference
    assert "auto" not in capped.values()
    lists = [c for c in tbl.column_names if pa.types.is_list(tbl.schema.field(c).type)]
    if case not in ("f1_single_token", "lineitem"):
        # the bound cut the list sample the chooser saw at least in half
        assert all(len(tbl.column(c).slice(0, 8192).combine_chunks().flatten())
                   >= 2 * bound for c in lists)
