"""Kernel-level equivalence pins for match_decode_column (codec-aware
predicate evaluation): for EVERY codec, null mix, and predicate shape,
``match_decode_column(meta, data, ...)`` must equal
``row_match_mask(decode_column(meta, data), ...)`` + ``filter`` — the
dict/rle/pdict/dict_str fast paths share the pyarrow predicate kernels with
the row path, and these tests pin that the code-stream mapping cannot
drift from the materialized evaluation."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pytest

from xml2arrow_spark.operators import blocks
from xml2arrow_spark.operators.blocks import (
    decode_column,
    encode_column,
    match_decode_column,
    row_match_mask,
)

INT_PREDS = [
    ([5], None, None),
    ([5, -3], None, None),
    ([999999], None, None),          # no match
    ([5, 999999], None, None),       # partial
    (None, -3, 5),
    (None, 6, 999),
    (None, None, 4),                 # one-sided hi
    (None, 1000, None),              # one-sided lo
    (None, 10**7, 10**8),            # empty range
]

INT_ARRAYS = {
    "runny": pa.array(np.repeat([5, -3, 5, 1000], [50, 30, 20, 7]).astype(np.int64)),
    "low_card_nulls": pa.array(
        [5, None, -3, 5, None, 1000, 5, -3] * 10, type=pa.int64()
    ),
    "zipfish": pa.array((np.arange(500) % 37 // 6).astype(np.int32)),
    "monotonic": pa.array(np.arange(-50, 150, dtype=np.int64)),
    "single": pa.array([5], type=pa.int64()),
    "all_null": pa.array([None] * 20, type=pa.int64()),
    "empty": pa.array([], type=pa.int64()),
}

INT_CODECS = ["plain", "for", "delta", "rle", "dict", "pdict", "pfor",
              "rle+zstd", "dict+lz4", "pdict+zstd"]


def _assert_equiv(meta, data, values, lo, hi):
    arr = decode_column(meta, data)
    rmask = row_match_mask(arr, values, lo, hi)
    got = match_decode_column(meta, data, values, lo, hi)
    if rmask is None:
        assert got is None
        return
    assert got is not None
    gmask, gsel = got
    assert gmask.to_pylist() == rmask.to_pylist()
    rsel = arr.filter(rmask)
    assert gsel.to_pylist() == rsel.to_pylist()
    assert gsel.type == rsel.type


@pytest.mark.parametrize("codec", INT_CODECS)
@pytest.mark.parametrize("name", sorted(INT_ARRAYS))
def test_int_codecs_match_equivalence(codec, name):
    arr = INT_ARRAYS[name]
    if codec.startswith("pdict") and arr.type != pa.int64():
        arr = arr.cast(pa.int64())
    try:
        _, meta, data = encode_column(arr, codec)
    except Exception:
        pytest.skip(f"{codec} rejects {name}")
    for values, lo, hi in INT_PREDS:
        _assert_equiv(meta, data, values, lo, hi)


STR_PREDS = [
    (["aa"], None, None),
    (["aa", "ccc"], None, None),
    (["zzz"], None, None),           # no match
    ([""], None, None),              # empty string is a VALUE (not null)
    (None, "a", "b"),
    (None, "b", None),
    (None, None, "aa"),
    (None, "x", "z"),                # no match
    (["éclair"], None, None),   # unicode
]

STR_VALUES = ["aa", "b", None, "ccc", "", "aa", "éclair", "b"] * 8


@pytest.mark.parametrize("codec", ["plain_str", "dict_str", "fsst",
                                   "dict_str+zstd", "fsst+lz4"])
@pytest.mark.parametrize("large", [False, True])
def test_str_codecs_match_equivalence(codec, large):
    typ = pa.large_string() if large else pa.string()
    arr = pa.array(STR_VALUES, type=typ)
    _, meta, data = encode_column(arr, codec)
    for values, lo, hi in STR_PREDS:
        _assert_equiv(meta, data, values, lo, hi)


def test_seq_str_fallback_equivalence():
    arr = pa.array([f"doc_{i:06d}" for i in range(200)])
    _, meta, data = encode_column(arr, "seq_str")
    for pred in ([ ["doc_000007"], None, None], [None, "doc_000100", None]):
        _assert_equiv(meta, data, *pred)


def test_zero_match_block_skips_without_decoding(monkeypatch):
    """A no-match dict/dict_str/rle block must return None WITHOUT calling
    decode_column — the whole point of evaluating on the code stream."""
    calls = []
    orig = blocks.decode_column
    monkeypatch.setattr(
        blocks, "decode_column", lambda m, d: calls.append(1) or orig(m, d)
    )
    for arr, codec in [
        (pa.array([5, -3, 5, None] * 25, type=pa.int64()), "dict"),
        (pa.array(np.repeat([7, 9], [40, 60]).astype(np.int64)), "rle"),
        (pa.array(["aa", "b", None] * 30), "dict_str"),
        (pa.array(["aa", "b", None] * 30), "dict_str+zstd"),
    ]:
        _, meta, data = encode_column(arr, codec)
        out = (
            match_decode_column(meta, data, [999999], None, None)
            if arr.type != pa.string()
            else match_decode_column(meta, data, ["zzz"], None, None)
        )
        assert out is None
        assert calls == [], codec


def test_matching_dict_str_block_materializes_only_selected(monkeypatch):
    """A matching dict_str block gathers selected rows from the dictionary —
    decode_column is never called for the filter column."""
    calls = []
    orig = blocks.decode_column
    monkeypatch.setattr(
        blocks, "decode_column", lambda m, d: calls.append(1) or orig(m, d)
    )
    arr = pa.array(["aa", "b", None, "ccc"] * 30)
    _, meta, data = encode_column(arr, "dict_str")
    got = match_decode_column(meta, data, ["aa", "ccc"], None, None)
    assert got is not None and calls == []
    mask, sel = got
    assert sel.to_pylist() == ["aa", "ccc"] * 30
    monkeypatch.undo()
    ref = decode_column(meta, data)
    assert mask.to_pylist() == row_match_mask(ref, ["aa", "ccc"], None, None).to_pylist()


def test_uint_style_extremes_pdict():
    # full-range magnitudes: pdict's wide-domain path (mod-2^64 ref wrap)
    vals = [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, 5] * 30
    arr = pa.array(vals, type=pa.int64())
    _, meta, data = encode_column(arr, "pdict")
    for pred in [([np.iinfo(np.int64).max], None, None), (None, 0, 10),
                 (None, None, np.iinfo(np.int64).min)]:
        _assert_equiv(meta, data, *pred)


def test_hypothesis_int_equivalence():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    codecs = ["rle", "dict", "pdict", "for", "delta", "pfor", "rle+zstd"]

    @settings(max_examples=60, deadline=None)
    @given(
        vals=st.lists(
            st.one_of(st.none(), st.integers(-(2**40), 2**40)), max_size=80
        ),
        codec=st.sampled_from(codecs),
        lo=st.one_of(st.none(), st.integers(-(2**41), 2**41)),
        hi=st.one_of(st.none(), st.integers(-(2**41), 2**41)),
        pts=st.one_of(
            st.none(), st.lists(st.integers(-(2**41), 2**41), min_size=1, max_size=5)
        ),
    )
    def run(vals, codec, lo, hi, pts):
        arr = pa.array(vals, type=pa.int64())
        try:
            _, meta, data = encode_column(arr, codec)
        except Exception:
            return
        if pts is not None:
            _assert_equiv(meta, data, pts, None, None)
        elif lo is not None or hi is not None:
            _assert_equiv(meta, data, None, lo, hi)

    run()


# ---- value_counts_column (codec-aware GROUP BY counts) ---------------------

from xml2arrow_spark.operators.blocks import value_counts_column  # noqa: E402


def _assert_counts_equiv(meta, data):
    import pyarrow.compute as pc

    arr = decode_column(meta, data)
    vals, counts, n_null = value_counts_column(meta, data)
    assert n_null == arr.null_count
    got = dict(zip(vals.to_pylist(), counts.tolist()))
    vc = pc.value_counts(arr.drop_null())
    ref = dict(zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))
    # fast paths may emit a dictionary entry only once; zero-count entries
    # must not exist (every dictionary entry occurs by construction)
    assert got == ref
    assert vals.type == arr.type or arr.null_count == len(arr)

    # masked variant: must equal decode + filter + value_counts (the
    # masked path may repeat a value — RLE run values — so fold by value)
    mask = np.arange(len(arr)) % 3 != 1
    vals, counts, n_null = value_counts_column(meta, data, mask=mask)
    got = {}
    for v, c in zip(vals.to_pylist(), counts.tolist()):
        got[v] = got.get(v, 0) + c
    sel = arr.filter(pa.array(mask))
    assert n_null == sel.null_count
    vc = pc.value_counts(sel.drop_null())
    assert got == dict(
        zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist())
    )

    # an all-False mask selects nothing: empty values, zero null count
    vals, counts, n_null = value_counts_column(
        meta, data, mask=np.zeros(len(arr), dtype=bool)
    )
    assert len(vals) == 0 and counts.size == 0 and n_null == 0


@pytest.mark.parametrize("codec", INT_CODECS)
@pytest.mark.parametrize("name", sorted(INT_ARRAYS))
def test_int_value_counts_equivalence(codec, name):
    arr = INT_ARRAYS[name]
    if codec.startswith("pdict") and arr.type != pa.int64():
        arr = arr.cast(pa.int64())
    try:
        _, meta, data = encode_column(arr, codec)
    except Exception:
        pytest.skip(f"{codec} rejects {name}")
    _assert_counts_equiv(meta, data)


@pytest.mark.parametrize("codec", ["plain_str", "dict_str", "fsst",
                                   "dict_str+zstd"])
@pytest.mark.parametrize("large", [False, True])
def test_str_value_counts_equivalence(codec, large):
    typ = pa.large_string() if large else pa.string()
    arr = pa.array(STR_VALUES, type=typ)
    _, meta, data = encode_column(arr, codec)
    _assert_counts_equiv(meta, data)


def test_value_counts_refuses_floats_and_lists():
    from xml2arrow_spark.errors import EncodeTypeError

    _, meta, data = encode_column(pa.array([1.5, 2.5], type=pa.float64()), "auto")
    with pytest.raises(EncodeTypeError, match="NaN"):
        value_counts_column(meta, data)
    _, meta, data = encode_column(
        pa.array([[1, 2], [3]], type=pa.list_(pa.int32())), "auto"
    )
    with pytest.raises(EncodeTypeError, match="scalar"):
        value_counts_column(meta, data)


def test_value_counts_never_decodes_dict_codecs(monkeypatch):
    calls = []
    orig = blocks.decode_column
    monkeypatch.setattr(
        blocks, "decode_column", lambda m, d: calls.append(1) or orig(m, d)
    )
    for arr, codec in [
        (pa.array([5, -3, 5, None] * 25, type=pa.int64()), "dict"),
        (pa.array(np.repeat([7, 9], [40, 60]).astype(np.int64)), "rle"),
        (pa.array(["aa", "b", None] * 30), "dict_str+zstd"),
    ]:
        _, meta, data = encode_column(arr, codec)
        value_counts_column(meta, data)
    assert calls == []


def test_value_counts_pdict_extremes():
    vals = [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, 5] * 30 + [None]
    arr = pa.array(vals, type=pa.int64())
    _, meta, data = encode_column(arr, "pdict")
    _assert_counts_equiv(meta, data)


@pytest.mark.parametrize("ref", [250, 2**32 - 100])
def test_pdict_ref_plus_top_beyond_narrow_container(ref):
    """A pdict block with value range < 2^8 unpacks its dictionary and
    exceptions into uint8; ``ref`` plus such a value wraps if it is added
    in that container (uint8 at ref 250, uint32 at 2^32 - 100). The
    codec-aware counts and match must equal decode-then-aggregate, and the
    decode must equal the input."""
    rng = np.random.default_rng(11)
    offsets = np.minimum(rng.zipf(1.6, 4000), 200) - 1
    vals = (ref + offsets).tolist() + [None, ref + 199]
    arr = pa.array(vals, type=pa.int64())
    _, meta, data = encode_column(arr, "pdict")
    vm = json.loads(meta)["values_meta"]
    assert vm["w_exc"] == 8 and vm["n_exc"] > 0
    assert decode_column(meta, data).to_pylist() == vals
    _assert_counts_equiv(meta, data)
    for pred in [([ref + 150, ref + 199], None, None), (None, ref + 100, ref + 199),
                 ([ref + 3], None, None), (None, ref + 250, None)]:
        _assert_equiv(meta, data, *pred)


# ---- fold_group_aggs (codec-aware grouped COUNT + SUM) ----------------------

from xml2arrow_spark.operators.blocks import fold_group_aggs  # noqa: E402


def group_sum_column(key_meta, key_data, agg_meta, agg_data):
    """One key and one agg column through fold_group_aggs, as
    ``{key: [cnt, n_nonnull, sum, min, max]}``."""
    return {
        kt[0]: [c, *t] for kt, (c, t) in fold_group_aggs(
            [(key_meta, key_data)], [(agg_meta, agg_data)]
        ).items()
    }


def _assert_group_sum_equiv(key_meta, key_data, agg_meta, agg_data):
    """fold_group_aggs must equal a decode + python groupby — the kernel
    can only skip materialization, never change results."""
    karr = decode_column(key_meta, key_data)
    aarr = decode_column(agg_meta, agg_data)
    truth: dict = {}
    for k, a in zip(karr.to_pylist(), aarr.to_pylist()):
        c, nn, s, mn, mx = truth.get(k, (0, 0, 0, None, None))
        if a is not None:
            mn = a if mn is None else min(mn, a)
            mx = a if mx is None else max(mx, a)
        truth[k] = (c + 1, nn + (a is not None), s + (a or 0), mn, mx)
    got = {k: tuple(t) for k, t in group_sum_column(
        key_meta, key_data, agg_meta, agg_data).items()}
    assert got == truth


AGG_ARRAYS = {
    "dense": pa.array(np.arange(100, dtype=np.int64) * 3 - 50),
    "nullish": pa.array(
        [None if i % 5 == 0 else i * 7 - 200 for i in range(100)],
        type=pa.int64(),
    ),
    "extremes": pa.array(
        [np.iinfo(np.int64).min // 100, np.iinfo(np.int64).max // 100, 0, -1]
        * 25,
        type=pa.int64(),
    ),
    "all_null": pa.array([None] * 100, type=pa.int64()),
    "narrow": pa.array((np.arange(100) % 17).astype(np.int16)),
}


@pytest.mark.parametrize("kcodec", ["plain", "dict", "rle", "pdict",
                                    "dict+zstd", "delta"])
@pytest.mark.parametrize("agg_name", sorted(AGG_ARRAYS))
def test_group_sum_int_key_equivalence(kcodec, agg_name):
    keys = pa.array(
        [None if i % 11 == 0 else (i % 4) * 10 for i in range(100)],
        type=pa.int64(),
    )
    if kcodec in ("rle", "delta"):  # runnier / monotonic-friendly key
        keys = pa.array(
            np.repeat([3, -8, 3], [40, 35, 25]).astype(np.int64)
        )
    try:
        _, km, kd = encode_column(keys, kcodec)
    except Exception:
        pytest.skip(f"{kcodec} rejects this key shape")
    _, am, ad = encode_column(AGG_ARRAYS[agg_name], "auto")
    _assert_group_sum_equiv(km, kd, am, ad)


@pytest.mark.parametrize("kcodec", ["plain_str", "dict_str", "fsst",
                                    "dict_str+zstd"])
def test_group_sum_str_key_equivalence(kcodec):
    keys = pa.array((["src_a", "src_b", None, "", "src_a"] * 20)[:100])
    _, km, kd = encode_column(keys, kcodec)
    for agg_name in sorted(AGG_ARRAYS):
        _, am, ad = encode_column(AGG_ARRAYS[agg_name], "auto")
        _assert_group_sum_equiv(km, kd, am, ad)


def test_group_sum_refusals():
    from xml2arrow_spark.errors import EncodeTypeError

    _, km, kd = encode_column(pa.array([1, 2] * 50, type=pa.int64()), "auto")
    _, fm, fd = encode_column(pa.array([1.5] * 100, type=pa.float64()), "auto")
    with pytest.raises(EncodeTypeError, match="integer agg"):
        group_sum_column(km, kd, fm, fd)
    with pytest.raises(EncodeTypeError, match="NaN|float"):
        group_sum_column(fm, fd, km, kd)  # float key refused
    _, lm, ld = encode_column(
        pa.array([[1]] * 100, type=pa.list_(pa.int32())), "auto"
    )
    with pytest.raises(EncodeTypeError, match="scalar"):
        group_sum_column(lm, ld, km, kd)


def test_group_sum_row_count_mismatch_refused():
    from xml2arrow_spark.errors import BlockCorruptionError

    _, km, kd = encode_column(pa.array([1, 2] * 50, type=pa.int64()), "auto")
    _, am, ad = encode_column(pa.array([7] * 99, type=pa.int64()), "auto")
    with pytest.raises(BlockCorruptionError, match="row count"):
        group_sum_column(km, kd, am, ad)


def test_group_sum_key_never_decodes_dict_rle(monkeypatch):
    """dict/rle/pdict/dict_str KEY streams must group without
    decode_column ever running on the key block (the agg block decodes
    exactly once each); the pdict key has exception rows."""
    agg = pa.array(np.arange(100, dtype=np.int64))
    _, am, ad = encode_column(agg, "plain")
    decoded_metas = []
    orig = blocks.decode_column
    monkeypatch.setattr(
        blocks, "decode_column",
        lambda m, d: decoded_metas.append(m) or orig(m, d),
    )
    for keys, codec in [
        (pa.array([5, -3, 5, None] * 25, type=pa.int64()), "dict"),
        (pa.array(np.repeat([7, 9], [40, 60]).astype(np.int64)), "rle"),
        (pa.array((["x", "yy", None, "x"] * 25)[:100]), "dict_str+zstd"),
        (pa.array([5, -3, 5, None] * 24 + [7, 8, 9, 11], type=pa.int64()),
         "pdict"),
    ]:
        _, km, kd = encode_column(keys, codec)
        group_sum_column(km, kd, am, ad)
    assert decoded_metas == [am] * 4
    assert json.loads(km)["values_meta"]["n_exc"] > 0
    monkeypatch.undo()
    _assert_group_sum_equiv(km, kd, am, ad)  # escape rows group exactly
