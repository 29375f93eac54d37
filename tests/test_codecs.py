"""Codec kernel round-trip matrix — the engine's analog of the reference's
per-type elementwise assertion suites (/root/reference/src/xml_parser.rs:1405-5868).

Every FIXTURES.md F1 distribution variant x every applicable codec must
round-trip bit-identically, including INT32_MIN/INT32_MAX boundaries
(overflow-safety analog of /root/reference/src/xml_parser.rs:2560-2569).
"""

import numpy as np
import pytest

from xml2arrow_spark.codecs import (
    INT_CODECS,
    STR_CODECS,
    StrData,
    decode_values,
    encode_values,
)
from xml2arrow_spark.codecs.bitpack import bits_needed, pack_uint, uint_dtype, unpack_uint
from xml2arrow_spark.errors import EncodeValueError

RNG = np.random.default_rng(42)


def _variant(name: str, n: int = 20000) -> np.ndarray:
    if name == "uniform_vocab":
        return RNG.integers(0, 50257, n, dtype=np.int32)
    if name == "low_card":
        return RNG.integers(0, 64, n, dtype=np.int32)
    if name == "runny":
        return np.repeat(
            RNG.integers(0, 256, n).astype(np.int32), RNG.geometric(0.05, n)
        )[:n]
    if name == "narrow_range":
        return RNG.integers(100_000, 100_256, n, dtype=np.int32)
    if name == "skewed_zipf":
        return np.minimum(RNG.zipf(1.2, n), 50257 - 1).astype(np.int32)
    if name == "constant":
        return np.full(n, 7, dtype=np.int32)
    if name == "negative_sentinels":
        v = RNG.integers(0, 1000, n, dtype=np.int32)
        v[RNG.random(n) < 0.01] = -1
        return v
    if name == "boundary_values":
        v = RNG.integers(0, 1000, n, dtype=np.int32)
        v[:3] = [-(2**31), 2**31 - 1, 0]
        return v
    if name == "empty":
        return np.array([], dtype=np.int32)
    if name == "single":
        return np.array([42], dtype=np.int32)
    raise AssertionError(name)


VARIANTS = [
    "uniform_vocab",
    "low_card",
    "runny",
    "narrow_range",
    "skewed_zipf",
    "constant",
    "negative_sentinels",
    "boundary_values",
    "empty",
    "single",
]


@pytest.mark.parametrize("codec", sorted(INT_CODECS))
@pytest.mark.parametrize("variant", VARIANTS)
def test_int_roundtrip(codec, variant):
    values = _variant(variant)
    if codec == "bitpack" and values.size and values.min() < 0:
        with pytest.raises(ValueError):
            encode_values(codec, values)
        return
    meta, blob = encode_values(codec, values)
    out = decode_values(meta, blob)
    assert out.dtype == values.dtype
    np.testing.assert_array_equal(out, values)


@pytest.mark.parametrize("codec", sorted(INT_CODECS))
@pytest.mark.parametrize("dtype", ["int8", "int16", "int32", "int64"])
def test_int_dtypes(codec, dtype):
    info = np.iinfo(dtype)
    values = np.array([info.min, info.max, 0, 1, -1, info.max - 1], dtype=dtype)
    if codec == "bitpack":
        values = np.abs(values[values >= 0])
    meta, blob = encode_values(codec, values)
    out = decode_values(meta, blob)
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, values)


def test_compression_wins_per_variant():
    """The selector's premise: the named codec beats plain on its variant
    (FIXTURES.md F1 table)."""
    expected_beats_plain = {
        "low_card": ["dict", "bitpack"],
        "runny": ["rle"],
        "narrow_range": ["for"],
        "constant": ["rle", "for", "dict"],
        "uniform_vocab": ["bitpack", "for"],
    }
    for variant, codecs in expected_beats_plain.items():
        values = _variant(variant)
        _, plain_blob = encode_values("plain", values)
        for codec in codecs:
            _, blob = encode_values(codec, values)
            assert len(blob) < len(plain_blob), (variant, codec)


def _strdata(strings: list[str]) -> StrData:
    data = "".join(strings).encode()
    off = np.zeros(len(strings) + 1, dtype=np.int64)
    off[1:] = np.cumsum([len(s.encode()) for s in strings])
    return StrData(offsets=off, data=data)


STR_FIXTURES = {
    "doc_ids": [f"doc-{i:08d}" for i in range(5000)],
    "low_card": [f"src{i % 8}" for i in range(5000)],
    "empty_and_unicode": ["", "a", "émoji🎉", "", "x" * 1000],
    "single": ["only"],
    "nothing": [],
}


@pytest.mark.parametrize("codec", sorted(STR_CODECS))
@pytest.mark.parametrize("fixture", sorted(STR_FIXTURES))
def test_str_roundtrip(codec, fixture):
    sd = _strdata(STR_FIXTURES[fixture])
    if codec == "seq_str":
        from xml2arrow_spark.codecs.strings import seq_str_probe

        if sd.n and seq_str_probe(sd) is None:
            with pytest.raises(ValueError):
                encode_values(codec, sd)
            return
    meta, blob = encode_values(codec, sd)
    out = decode_values(meta, blob)
    np.testing.assert_array_equal(out.offsets, sd.offsets)
    assert out.data == sd.data


def test_seq_str_beats_fsst_and_roundtrips_ids():
    sd = _strdata(STR_FIXTURES["doc_ids"])
    _, fsst = encode_values("fsst", sd)
    meta, blob = encode_values("seq_str", sd)
    assert len(blob) < len(fsst) / 2
    out = decode_values(meta, blob)
    assert out.data == sd.data


def test_fsst_compresses_common_prefix():
    sd = _strdata(STR_FIXTURES["doc_ids"])
    _, plain = encode_values("plain_str", sd)
    _, fsst = encode_values("fsst", sd)
    assert len(fsst) < len(plain) / 1.5


def _ref_pack(values: list, width: int) -> bytes:
    """Pure-Python reference of the stream layout: native little-endian at
    widths 8/16/32/64, else one MSB-first bit string padded to a byte."""
    if width in (8, 16, 32, 64):
        return b"".join(v.to_bytes(width // 8, "little") for v in values)
    bits = "".join(format(v, f"0{width}b") for v in values) if width else ""
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""


def _ref_unpack(buf: bytes, n: int, width: int) -> list:
    if width in (8, 16, 32, 64):
        k = width // 8
        return [int.from_bytes(buf[i * k : (i + 1) * k], "little") for i in range(n)]
    if width == 0 or n == 0:
        return [0] * n
    bits = format(int.from_bytes(buf, "big"), f"0{len(buf) * 8}b")
    return [int(bits[i * width : (i + 1) * width], 2) for i in range(n)]


@pytest.mark.parametrize("width", range(65))
def test_bitpack_every_width_against_reference(width):
    """Every width 0-64 at sizes on both sides of a lane row (8 values) and
    of the old 2,048-value kernel crossover, both ways against the
    reference: pack -> bytes and bytes -> unpack."""
    rng = np.random.default_rng(width)
    hi = (1 << width) - 1
    for n in (0, 1, 7, 8, 2047, 2048, 65537):
        v = rng.integers(0, hi, n, dtype=np.uint64, endpoint=True)
        if n:
            v[0] = hi
        if width % 2 and width < 64:
            v = v.astype(np.int64)  # the signed-input path
        values = v.tolist()
        ref = _ref_pack(values, width)
        assert pack_uint(v, width) == ref, (width, n)
        got = unpack_uint(ref, n, width)
        assert got.dtype == uint_dtype(width) and got.size == n
        assert got.tolist() == _ref_unpack(ref, n, width) == values, (width, n)
    if width:
        with pytest.raises(EncodeValueError):
            pack_uint(np.array([3, -1], dtype=np.int64), width)
        if width < 64:
            with pytest.raises(EncodeValueError):
                pack_uint(np.array([0, 1 << width], dtype=np.uint64), width)


def test_bitpack_overflow_is_error():
    """No silent truncation — /root/reference/src/xml_parser.rs:209-215."""
    with pytest.raises(ValueError):
        pack_uint(np.array([8], dtype=np.uint64), 3)
    assert bits_needed(7) == 3 and bits_needed(8) == 4 and bits_needed(0) == 0


def test_corrupt_blob_is_error():
    values = _variant("low_card")
    meta, blob = encode_values("rle", values)
    with pytest.raises(ValueError):
        decode_values(meta, blob + b"extra")
