"""Format pin for every codec that bit-packs.

Each codec below encodes seeded inputs whose packed widths span 1-64, and
the sha256 of its headers plus payloads is pinned. The hashes were taken
from the MSB-first bit-matrix packer that wrote every store before the lane
kernel; a kernel change that moves one bit of the on-disk layout fails
here, whatever its round trip says.
"""

import hashlib
import json

import numpy as np
import pyarrow as pa
import pytest

from xml2arrow_spark.codecs import decode_values, encode_values
from xml2arrow_spark.codecs.base import strdata_from_arrow

WIDTHS = range(1, 65)


def _span(rng, w: int, n: int, signed: bool) -> np.ndarray:
    """n int64 values whose max - min is exactly 2^w - 1 (both ends present).

    Non-negative inputs start at 0 (so bitpack's width is w); signed ones
    start at a seeded negative base (so FOR-style codecs shift first)."""
    if w == 64:
        lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
        v = rng.integers(lo, hi, n, dtype=np.int64, endpoint=True)
        v[0], v[-1] = lo, hi
        return v
    top = (1 << w) - 1
    base = 0
    if signed:
        base = -int(rng.integers(0, 1 << (63 - w) if w < 63 else 1, endpoint=True))
    v = rng.integers(0, top, n, dtype=np.uint64, endpoint=True).astype(np.int64)
    v[0], v[-1] = 0, top
    return v + base if base else v


def _n(w: int) -> int:
    # non-multiples of 8 and one size past 2048 values per width family
    return (5, 1001, 2053)[w % 3]


def _ints(codec: str, rng) -> list[np.ndarray]:
    out = []
    for w in WIDTHS:
        n = _n(w)
        if codec == "bitpack":
            if w < 64:
                out.append(_span(rng, w, n, signed=False))
            continue
        v = _span(rng, w, n, signed=codec != "for" or w % 2 == 0)
        if codec == "rle":
            v = np.repeat(v, rng.integers(1, 9, v.size))[: 3 * n]
        elif codec == "delta":
            v = np.cumsum(v[: n // 2 + 1] >> 1) if w < 64 else v
        elif codec in ("dict", "pdict"):
            pool = np.concatenate((v[[0, -1]], v[1 : max(2, n // 4)]))
            p = 1.0 / np.arange(1, pool.size + 1)
            v = pool[rng.choice(pool.size, n, p=p / p.sum())]
            v[:2] = pool[:2]
        elif codec == "pfor":
            small = rng.integers(0, 1 << max(1, w // 3), n, dtype=np.int64)
            small[rng.integers(0, n, max(1, n // 50))] = v[: max(1, n // 50)]
            v = small
        if w <= 31 and w % 2:
            v = v.astype(np.int32) if v.min() >= -(2**31) and v.max() < 2**31 else v
        out.append(v)
    return out


def _strs(rng) -> list:
    out = []
    for card in (1, 2, 3, 5, 17, 255, 256, 1500, 4099):
        words = [f"w{i:05d}-{'x' * (i % 7)}" for i in range(card)]
        n = max(card, 2053 if card > 300 else 1001)
        idx = rng.integers(0, card, n)
        idx[:card] = np.arange(card)
        out.append(strdata_from_arrow(pa.array([words[i] for i in idx])))
    return out


def _digest(codec: str) -> str:
    rng = np.random.default_rng(1)
    inputs = _strs(rng) if codec == "dict_str" else _ints(codec, rng)
    h = hashlib.sha256()
    for values in inputs:
        meta, blob = encode_values(codec, values)
        got = decode_values(meta, blob)
        if codec == "dict_str":
            assert got.data == values.data
            np.testing.assert_array_equal(got.offsets, values.offsets)
        else:
            np.testing.assert_array_equal(got, values)
        h.update(json.dumps(meta, sort_keys=True).encode())
        h.update(blob)
    return h.hexdigest()


PINNED = {
    "bitpack": "629a7612be94ba23cc99bdc9f7c3d9b38de37ac23c91ba45b7a9bc5590831316",
    "for": "fc39203deb3a95d220fee8c8255d45550493b68bf644ed2f72cbd23f17cbf47c",
    "delta": "292b7f4ff447595c5ced2d55ee266fb9e96355ea6242fd274a9aa45bc0e65fd5",
    "rle": "a590cecd0074e466c323c33d85cad79ba001f95d489b890cbb92b18ce40ac7a0",
    "dict": "88c2724a5e864821b2806a3f67663c3cc76bbd72bed0acb73f8445f77a600072",
    "pdict": "528bdc3b717ce53a333eab86c9bc5f50bc41221818462c73ded1af559a0c8cdf",
    "pfor": "2d4d23211d57b531186dbae11bac0a1c16681e4ad60fd7821642bc6835a624ae",
    "dict_str": "78d5ef9a331b4678815ebaec2bac888bb784cfe9c99fc6f4a3a54a7f19501af2",
}


@pytest.mark.parametrize("codec", sorted(PINNED))
def test_bitpacked_payloads_are_pinned(codec):
    assert _digest(codec) == PINNED[codec]
