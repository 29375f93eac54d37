"""Vectorized bit-(un)packing: one lane kernel for every width.

The stream is unchanged since the first store: value i at bits
``[i*w, (i+1)*w)`` of one MSB-first bit stream, or a native little-endian
integer at widths 8/16/32/64. Overflow is an error, never silent
truncation, as in the reference parser.

Lane view: 8 values of width w take exactly w bytes, so the payload is a
``(ceil(n/8), w)`` byte matrix where value j of every row (lane j) starts
at byte ``j*w // 8``, bit ``j*w % 8``: one big-endian word at a fixed
offset with a fixed shift, uint32 up to w = 25 and uint64 up to w = 57.
At w = 58..63 a lane spans 9 bytes and its head byte is folded in apart
from the 8-byte word after it. Unpack gathers every row's 8 words at once;
pack writes them back. The bits land where the older unpackbits/packbits
kernels put them, so payloads are byte-identical
(``tests/test_bitpack_format.py``). The width picks the path once per
block; no path depends on the number of values.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from xml2arrow_spark.errors import EncodeValueError

__all__ = ["bits_needed", "pack_uint", "unpack_uint", "uint_dtype"]


def bits_needed(max_value: int) -> int:
    """Minimum bit width to represent unsigned ``max_value`` (>=0). 0 -> 0 bits."""
    if max_value < 0:
        raise EncodeValueError(f"bits_needed requires non-negative max, got {max_value}")
    return int(max_value).bit_length()


# Byte-aligned widths store NATIVE little-endian narrow integers: a pure
# truncating cast on pack and a zero-copy view on unpack.
_ALIGNED = {8: "<u1", 16: "<u2", 32: "<u4", 64: "<u8"}


def uint_dtype(width: int) -> np.dtype:
    """Narrowest unsigned dtype holding ``width`` bits: what :func:`unpack_uint` returns."""
    return np.dtype(_ALIGNED[max(8, 1 << (max(width, 1) - 1).bit_length())])


@lru_cache(maxsize=None)
def _lanes(width: int):
    """Lane plan of a non-aligned width: word bytes and dtype, each lane's
    word offset and right shift, the head-byte mask and shift (w > 57
    only; the head byte sits just before the word), and how many lane
    classes pack needs so that lanes of one class never share a byte."""
    start = np.arange(8) * width
    bit, first, last = start & 7, start >> 3, (start + width - 1) >> 3
    nbytes = 4 if width <= 25 else 8
    word = np.uint32 if nbytes == 4 else np.uint64
    offset, shift, head = first, 8 * nbytes - bit - width, None
    if width > 57:
        offset, shift = first + 1, 72 - bit - width
        head = ((0xFF >> bit).astype(np.uint8), (bit + width - 8).astype(word))
    classes = next(c for c in range(1, 9)
                   if all(last[j] < first[j + c] for j in range(8 - c)))
    shift = shift.astype(word)
    for a in (offset, shift, *(head or ())):
        a.flags.writeable = False  # cached: shared by every call
    return nbytes, word, offset, shift, head, classes


def pack_uint(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative integers into ``width``-bit big-endian-within-value codes.

    ``width`` may be 0 (all values zero -> empty payload) up to 64.
    Raises if any value does not fit — the no-silent-truncation contract.
    """
    n = int(values.size)
    if width == 0:
        if n and int(values.max(initial=0)) != 0:
            raise EncodeValueError("width=0 but non-zero values present")
        return b""
    if not 0 < width <= 64:
        raise EncodeValueError(f"width out of range: {width}")
    v = np.ascontiguousarray(values)
    if n:
        if v.dtype.kind == "i" and int(v.min()) < 0:
            raise EncodeValueError("pack_uint requires non-negative values")
        mx = int(v.max())
        if width < 64 and mx >> width:
            raise EncodeValueError(f"value {mx} does not fit in {width} bits")
    dt = _ALIGNED.get(width)
    if dt is not None:
        return v.astype(dt).tobytes()
    nbytes, word, offset, shift, head, classes = _lanes(width)
    g = -(-n // 8)
    lanes = np.zeros((g, 8), word)
    lanes.reshape(-1)[:n] = v
    # one zeroed row buffer per lane class, each row padded by a word so no
    # lane spills into the next row (a spare row keeps the views inside the
    # buffer at n = 0); in a class, a lane's zero tail is overwritten by the
    # class's next lane, written later
    row = width + nbytes
    rows = np.zeros((classes, g + 1, row), np.uint8)
    body = rows[:, :g]
    if head is not None:
        for k in range(classes):
            body[k][:, offset[k::classes] - 1] = lanes[:, k::classes] >> head[1][k::classes]
    lanes <<= shift
    for j in range(8):
        dest = np.ndarray((g,), f">u{nbytes}", rows[j % classes], offset[j], (row,))
        dest[...] = lanes[:, j]
    out = body[0]
    for k in range(1, classes):
        out |= body[k]
    return np.ascontiguousarray(out[:, :width]).reshape(-1)[: (n * width + 7) // 8].tobytes()


def unpack_uint(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_uint`: ``n`` values as :func:`uint_dtype` (width).

    At the aligned widths the result is a read-only view of ``buf``.
    """
    if width == 0:
        return np.zeros(n, dtype=np.uint8)
    if not 0 < width <= 64:
        raise EncodeValueError(f"width out of range: {width}")
    dt = _ALIGNED.get(width)
    if dt is not None:
        return np.frombuffer(buf, dtype=dt, count=n)
    nbytes, word, offset, shift, head, _ = _lanes(width)
    g, size = -(-n // 8), (n * width + 7) // 8
    # whole rows plus one word of zero padding past the last row
    raw = np.zeros(g * width + 9, np.uint8)
    raw[:size] = np.frombuffer(buf, np.uint8, size)
    windows = np.ndarray((g, width + 1), f">u{nbytes}", raw, 0, (width, 1))
    lanes = windows[:, offset] >> shift
    if head is not None:
        heads = raw[: g * width].reshape(g, width)[:, offset - 1] & head[0]
        lanes |= heads.astype(word) << head[1]
    # the gather lays lanes out column by column: mask, narrow and restore
    # row order in one pass
    out = np.empty((g, 8), uint_dtype(width))
    np.bitwise_and(lanes, word((1 << width) - 1), out=out, casting="unsafe")
    return out.reshape(-1)[:n]
