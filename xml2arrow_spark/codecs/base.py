"""Shared codec plumbing: block headers, section framing, string layout.

A codec turns a value stream into ``(meta, blob)`` where ``meta`` is a small
JSON-able dict (the per-block analog of the reference's per-field
``FieldConfig`` — /root/reference/src/config.rs:360-382, declarative and
validated, never inferred at decode time) and ``blob`` is the concatenation
of named binary sections recorded in ``meta["sections"]``.

Decode trusts only the header — mirroring the reference's
declared-never-inferred schema stance (/root/reference/src/config.rs:526-541).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

__all__ = [
    "StrData",
    "decimal_low64",
    "pack_sections",
    "split_sections",
    "strdata_from_arrow",
    "strdata_to_arrow",
    "INT_DTYPES",
]

# Engine integer dtypes (signed widths; unsigned widened per SURVEY §1.3).
INT_DTYPES = {
    "int8": np.int8,
    "int16": np.int16,
    "int32": np.int32,
    "int64": np.int64,
}


@dataclass
class StrData:
    """Arrow-layout string column: ``offsets`` (int64, n+1) + UTF-8 ``data``.

    int64 offsets so the same layout serves string and large_string blocks.
    """

    offsets: np.ndarray
    data: bytes

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)


def pack_sections(parts: dict[str, bytes]) -> tuple[list[list], bytes]:
    """Frame named binary sections into one blob + a manifest for the header."""
    sections = [[name, len(buf)] for name, buf in parts.items()]
    return sections, b"".join(parts.values())


def split_sections(meta: dict, blob: bytes) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    pos = 0
    for name, nbytes in meta["sections"]:
        out[name] = blob[pos : pos + nbytes]
        pos += nbytes
    if pos != len(blob):
        raise ValueError(
            f"blob length {len(blob)} != sections total {pos} — corrupt block"
        )
    return out


def strdata_from_arrow(arr: pa.Array) -> StrData:
    """Extract offsets+data from a (large_)string/binary Arrow array.

    Handles sliced arrays by re-materializing; normalizes offsets to start at 0.
    Null slots are zero-length (validity handled a layer up, in blocks.py).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.offset != 0:
        arr = pa.concat_arrays([arr])
    typ = arr.type
    if pa.types.is_large_string(typ) or pa.types.is_large_binary(typ):
        odtype = np.int64
    elif pa.types.is_string(typ) or pa.types.is_binary(typ):
        odtype = np.int32
    else:
        raise TypeError(f"not a string/binary array: {typ}")
    n = len(arr)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odtype, count=n + 1).astype(np.int64)
    start, end = int(offsets[0]), int(offsets[-1])
    data = bufs[2].to_pybytes()[start:end] if bufs[2] is not None else b""
    return StrData(offsets=offsets - start, data=data)


def strdata_to_arrow(sd: StrData, large: bool = False) -> pa.Array:
    if large:
        return pa.Array.from_buffers(
            pa.large_utf8(),
            sd.n,
            [None, pa.py_buffer(sd.offsets.astype(np.int64).tobytes()), pa.py_buffer(sd.data)],
        )
    return pa.Array.from_buffers(
        pa.utf8(),
        sd.n,
        [None, pa.py_buffer(sd.offsets.astype(np.int32).tobytes()), pa.py_buffer(sd.data)],
    )


def decimal_low64(arr: pa.Array) -> np.ndarray | None:
    """The values of a null-free decimal128 array as the int64 bit-cast of
    their low 64 bits: the integer stream a scale-0 decimal (UInt64's
    widened type) is coded as. None when a value lies outside [0, 2^64),
    where the high 64 bits are not all zero."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.int64)
    raw = np.frombuffer(arr.buffers()[1], dtype=np.uint64)
    raw = raw[2 * arr.offset : 2 * (arr.offset + len(arr))]
    if raw[1::2].any():
        return None
    return np.ascontiguousarray(raw[0::2]).view(np.int64)
