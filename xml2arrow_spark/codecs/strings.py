"""String codecs: plain, dictionary, and FSST-style symbol-table compression.

All kernels operate on :class:`StrData` (Arrow offsets + UTF-8 bytes) and are
fully vectorized.

``fsst`` here is FSST-*style*: a per-block trained table of up to 255 byte
symbols with an escape stream, like the paper's symbol table + escape byte —
but symbols are fixed-stride (2/4/8 bytes, stride chosen by the trainer per
block) instead of variable-length greedy longest-match. That trade keeps both
encode AND decode pure-numpy gather/scatter (no sequential byte scan), which
is the right call inside Arrow-batched Spark workers: the reference makes the
same style of trade when it monomorphizes its event loop per configuration
(/root/reference/src/xml_parser.rs:798-805) — specialize once per block,
branch never per value. Escapes live in a separate stream so decode needs no
in-band marker disambiguation.
"""

from __future__ import annotations

import numpy as np

from xml2arrow_spark.codecs import bitpack
from xml2arrow_spark.codecs.base import (
    StrData,
    pack_sections,
    split_sections,
    strdata_from_arrow,
    strdata_to_arrow,
)
from xml2arrow_spark.codecs.integers import _for_pack, _for_unpack
from xml2arrow_spark.errors import EncodeValueError

__all__ = [
    "encode_plain_str",
    "decode_plain_str",
    "encode_dict_str",
    "decode_dict_str",
    "encode_fsst",
    "decode_fsst",
    "encode_seq_str",
    "decode_seq_str",
    "seq_str_probe",
]

_ESCAPE = 255
_MAX_SYMBOLS = 255
_TRAIN_SAMPLE_BYTES = 1 << 16


def _lengths_pack(sd: StrData) -> tuple[dict, bytes]:
    ref, width, buf = _for_pack(sd.lengths())
    return {"lref": ref, "lwidth": width, "n": sd.n}, buf


def _lengths_unpack(meta: dict, buf: bytes) -> np.ndarray:
    lengths = _for_unpack(buf, meta["n"], meta["lref"], meta["lwidth"])
    offsets = np.zeros(meta["n"] + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return offsets


# -- plain ------------------------------------------------------------------

def encode_plain_str(sd: StrData) -> tuple[dict, bytes]:
    lmeta, lbuf = _lengths_pack(sd)
    sections, blob = pack_sections({"lengths": lbuf, "data": sd.data})
    return {"codec": "plain_str", **lmeta, "sections": sections}, blob


def decode_plain_str(meta: dict, blob: bytes) -> StrData:
    parts = split_sections(meta, blob)
    offsets = _lengths_unpack(meta, parts["lengths"])
    return StrData(offsets=offsets, data=parts["data"])


# -- dictionary -------------------------------------------------------------

def encode_dict_str(sd: StrData) -> tuple[dict, bytes]:
    """Distinct strings (stored as a nested plain_str stream) + packed indices."""
    import pyarrow as pa

    arr = strdata_to_arrow(sd, large=True)
    denc = arr.dictionary_encode()
    indices = denc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
    dict_sd = strdata_from_arrow(denc.dictionary)
    card = dict_sd.n
    iwidth = bitpack.bits_needed(max(card - 1, 0))
    ibuf = bitpack.pack_uint(indices, iwidth)
    dmeta, dblob = encode_plain_str(dict_sd)
    sections, blob = pack_sections({"indices": ibuf, "dict": dblob})
    return {
        "codec": "dict_str",
        "n": sd.n,
        "card": card,
        "iwidth": iwidth,
        "dict_meta": dmeta,
        "sections": sections,
    }, blob


def decode_dict_str(meta: dict, blob: bytes) -> StrData:
    parts = split_sections(meta, blob)
    dict_sd = decode_plain_str(meta["dict_meta"], parts["dict"])
    idx = bitpack.unpack_uint(parts["indices"], meta["n"], meta["iwidth"])
    lengths = dict_sd.lengths()
    out_lengths = lengths[idx]
    offsets = np.zeros(meta["n"] + 1, dtype=np.int64)
    np.cumsum(out_lengths, out=offsets[1:])
    # Gather the dictionary bytes per row: ranges flattened via repeat+cumsum trick.
    data_arr = np.frombuffer(dict_sd.data, dtype=np.uint8)
    starts = dict_sd.offsets[idx]
    total = int(offsets[-1])
    if total:
        # position j of output belongs to row r; byte index = starts[r] + (j - offsets[r])
        row_of = np.repeat(np.arange(meta["n"]), out_lengths)
        j = np.arange(total, dtype=np.int64)
        src = starts[row_of] + (j - offsets[row_of])
        data = data_arr[src].tobytes()
    else:
        data = b""
    return StrData(offsets=offsets, data=data)


# -- FSST-style symbol table ------------------------------------------------

def _chunk_keys(data: np.ndarray, stride: int) -> np.ndarray:
    """View padded byte array as (m,) uint64 keys of `stride`-byte chunks."""
    m = data.size // stride
    padded = np.zeros((m, 8), dtype=np.uint8)
    padded[:, :stride] = data[: m * stride].reshape(m, stride)
    return padded.view("<u8").reshape(m)


def _train(data: np.ndarray) -> tuple[int, np.ndarray]:
    """Pick (stride, table of chunk-keys) minimizing estimated size on a sample."""
    sample = data[:_TRAIN_SAMPLE_BYTES]
    best_stride, best_table, best_est = 0, None, int(sample.size * 0.95)
    for stride in (2, 4, 8):
        if sample.size < stride:
            continue
        pad = (-sample.size) % stride
        s = np.concatenate([sample, np.zeros(pad, dtype=np.uint8)]) if pad else sample
        keys = _chunk_keys(s, stride)
        uniq, counts = np.unique(keys, return_counts=True)
        order = np.argsort(counts)[::-1]
        top = uniq[order[:_MAX_SYMBOLS]]
        covered = int(counts[order[:_MAX_SYMBOLS]].sum())
        m = keys.size
        # 1 code byte per chunk + stride escape bytes per miss + the table.
        est = m + (m - covered) * stride + top.size * 8
        if est < best_est:
            best_stride, best_table, best_est = stride, np.sort(top), est
    return best_stride, best_table


def encode_fsst(sd: StrData) -> tuple[dict, bytes]:
    data = np.frombuffer(sd.data, dtype=np.uint8)
    stride, table = _train(data)
    lmeta, lbuf = _lengths_pack(sd)
    if table is None or stride == 0:
        # Degenerate/tiny input: store plain but under the fsst header so the
        # manifest's codec choice round-trips.
        sections, blob = pack_sections({"lengths": lbuf, "data": sd.data})
        return {
            "codec": "fsst",
            **lmeta,
            "stride": 0,
            "data_len": int(data.size),
            "sections": sections,
        }, blob
    pad = (-data.size) % stride
    padded = np.concatenate([data, np.zeros(pad, dtype=np.uint8)]) if pad else data
    keys = _chunk_keys(padded, stride)
    pos = np.searchsorted(table, keys)
    pos_c = np.minimum(pos, table.size - 1)
    hit = table[pos_c] == keys
    codes = np.full(keys.size, _ESCAPE, dtype=np.uint8)
    codes[hit] = pos_c[hit].astype(np.uint8)
    escapes = padded.reshape(-1, stride)[~hit].tobytes()
    table_bytes = table.astype("<u8").tobytes()
    sections, blob = pack_sections(
        {"lengths": lbuf, "codes": codes.tobytes(), "escapes": escapes, "table": table_bytes}
    )
    return {
        "codec": "fsst",
        **lmeta,
        "stride": stride,
        "data_len": int(data.size),
        "n_symbols": int(table.size),
        "sections": sections,
    }, blob


def decode_fsst(meta: dict, blob: bytes) -> StrData:
    parts = split_sections(meta, blob)
    offsets = _lengths_unpack(meta, parts["lengths"])
    if meta["stride"] == 0:
        return StrData(offsets=offsets, data=parts["data"])
    stride = meta["stride"]
    table = np.frombuffer(parts["table"], dtype="<u8")
    table_chunks = table.reshape(-1, 1).view(np.uint8).reshape(-1, 8)[:, :stride]
    codes = np.frombuffer(parts["codes"], dtype=np.uint8)
    out = np.empty((codes.size, stride), dtype=np.uint8)
    hit = codes != _ESCAPE
    out[hit] = table_chunks[codes[hit]]
    n_esc = int((~hit).sum())
    if n_esc:
        out[~hit] = np.frombuffer(parts["escapes"], dtype=np.uint8).reshape(n_esc, stride)
    data = out.reshape(-1)[: meta["data_len"]].tobytes()
    return StrData(offsets=offsets, data=data)


# -- sequential-id strings (fixed template prefix + zero-padded integer) -----

_SEQ_MAX_DIGITS = 18  # int64-safe


def seq_str_probe(sd: StrData) -> tuple[int, int] | None:
    """(str_len, n_digits) if every string is ``<identical prefix><fixed-width
    ASCII digits>``; None otherwise. One vectorized pass over the byte matrix.

    Sequential ids (``doc-00012345``) are ubiquitous in training corpora and
    pathological for symbol-table codecs (every string distinct, suffix bytes
    near-random to FSST) while being ~an integer in disguise.
    """
    n = sd.n
    if n == 0 or len(sd.data) == 0:
        return None
    lengths = sd.lengths()
    str_len = int(lengths[0])
    if str_len == 0 or not (lengths == str_len).all():
        return None
    mat = np.frombuffer(sd.data, dtype=np.uint8).reshape(n, str_len)
    digit_cols = ((mat >= 48) & (mat <= 57)).all(axis=0)
    n_digits = 0
    for i in range(str_len - 1, -1, -1):  # bounded by str_len, not n
        if digit_cols[i]:
            n_digits += 1
        else:
            break
    if n_digits == 0 or n_digits > _SEQ_MAX_DIGITS:
        return None
    split = str_len - n_digits
    if split and not (mat[:, :split] == mat[0, :split]).all():
        return None
    return str_len, n_digits


def encode_seq_str(sd: StrData) -> tuple[dict, bytes]:
    """prefix template + FOR-packed integers; exact (fixed width keeps
    leading zeros)."""
    probe = seq_str_probe(sd)
    if probe is None:
        if sd.n == 0:
            sections, blob = pack_sections({"ints": b""})
            return {
                "codec": "seq_str", "n": 0, "prefix": "", "n_digits": 0,
                "ref": 0, "width": 0, "sections": sections,
            }, blob
        raise EncodeValueError("seq_str requires '<common prefix><fixed digits>' strings")
    str_len, n_digits = probe
    n = sd.n
    mat = np.frombuffer(sd.data, dtype=np.uint8).reshape(n, str_len)
    split = str_len - n_digits
    powers = 10 ** np.arange(n_digits - 1, -1, -1, dtype=np.int64)
    ints = (mat[:, split:].astype(np.int64) - 48) @ powers
    ref, width, buf = _for_pack(ints)
    sections, blob = pack_sections({"ints": buf})
    return {
        "codec": "seq_str",
        "n": n,
        "prefix": mat[0, :split].tobytes().decode("utf-8"),
        "n_digits": n_digits,
        "ref": ref,
        "width": width,
        "sections": sections,
    }, blob


def decode_seq_str(meta: dict, blob: bytes) -> StrData:
    n, n_digits = meta["n"], meta["n_digits"]
    if n == 0:
        return StrData(offsets=np.zeros(1, dtype=np.int64), data=b"")
    parts = split_sections(meta, blob)
    ints = _for_unpack(parts["ints"], n, meta["ref"], meta["width"])
    prefix = np.frombuffer(meta["prefix"].encode("utf-8"), dtype=np.uint8)
    str_len = prefix.size + n_digits
    powers = 10 ** np.arange(n_digits - 1, -1, -1, dtype=np.int64)
    digits = (ints[:, None] // powers) % 10
    mat = np.empty((n, str_len), dtype=np.uint8)
    mat[:, : prefix.size] = prefix
    mat[:, prefix.size :] = digits + 48
    offsets = np.arange(n + 1, dtype=np.int64) * str_len
    return StrData(offsets=offsets, data=mat.tobytes())
