"""Arrow-level block encode/decode for one column.

A *block* is a bounded run of rows (``manifest.block_rows``) from one input
partition, all columns encoded over the same row span — the per-table
RecordBatch finalize of the reference (``TableBuilder::finish``,
/root/reference/src/xml_parser.rs:491-511), except the payload is a
compressed byte stream per column instead of raw builders.

Null handling follows the reference's uniform contract
(/root/reference/src/xml_parser.rs:327-338, 2645-2838): validity is its own
bitpacked section; the value stream holds non-null values only; decode
re-expands exactly. Empty string != null round-trips (Utf8 asymmetry).
"""

from __future__ import annotations

import json
import zlib

import numpy as np
import pyarrow as pa

from xml2arrow_spark.codecs import bitpack, decode_values, encode_values
from xml2arrow_spark.codecs.integers import _for_unpack
from xml2arrow_spark.errors import (
    BlockCorruptionError,
    EncodeTypeError,
    EncodeValueError,
)
from xml2arrow_spark.codecs.base import (
    StrData,
    decimal_low64,
    strdata_from_arrow,
    strdata_to_arrow,
)
from xml2arrow_spark.plans.selector import choose_int_codec, choose_str_codec

__all__ = ["encode_column", "decode_column", "ENCODED_COL_STRUCT", "BLOCK_FORMAT_VERSION"]

# On-disk block format version. v2: byte-aligned bitpack widths 16/32/64
# switched from MSB-first big-endian bit-streams to native little-endian
# narrow integers; v1 blocks (no tag) are REJECTED at decode rather than
# silently misread (ADVICE r01; the reference never silently misparses,
# /root/reference/src/xml_parser.rs:209-215).
BLOCK_FORMAT_VERSION = 2

ENCODED_COL_STRUCT = (
    "name: string, codec: string, meta: string, data: binary, "
    "in_bytes: long, out_bytes: long"
)


def _validity(arr: pa.Array) -> tuple[np.ndarray | None, bytes]:
    if arr.null_count == 0:
        return None, b""
    mask = np.asarray(arr.is_valid())
    return mask, np.packbits(mask).tobytes()


def _encode_float_values(codec: str, values: np.ndarray, cascade: str | None = None):
    """Shared float-value encode for the scalar and list paths: the
    ALP-style decimal probe with the bit-exact plain fallback (NaN / inf /
    -0.0 / true reals) — ONE copy so the two paths can never diverge.
    When ``cascade`` names the general coder that will wrap this payload
    (an ``auto+zstd`` policy), the non-decimal fallback is chosen between
    plain_float and bss_float by the bounded compression probe — byte-plane
    splitting is only worth anything under a cascade (see
    codecs/floats.py::encode_bss_float). Returns (resolved, values_meta,
    values_blob)."""
    if codec in ("auto", "dec_float", "alp_float"):
        if codec != "alp_float":
            try:
                vmeta, vblob = encode_values("dec_float", values)
                return "dec_float", vmeta, vblob
            except EncodeValueError:
                pass
        if codec in ("auto", "alp_float"):
            # almost-decimal: integer path + bounded exception patch list
            # (full ALP); rejects cheaply past the exception budget
            try:
                vmeta, vblob = encode_values("alp_float", values)
                return "alp_float", vmeta, vblob
            except EncodeValueError:
                pass
        fallback = "plain_float"
        if codec == "auto" and cascade:
            from xml2arrow_spark.codecs.floats import _bss_probe_wins

            if values.size and _bss_probe_wins(values, cascade):
                fallback = "bss_float"
        vmeta, vblob = encode_values(fallback, values)
        return fallback, vmeta, vblob
    vmeta, vblob = encode_values(codec, values)
    return codec, vmeta, vblob


def _resolve_int(codec: str, values: np.ndarray) -> str:
    if codec == "auto":
        return choose_int_codec(values)
    if codec == "bitpack" and values.size and int(values.min()) < 0:
        return "for"  # safety fallback; never silently corrupt
    if codec == "pdict" and values.size:
        from xml2arrow_spark.codecs.integers import PDICT_MAX_RANGE

        if int(values.max()) - int(values.min()) >= PDICT_MAX_RANGE:
            return "for"  # sample said pdict, this block's range says no
    return codec


# below this payload size the general coder's frame overhead dominates
GENERAL_MIN_BYTES = 64


def encode_column(arr: pa.Array, codec: str) -> tuple[str, str, bytes]:
    """Encode one Arrow column chunk -> (resolved_codec, meta_json, payload).

    Supports integer/float/boolean/decimal(p,0) scalars, strings, and
    list/large_list of integers or floats (embedding columns).
    ``codec='auto'`` resolves per block via the selector.

    A ``+zstd`` / ``+lz4`` suffix (e.g. ``"auto+zstd"``) cascades a
    general-purpose coder over the lightweight codec's payload —
    lightweight encodings expose structure, the general coder squeezes
    the residual entropy (the BtrBlocks/Parquet layering). Per block,
    applied only when it actually shrinks the payload (a block that
    doesn't benefit stores the raw stream; decode is branch-free either
    way), so the cascade can only help, never hurt size."""
    base, _, general = codec.partition("+")
    resolved, meta_json, payload = _encode_column_raw(arr, base, cascade=general or None)
    if general:
        from xml2arrow_spark.codecs import GENERAL_CODECS
        from xml2arrow_spark.errors import UnknownCodecError

        if general not in GENERAL_CODECS:
            raise UnknownCodecError(
                f"unknown general codec {general!r}; supported: {GENERAL_CODECS}"
            )
        if len(payload) >= GENERAL_MIN_BYTES:
            comp = pa.Codec(general).compress(payload, asbytes=True)
            # the wrapper meta costs ~80 bytes of JSON; require a real win
            if len(comp) + 80 < len(payload):
                meta = {
                    "kind": "general",
                    "fmt": BLOCK_FORMAT_VERSION,
                    "g": general,
                    "raw_len": len(payload),
                    "crc": zlib.crc32(comp),
                    "inner": meta_json,
                }
                return f"{resolved}+{general}", json.dumps(meta), comp
    return resolved, _stamp_crc(meta_json, payload), payload


def _stamp_crc(meta_json: str, payload: bytes) -> str:
    """Record the CRC-32 of the STORED payload in the outer block header —
    decode_column refuses to decode a flipped bit instead of returning
    silently wrong values (the reference's no-silent-corruption contract,
    /root/reference/src/xml_parser.rs:209-215, extended to the storage
    layer: at 10^12-sequence scale, undetected media bit-rot is a
    certainty, not a tail risk). Only the outermost header carries a crc:
    it covers the exact bytes read back from storage (compressed when a
    cascade applied), so one pass verifies everything beneath it."""
    m = json.loads(meta_json)
    m["crc"] = zlib.crc32(payload)
    return json.dumps(m)


def _encode_column_raw(
    arr: pa.Array, codec: str, cascade: str | None = None
) -> tuple[str, str, bytes]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    mask, validity = _validity(arr)
    n = len(arr)

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if not (
            pa.types.is_integer(t.value_type) or pa.types.is_floating(t.value_type)
        ):
            raise EncodeTypeError(
                f"only integer or float list columns supported, got {t}"
            )
        if t.value_type == pa.float16():
            raise EncodeTypeError("float16 lists are not supported; cast to float32")
        # lengths stream (null slot -> 0) + flattened child values
        lengths = np.zeros(n, dtype=np.int64)
        valid_arr = arr.drop_null() if mask is not None else arr
        offs = np.asarray(valid_arr.offsets)
        lens_valid = np.diff(offs)
        if mask is not None:
            lengths[mask] = lens_valid
        else:
            lengths = lens_valid
        child = valid_arr.flatten()
        if child.null_count:
            raise EncodeTypeError("nulls inside list values are not supported")
        values = np.asarray(child)
        lmeta, lblob = encode_values("for", lengths)
        if pa.types.is_floating(t.value_type):
            # float lists (embedding columns): flattened values ride the
            # float codec family — see _encode_float_values
            resolved, vmeta, vblob = _encode_float_values(codec, values, cascade)
            kind = "list_float"
        else:
            resolved = _resolve_int(codec, values)
            vmeta, vblob = encode_values(resolved, values)
            kind = "list_int"
        meta = {
            "kind": kind,
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "value_dtype": str(t.value_type),
            "lengths_meta": lmeta,
            "values_meta": vmeta,
            "lengths_len": len(lblob),
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + lblob + vblob

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        valid_arr = arr.drop_null() if mask is not None else arr
        sd = strdata_from_arrow(valid_arr)
        resolved = choose_str_codec(sd) if codec == "auto" else codec
        if resolved == "seq_str":
            from xml2arrow_spark.codecs.strings import seq_str_probe

            if sd.n and seq_str_probe(sd) is None:
                # sample said seq_str, this block's strings say no — re-choose
                resolved = choose_str_codec(sd)
        smeta, sblob = encode_values(resolved, sd)
        meta = {
            "kind": "str",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "large": pa.types.is_large_string(t),
            "str_meta": smeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + sblob

    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # temporal columns ride the integer codec family: the physical
        # value IS an epoch count (timestamp -> its unit's ticks as int64,
        # date32 -> days as int32), and event times are exactly where
        # delta/FOR shine. The ORIGINAL arrow type (unit + tz) is recorded
        # in the header and reproduced bit-identically at decode — the
        # engine never reinterprets an instant across timezones.
        if t == pa.date64():
            raise EncodeTypeError(
                "date64 is not supported (Spark produces date32); cast first"
            )
        if pa.types.is_timestamp(t):
            lt = {"lt": "timestamp", "unit": t.unit, "tz": t.tz}
            storage = pa.int64()
        else:
            lt = {"lt": "date32"}
            storage = pa.int32()
        valid_arr = arr.drop_null() if mask is not None else arr
        values = np.asarray(valid_arr.cast(storage))
        resolved = _resolve_int(codec, values)
        vmeta, vblob = encode_values(resolved, values)
        meta = {
            "kind": "temporal",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            **lt,
            "values_meta": vmeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + vblob

    if pa.types.is_integer(t):
        valid_arr = arr.drop_null() if mask is not None else arr
        values = np.asarray(valid_arr)
        resolved = _resolve_int(codec, values)
        vmeta, vblob = encode_values(resolved, values)
        meta = {
            "kind": "int",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "dtype": str(t),
            "values_meta": vmeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + vblob

    if pa.types.is_floating(t):
        if t == pa.float16():
            raise EncodeTypeError("float16 is not supported; cast to float32")
        valid_arr = arr.drop_null() if mask is not None else arr
        values = np.asarray(valid_arr)
        # ALP-style decimal probe with the never-silently-corrupt plain
        # fallback — shared with the float-LIST path (_encode_float_values)
        resolved, vmeta, vblob = _encode_float_values(codec, values, cascade)
        meta = {
            "kind": "float",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "dtype": str(t),
            "values_meta": vmeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + vblob

    if pa.types.is_boolean(t):
        valid_arr = arr.drop_null() if mask is not None else arr
        values = np.asarray(valid_arr)
        resolved = "bool_pack" if codec == "auto" else codec
        vmeta, vblob = encode_values(resolved, values)
        meta = {
            "kind": "bool",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "values_meta": vmeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + vblob

    if pa.types.is_decimal(t):
        # UInt64's widened Spark type is Decimal(20,0) (types.py) — the full
        # 0..2^64-1 range rides the integer-codec family as the low 64 bits
        # of the decimal128 storage, bit-cast to int64 (two's-complement
        # wraparound is self-inverse, so FOR/delta/dict round-trip exactly).
        # Values outside [0, 2^64) are REJECTED, not truncated — the
        # reference's full-range contract (/root/reference/src/config.rs:544-559).
        if t.scale != 0:
            raise EncodeTypeError(
                f"only scale-0 decimal columns are encodable (the UInt64 "
                f"widening type); got {t}"
            )
        values = decimal_low64(arr.drop_null() if mask is not None else arr)
        if values is None:
            raise EncodeValueError(
                f"column of type {t}: values outside [0, 2^64) cannot be "
                f"encoded (UInt64 widening contract; no silent truncation)"
            )
        resolved = _resolve_int(codec, values)
        vmeta, vblob = encode_values(resolved, values)
        meta = {
            "kind": "dec128",
            "fmt": BLOCK_FORMAT_VERSION,
            "n": n,
            "precision": t.precision,
            "values_meta": vmeta,
            "validity_len": len(validity),
        }
        return resolved, json.dumps(meta), validity + vblob

    raise EncodeTypeError(f"unsupported column type for encoding: {t}")


def _unpack_validity(meta: dict, payload: bytes) -> tuple[np.ndarray | None, bytes]:
    vlen = meta.get("validity_len", 0)
    if not vlen:
        return None, payload
    mask = np.unpackbits(np.frombuffer(payload[:vlen], dtype=np.uint8))[: meta["n"]].astype(bool)
    return mask, payload[vlen:]


_PA_INT = {
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
}


def _verify_block_header(meta: dict, payload: bytes) -> None:
    """Format + storage-integrity gate shared by every block reader."""
    if meta.get("fmt", 1) != BLOCK_FORMAT_VERSION:
        raise BlockCorruptionError(
            f"block format {meta.get('fmt', 1)} != engine format "
            f"{BLOCK_FORMAT_VERSION}; re-encode the dataset"
        )
    # storage-integrity gate (see _stamp_crc): headers without a crc are
    # pre-r05 blocks and stay readable; a header WITH a crc is binding
    if "crc" in meta and zlib.crc32(payload) != meta["crc"]:
        raise BlockCorruptionError(
            f"block payload CRC mismatch (column {meta.get('kind')!r}, "
            f"{len(payload)} bytes): stored bytes are corrupt; refusing to "
            f"decode silently wrong values"
        )


def decode_column(meta_json: str, payload: bytes) -> pa.Array:
    """Exact inverse of :func:`encode_column`."""
    meta = json.loads(meta_json)
    _verify_block_header(meta, payload)
    kind = meta["kind"]
    if kind == "general":
        raw = pa.Codec(meta["g"]).decompress(
            payload, decompressed_size=meta["raw_len"], asbytes=True
        )
        return decode_column(meta["inner"], raw)
    mask, payload = _unpack_validity(meta, payload)
    n = meta["n"]

    if kind in ("list_int", "list_float"):
        llen = meta["lengths_len"]
        lengths = decode_values(meta["lengths_meta"], payload[:llen])
        values = decode_values(meta["values_meta"], payload[llen:])
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        if offsets[-1] > np.iinfo(np.int32).max:
            raise EncodeValueError("block too large for int32 list offsets; lower block_rows")
        if kind == "list_float":
            vtype = pa.float32() if meta["value_dtype"] == "float" else pa.float64()
            if values.dtype != np.dtype(
                np.float32 if meta["value_dtype"] == "float" else np.float64
            ):
                values = values.astype(
                    np.float32 if meta["value_dtype"] == "float" else np.float64
                )
        else:
            vtype = _PA_INT[meta["value_dtype"]]
        child = pa.array(values, type=vtype)
        return pa.Array.from_buffers(
            pa.list_(vtype),
            n,
            [_validity_buffer(mask), pa.py_buffer(offsets.astype(np.int32).tobytes())],
            children=[child],
        )

    if kind == "str":
        sd = decode_values(meta["str_meta"], payload)
        if mask is None:
            return strdata_to_arrow(sd, large=meta.get("large", False))
        return _expand_str_nulls(sd, mask, large=meta.get("large", False))

    if kind == "int":
        values = decode_values(meta["values_meta"], payload)
        if mask is None:
            return pa.array(values, type=_PA_INT[meta["dtype"]])
        full = np.zeros(n, dtype=values.dtype)
        full[mask] = values
        return pa.array(full, type=_PA_INT[meta["dtype"]], mask=~mask)

    if kind == "temporal":
        values = decode_values(meta["values_meta"], payload)
        if meta["lt"] == "timestamp":
            typ = pa.timestamp(meta["unit"], tz=meta["tz"])
        else:
            typ = pa.date32()
            values = values.astype(np.int32, copy=False)  # arrow refuses int64->date32
        if mask is None:
            return pa.array(values, type=typ)
        full = np.zeros(n, dtype=values.dtype)
        full[mask] = values
        return pa.array(full, type=typ, mask=~mask)

    if kind == "float":
        values = decode_values(meta["values_meta"], payload)
        typ = pa.float32() if meta["dtype"] == "float" else pa.float64()
        if mask is None:
            return pa.array(values, type=typ)
        full = np.zeros(n, dtype=values.dtype)
        full[mask] = values
        return pa.array(full, type=typ, mask=~mask)

    if kind == "bool":
        values = decode_values(meta["values_meta"], payload)
        if mask is None:
            return pa.array(values, type=pa.bool_())
        full = np.zeros(n, dtype=np.bool_)
        full[mask] = values
        return pa.array(full, type=pa.bool_(), mask=~mask)

    if kind == "dec128":
        # exact inverse of the encode-side bit-cast: int64 -> uint64 low
        # half, high half zero (values are guaranteed in [0, 2^64))
        values = decode_values(meta["values_meta"], payload).astype(np.int64)
        u = values.view(np.uint64)
        if mask is None:
            full = u
            vbuf = None
        else:
            full = np.zeros(n, dtype=np.uint64)
            full[mask] = u
            vbuf = _validity_buffer(mask)
        data = np.zeros(2 * n, dtype=np.uint64)
        data[0::2] = full
        return pa.Array.from_buffers(
            pa.decimal128(meta["precision"], 0), n, [vbuf, pa.py_buffer(data.tobytes())]
        )

    raise BlockCorruptionError(f"unknown column kind {kind!r}")


def row_match_mask(arr: pa.Array, values, lo, hi):
    """Boolean match mask for the filter column, or None if no row matches
    (block skip). Null values never match; NaN never matches a finite
    range (IEEE comparisons). Floating columns compare in float64, as the
    zone stats and the zone classifier do: an IN-list is never cast down
    to a float32 column's precision. Temporal columns compare as epoch
    ticks in their storage unit (timestamp -> unit count, date32 -> days)
    — bounds and IN-list values may be those integers or datetime/date
    objects (converted through pyarrow's scalar semantics)."""
    import pyarrow.compute as pc

    if pa.types.is_floating(arr.type) and arr.type != pa.float64():
        arr = arr.cast(pa.float64())
    if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
        t = arr.type
        itype = pa.int64() if pa.types.is_timestamp(t) else pa.int32()

        def _tick(b):
            if b is None or isinstance(b, int):
                return b
            return pa.scalar(b, type=t).cast(itype).as_py()

        lo, hi = _tick(lo), _tick(hi)
        if values is not None:
            values = [_tick(v) for v in values]
        arr = arr.cast(itype)
        if itype != pa.int64():
            arr = arr.cast(pa.int64())

    if values is not None:
        mask = pc.is_in(arr, value_set=pa.array(values).cast(arr.type)).fill_null(
            False
        )
    else:
        mask = None
        if lo is not None:
            mask = pc.greater_equal(arr, pa.scalar(lo))
        if hi is not None:
            mh = pc.less_equal(arr, pa.scalar(hi))
            mask = mh if mask is None else pc.and_kleene(mask, mh)
        mask = pc.fill_null(mask, False)
    if not pc.any(mask).as_py():
        return None
    return mask


def header_distinct(meta_json: str) -> int | None:
    """How many distinct non-null values a block's codec header proves at
    most, without its payload: ``card`` for ``dict``/``dict_str``,
    ``n_runs`` for ``rle`` (one value per run) and ``n_dict + n_exc`` for
    ``pdict``; None for every other codec."""
    meta = json.loads(meta_json)
    if meta["kind"] == "general":
        meta = json.loads(meta["inner"])
    vm = meta.get("values_meta") or meta.get("str_meta") or {}
    codec = vm.get("codec")
    if codec in ("dict", "dict_str"):
        return vm["card"]
    if codec == "rle":
        return vm["n_runs"]
    if codec == "pdict":
        return vm["n_dict"] + vm["n_exc"]
    return None


def _code_stream(meta: dict, vpayload: bytes):
    """``(dictionary, codes)`` straight off a ``dict``, ``rle``, ``pdict``
    or ``dict_str`` value stream of an int/str block — a pyarrow array of
    candidate key values and one int64 code per NON-NULL row — or None
    for every other codec. The one code-stream reader of the group and
    match kernels. ``rle`` slots are runs, so its dictionary may
    repeat a value; the others hold each value once. A ``pdict`` top code
    is its own slot, and an escape row maps to the uniques of the
    exception stream after the top table."""
    from xml2arrow_spark.codecs.base import INT_DTYPES, split_sections

    if meta["kind"] == "str":
        sm = meta["str_meta"]
        if sm["codec"] != "dict_str":
            return None
        from xml2arrow_spark.codecs.strings import decode_plain_str

        parts = split_sections(sm, vpayload)
        dict_sd = decode_plain_str(sm["dict_meta"], parts["dict"])
        return (
            strdata_to_arrow(dict_sd, large=meta.get("large", False)),
            bitpack.unpack_uint(parts["indices"], sm["n"], sm["iwidth"]),
        )
    vm = meta["values_meta"]
    codec = vm["codec"]
    if codec not in ("dict", "rle") and not (codec == "pdict" and vm["n"]):
        return None
    np_dtype = INT_DTYPES[vm["dtype"]]
    parts = split_sections(vm, vpayload)
    if codec == "dict":
        uniq = _for_unpack(parts["dict"], vm["card"], vm["uref"], vm["uwidth"])
        idx = bitpack.unpack_uint(parts["indices"], vm["n"], vm["iwidth"])
    elif codec == "rle":
        k = vm["n_runs"]
        uniq = _for_unpack(parts["run_values"], k, vm["vref"], vm["vwidth"])
        idx = np.repeat(np.arange(k, dtype=np.int64), _for_unpack(
            parts["run_lengths"], k, vm["lref"], vm["lwidth"]
        ))
    else:
        # ref is added in np_dtype (decode_pdict's arithmetic), never in
        # the narrow unpacked container
        uniq = _for_unpack(
            parts["dict"], vm["n_dict"], vm["ref"], vm["w_exc"], np_dtype
        )
        idx = bitpack.unpack_uint(parts["codes"], vm["n"], vm["w"]).astype(np.int64)
        if vm["n_exc"]:
            exc, inv = np.unique(_for_unpack(
                parts["exceptions"], vm["n_exc"], vm["ref"], vm["w_exc"],
                np_dtype,
            ), return_inverse=True)
            # escape rows hold the exceptions in row order
            idx[idx == (1 << vm["w"]) - 1] = vm["n_dict"] + inv
            uniq = np.concatenate([uniq, exc])
    return pa.array(uniq.astype(np_dtype, copy=False), type=_PA_INT[meta["dtype"]]), idx


def _column_codes(meta_json: str, payload: bytes):
    """One key column's per-row group codes, the per-column step of
    :func:`group_codes`: ``(dictionary, codes, runs)``, where ``codes``
    maps EVERY row to a slot of the pyarrow array ``dictionary`` and
    ``len(dictionary)`` is the NULL slot. ``runs`` is True on ``rle``,
    whose slots are runs, so its dictionary may repeat a value; every
    other dictionary holds each value once.

    The ``dict``/``rle``/``pdict``/``dict_str`` code streams become the
    codes without the key values materializing per row (operating on
    compressed data, Abadi et al., SIGMOD 2006); every other codec
    decodes and dictionary-encodes, which groups identically. Float and
    list kinds are refused: SQL groups NaNs together but IEEE equality
    does not, and a list is not one value."""
    import pyarrow.compute as pc

    meta = json.loads(meta_json)
    _verify_block_header(meta, payload)
    kind = meta["kind"]
    if kind == "general":
        raw = pa.Codec(meta["g"]).decompress(
            payload, decompressed_size=meta["raw_len"], asbytes=True
        )
        return _column_codes(meta["inner"], raw)
    if kind in ("float", "list_float", "list_int"):
        raise EncodeTypeError(
            f"group-by needs a scalar int/string/bool/decimal key, got a "
            f"{kind} column: SQL groups NaNs together but IEEE equality "
            f"does not, so a float group-by would be engine-defined"
        )
    if kind in ("int", "str"):
        vmask, vpayload = _unpack_validity(meta, payload)
        stream = _code_stream(meta, vpayload)
        if stream is not None:
            dictionary, idx = stream
            runs = kind == "int" and meta["values_meta"]["codec"] == "rle"
            if vmask is None:
                return dictionary, idx.astype(np.int64), runs
            codes = np.full(meta["n"], len(dictionary), dtype=np.int64)
            codes[vmask] = idx
            return dictionary, codes, runs
    darr = pc.dictionary_encode(decode_column(meta_json, payload))
    dictionary = darr.dictionary
    codes = darr.indices.fill_null(len(dictionary)).to_numpy(zero_copy_only=False)
    return dictionary, codes.astype(np.int64), False


def _row_mask(mask, n: int) -> np.ndarray:
    """``mask`` as a numpy boolean array over a block of ``n`` rows."""
    mask = np.asarray(mask, dtype=bool)
    if mask.size != n:
        raise BlockCorruptionError(
            f"row mask and key blocks disagree on row count ({mask.size} vs {n})"
        )
    return mask


def group_codes(key_pairs, n=None):
    """Per-row GROUP codes over one or several key columns: ``key_pairs``
    is a list of (meta_json, payload), one per key column, and the result
    is ``(keys, codes)``, where ``keys[j]`` is the key TUPLE of slot ``j``
    (None components for NULL; SQL: every NULL combination is its own
    group) and ``codes`` an int64 numpy array mapping every row to a slot.

    One key keeps its column's slots (:func:`_column_codes`: dictionary
    slots plus the NULL slot, which may be unoccupied; ``rle`` slots are
    runs, so a key may repeat and callers fold by key). Each further key
    combines mixed-radix (``c * (K + 1) + c_next``, the +1 being that
    column's NULL slot) and compacts with one ``np.unique``, so the code
    stays below the block's rows whatever the number of keys, and no
    per-row tuple is ever built. No key at all is SQL's ``GROUP BY ()``:
    every one of the block's ``n`` rows falls in the one group ``()``."""
    if not key_pairs:
        if n is None:
            raise ValueError("a keyless group needs the block's row count")
        return [()], np.zeros(n, dtype=np.int64)
    keys = codes = None
    for meta, data in key_pairs:
        dictionary, c, _runs = _column_codes(meta, data)
        d = dictionary.to_pylist() + [None]
        if codes is None:
            keys, codes = [(v,) for v in d], c
            continue
        if c.size != codes.size:
            raise BlockCorruptionError(
                f"composite key blocks disagree on row count "
                f"({codes.size} vs {c.size})"
            )
        slots, codes = np.unique(codes * len(d) + c, return_inverse=True)
        keys = [keys[s // len(d)] + (d[s % len(d)],) for s in slots.tolist()]
    return keys, codes.astype(np.int64, copy=False)


def value_counts_column(meta_json: str, payload: bytes, mask=None):
    """Exact per-block GROUP BY counts of one encoded column, the
    count-only view of :func:`group_codes`: returns ``(values, counts,
    n_null)``, ``values`` a pyarrow array of the block's non-null values
    with a non-zero count, ``counts`` an int64 numpy array aligned with
    it, and ``n_null`` the null rows. ``mask`` (boolean over the block's
    rows, no nulls) restricts the tally to the selected rows, as SQL's
    WHERE runs before GROUP BY. Unmasked, each value appears once;
    masked, an ``rle`` value may appear once per run, so callers fold
    tallies by value. Float and list columns are refused (see
    :func:`_column_codes`). Exactness is pinned against decode + pyarrow
    value_counts in tests/test_match_decode.py for every codec and null
    mix."""
    dictionary, codes, runs = _column_codes(meta_json, payload)
    if mask is not None:
        codes = codes[_row_mask(mask, codes.size)]
    k = len(dictionary)
    cnt = np.bincount(codes, minlength=k + 1)
    keep = np.flatnonzero(cnt[:k])
    values, counts = dictionary.take(pa.array(keep)), cnt[keep]
    if mask is None and runs:  # one entry per value: fold repeated runs
        uniq, inv = np.unique(values.to_numpy(), return_inverse=True)
        values = pa.array(uniq, type=values.type)
        counts = np.bincount(inv, weights=counts, minlength=uniq.size)
    return values, counts.astype(np.int64, copy=False), int(cnt[k])


_SQ_BOUND = 3037000499  # floor(sqrt(2^63 - 1)): squares provably fit int64


def merge_aggs(tally: dict, key, row: list) -> None:
    """Fold one group's partial ``row`` — ``[cnt, (nn, sum, min, max[,
    sumsq]) per agg]`` — into ``tally[key]``: counts and sums add, the
    extrema of non-empty partials combine. The first row of a key is
    stored as it is, not copied. The one merge of every keyed fold: a
    block's repeated ``rle`` slots, a file's blocks and the files on the
    driver."""
    prev = tally.get(key)
    if prev is None:
        tally[key] = row
        return
    prev[0] += row[0]
    for i in range(1, len(row)):
        nn, sm, mn, mx, *sq = row[i]
        pn, ps, pm, px, *psq = prev[i]
        if mn is not None:
            pm = mn if pm is None else min(pm, mn)
            px = mx if px is None else max(px, mx)
        prev[i] = (pn + nn, ps + sm, pm, px, *(a + b for a, b in zip(psq, sq)))


def fold_group_aggs(key_pairs, aggs, mask=None, with_sq=False):
    """Exact per-block grouped COUNT(*) plus per-agg (n_nonnull, SUM, MIN,
    MAX) for one or several key columns and any number of agg columns in
    ONE pass — the kernel of every keyed fold (``aggs=[]`` is the
    count, ``key_pairs=[]`` the one group ``()`` of count_where, its row
    count taken from ``mask`` or the first agg column). ``key_pairs`` and
    ``aggs`` are lists of (meta_json, payload).
    Returns ``{key tuple: [cnt, (nn, sum, mn, mx) per agg]}``: the key's
    group codes come once off the code streams (:func:`group_codes`, no
    key materialization for dict/rle/pdict/dict_str) and each agg column
    decodes once — "rows, tokens, chars per source" prices one key stream
    plus m agg streams, not m scans.

    ``cnt`` is SQL COUNT(*) of the (masked) group, ``nn`` counts non-NULL
    agg rows, ``sum`` is the exact python-int fold through the hi/lo
    32-bit split (0 when nn is 0 — the caller maps that to SQL's NULL),
    ``mn``/``mx`` are None when nn is 0. ``mask`` (boolean over the
    block's rows) restricts every tally to the selected rows — WHERE
    before GROUP BY, so a group with no selected row is absent. Integer
    agg columns only; float folds are order-dependent and refused.

    ``with_sq=True`` appends an exact sum of SQUARES to every agg tuple
    (-> ``(nn, sum, mn, mx, sumsq)``): each |value| must stay <=
    floor(sqrt(2^63-1)) so the per-element square fits int64 (any larger
    value REFUSES — the ANSI no-silent-wrap contract; a sum of squares
    cannot be range-split the way the linear sum can), then the squares
    fold through the same exact hi/lo split. Sum + sum-of-squares + count
    make variance/stddev exactly derivable by the caller."""
    arrs = [decode_column(agg_meta, agg_data) for agg_meta, agg_data in aggs]
    keys, codes = group_codes(
        key_pairs,
        len(mask) if mask is not None else len(arrs[0]) if arrs else None,
    )
    if mask is not None:
        mask = _row_mask(mask, codes.size)
    slots = len(keys)
    cnt = np.bincount(codes if mask is None else codes[mask], minlength=slots)

    per_agg = []
    for arr in arrs:
        if not pa.types.is_integer(arr.type):
            raise EncodeTypeError(
                f"SUM pushdown needs an integer agg column, got {arr.type}: "
                "float folds are order-dependent and a metadata/kernel sum "
                "never approximates (same rule as count_where)"
            )
        if len(arr) != codes.size:
            raise BlockCorruptionError(
                f"key and agg blocks disagree on row count "
                f"({codes.size} vs {len(arr)})"
            )
        if arr.null_count:
            valid = np.asarray(arr.is_valid())
            if mask is not None:
                valid = valid & mask
            v = arr.fill_null(0).to_numpy()[valid]
            gcodes = codes[valid]
        elif mask is not None:
            v = arr.to_numpy()[mask]
            gcodes = codes[mask]
        else:
            v = arr.to_numpy()
            gcodes = codes
        nn = np.bincount(gcodes, minlength=slots)
        # exact signed/unsigned split: v == (v >> 32) * 2^32 + (v & 0xFFFFFFFF)
        # in two's complement; each half's per-group fold fits int64 for any
        # block size (|hi| <= 2^32, lo < 2^32)
        if v.dtype == np.uint64:
            hi = (v >> np.uint64(32)).astype(np.int64)
            lo = (v & np.uint64(0xFFFFFFFF)).astype(np.int64)
        else:
            v64 = v.astype(np.int64)
            hi = v64 >> 32
            lo = v64 & 0xFFFFFFFF
        # NOTE (r06): a bincount(weights=) variant of these folds measured
        # 4.7x SLOWER at the 8192-row/4-group block geometry — this
        # numpy's ufunc.at has an indexed-loop fast path, and the float
        # weight conversion + argsort for extrema cost more than they
        # save. Keep the ufunc.at folds.
        sums = [np.zeros(slots, dtype=np.int64) for _ in range(2)]
        np.add.at(sums[0], gcodes, hi)
        np.add.at(sums[1], gcodes, lo)
        if with_sq:
            if v.size and (
                int(v.max(initial=0)) > _SQ_BOUND
                or (v.dtype != np.uint64 and int(v.min(initial=0)) < -_SQ_BOUND)
            ):
                raise ArithmeticError(
                    f"sum-of-squares needs |value| <= {_SQ_BOUND} so each "
                    f"square fits int64; refusing rather than wrapping "
                    f"(ANSI contract)"
                )
            sq = (v.astype(np.int64) * v.astype(np.int64))  # provably exact
            sums += [np.zeros(slots, dtype=np.int64) for _ in range(2)]
            np.add.at(sums[2], gcodes, sq >> 32)
            np.add.at(sums[3], gcodes, sq & 0xFFFFFFFF)
        # extrema in the value's native dtype (no overflow possible);
        # sentinel slots are masked off by nn==0 below
        info = np.iinfo(v.dtype)
        mn_acc = np.full(slots, info.max, dtype=v.dtype)
        mx_acc = np.full(slots, info.min, dtype=v.dtype)
        np.minimum.at(mn_acc, gcodes, v)
        np.maximum.at(mx_acc, gcodes, v)
        per_agg.append((nn.tolist(), mn_acc.tolist(), mx_acc.tolist(),
                        [s.tolist() for s in sums]))

    out: dict = {}
    for g in np.flatnonzero(cnt).tolist():
        row = [int(cnt[g])]
        for nn, mn, mx, sums in per_agg:
            n = nn[g]
            t = (n, (sums[0][g] << 32) + sums[1][g],
                 mn[g] if n else None, mx[g] if n else None)
            if with_sq:
                t += ((sums[2][g] << 32) + sums[3][g],)
            row.append(t)
        merge_aggs(out, keys[g], row)
    return out


def match_decode_column(meta_json: str, payload: bytes, values, lo, hi):
    """Fused ``row_match_mask(decode_column(...))`` + selected
    materialization: returns ``None`` when NO row of the block matches the
    predicate (block skip), else ``(mask, selected)`` where ``mask`` is a
    pyarrow boolean array over the block's rows and ``selected`` equals
    ``decode_column(meta_json, payload).filter(mask)`` value-for-value
    (pinned by tests/test_match_decode.py).

    Every code-stream codec (``dict``, ``rle``, ``pdict``, ``dict_str``)
    goes through the one reader :func:`_code_stream`: the predicate is
    evaluated once per dictionary slot or run — through the SAME pyarrow
    kernel the row path uses (:func:`row_match_mask`), so the semantics
    (type casts, null handling, string collation) cannot drift — and
    mapped onto rows through the code stream. A block no slot or no row
    matches returns before a single value materializes, and a matching
    block takes ONLY the selected rows out of the dictionary (operating on
    compressed data, Abadi et al., "Integrating Compression and Execution
    in Column-Oriented Database Systems", SIGMOD 2006). Every other codec
    decodes and masks — identical result, no shortcut.
    """
    out = _match_column_impl(meta_json, payload, values, lo, hi, True)
    return out


def match_mask_column(meta_json: str, payload: bytes, values, lo, hi):
    """Mask-only variant of :func:`match_decode_column` — same codec-aware
    evaluation and identical mask semantics, but never materializes the
    selected rows (the count/aggregate-pushdown shape: the caller needs
    how MANY or WHICH rows match, not their values). Returns ``None`` when
    no row matches, else a pyarrow boolean array over the block's rows."""
    out = _match_column_impl(meta_json, payload, values, lo, hi, False)
    return out if out is None else out[0]


def _match_column_impl(meta_json: str, payload: bytes, values, lo, hi,
                       want_selected: bool):
    meta = json.loads(meta_json)
    _verify_block_header(meta, payload)
    if meta["kind"] == "general":
        raw = pa.Codec(meta["g"]).decompress(
            payload, decompressed_size=meta["raw_len"], asbytes=True
        )
        return _match_column_impl(meta["inner"], raw, values, lo, hi,
                                  want_selected)
    stream = None
    if meta["kind"] in ("int", "str"):
        vmask, vpayload = _unpack_validity(meta, payload)
        stream = _code_stream(meta, vpayload)
    if stream is None:  # no code stream: decode + mask
        arr = decode_column(meta_json, payload)
        mask = row_match_mask(arr, values, lo, hi)
        if mask is None:
            return None
        return mask, (arr.filter(mask) if want_selected else None)

    dictionary, idx = stream
    dmask = row_match_mask(dictionary, values, lo, hi)
    if dmask is None:
        return None
    dense = dmask.to_numpy(zero_copy_only=False)[idx]
    if not dense.any():
        return None
    if vmask is None:
        full = dense
    else:
        full = np.zeros(meta["n"], dtype=bool)
        full[vmask] = dense
    return pa.array(full), (dictionary.take(idx[dense]) if want_selected else None)


def _validity_buffer(mask: np.ndarray | None):
    """Arrow validity bitmap buffer (bit=1 valid) from a boolean mask, or None."""
    if mask is None:
        return None
    return pa.py_buffer(np.packbits(mask, bitorder="little").tobytes())


def _expand_str_nulls(sd: StrData, mask: np.ndarray, large: bool) -> pa.Array:
    n = mask.size
    lengths = np.zeros(n, dtype=np.int64)
    lengths[mask] = sd.lengths()
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    typ = pa.large_utf8() if large else pa.utf8()
    odtype = np.int64 if large else np.int32
    return pa.Array.from_buffers(
        typ,
        n,
        [
            _validity_buffer(mask),
            pa.py_buffer(offsets.astype(odtype).tobytes()),
            pa.py_buffer(sd.data),
        ],
    )
