"""Integer codecs: plain, bitpack, frame-of-reference, RLE, dictionary.

Each kernel is ``encode(values) -> (meta, blob)`` / ``decode(meta, blob) ->
values`` over whole numpy arrays. The frame-of-reference codec is the integer
analog of the reference's float affine transform ``v*scale + offset``
(/root/reference/src/xml_parser.rs:252-291): a per-block constant shift that
narrows the stored domain, applied branch-free per block.

Round-trip is bit-identical by construction; every sub-stream width is
computed from actual min/max, never assumed — the reference's
no-silent-truncation contract (/root/reference/src/xml_parser.rs:209-215).
"""

from __future__ import annotations

import numpy as np

from xml2arrow_spark.codecs import bitpack
from xml2arrow_spark.codecs.base import INT_DTYPES, pack_sections, split_sections
from xml2arrow_spark.errors import BlockCorruptionError, EncodeTypeError, EncodeValueError

__all__ = [
    "encode_plain",
    "decode_plain",
    "encode_bitpack",
    "decode_bitpack",
    "encode_for",
    "decode_for",
    "encode_delta",
    "decode_delta",
    "encode_rle",
    "decode_rle",
    "encode_dict",
    "decode_dict",
    "encode_pdict",
    "decode_pdict",
    "pdict_plan",
    "PDICT_MAX_RANGE",
]


def _dtype_name(values: np.ndarray) -> str:
    name = values.dtype.name
    if name not in INT_DTYPES:
        raise EncodeTypeError(f"unsupported integer dtype: {name}")
    return name


def _for_pack(values: np.ndarray) -> tuple[int, int, bytes]:
    """Shared FOR primitive: (ref, width, payload). Handles signed ranges —
    the ``negative_sentinels`` fixture case — because deltas vs min are
    always non-negative.

    Stays in the narrowest dtype that can hold the deltas: the kernel is
    memory-bandwidth-bound, and upcasting int32 token streams to int64/uint64
    triples the bytes moved per value (measured directly on the 8-vs-32-core
    scaling probe — the bandwidth ceiling is what caps scaling efficiency).
    """
    if values.size == 0:
        return 0, 0, b""
    ref = int(values.min())
    mx = int(values.max())
    vrange = mx - ref
    width = bitpack.bits_needed(vrange)
    if ref >= 0 and bitpack.bits_needed(mx) == width:
        # shifting would not narrow the width (typical for token-id streams,
        # whose min is ~0): skip the whole delta pass — pack_uint reads the
        # source array directly. Decode adds ref=0, a no-op.
        return 0, width, bitpack.pack_uint(values, width)
    if values.dtype.kind == "i" and values.dtype.itemsize <= 4 and vrange < 2**31:
        # int32 arithmetic cannot wrap here: 0 <= v-ref <= vrange < 2^31
        deltas = np.subtract(values, np.int32(ref), dtype=np.int32).view(np.uint32)
    else:
        deltas = (values.astype(np.int64, copy=False) - ref).astype(np.uint64)
    return ref, width, bitpack.pack_uint(deltas, width)


def _for_unpack(
    buf: bytes, n: int, ref: int, width: int, out_dtype=np.int64
) -> np.ndarray:
    """Inverse of :func:`_for_pack`, materializing directly in ``out_dtype``.

    One astype from the unpacked container into ``out_dtype``; the in-place
    ``+= ref`` wraps in two's complement, which is exact whenever the true
    values fit ``out_dtype`` (they came from it)."""
    out_dtype = np.dtype(out_dtype)
    if width == 0:
        return np.full(n, ref, dtype=out_dtype)
    out = bitpack.unpack_uint(buf, n, width).astype(out_dtype)
    if ref:
        out += out_dtype.type(ref)
    return out


# -- plain ------------------------------------------------------------------

def encode_plain(values: np.ndarray) -> tuple[dict, bytes]:
    dt = _dtype_name(values)
    v = np.ascontiguousarray(values)
    sections, blob = pack_sections({"values": v.tobytes()})
    return {"codec": "plain", "dtype": dt, "n": int(v.size), "sections": sections}, blob


def decode_plain(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    return np.frombuffer(parts["values"], dtype=INT_DTYPES[meta["dtype"]], count=meta["n"]).copy()


# -- bitpack (non-negative values, width from max) --------------------------

def encode_bitpack(values: np.ndarray) -> tuple[dict, bytes]:
    dt = _dtype_name(values)
    if values.size and int(values.min()) < 0:
        raise EncodeValueError("bitpack requires non-negative values; use 'for'")
    width = bitpack.bits_needed(int(values.max())) if values.size else 0
    payload = bitpack.pack_uint(values, width)
    sections, blob = pack_sections({"values": payload})
    return {
        "codec": "bitpack",
        "dtype": dt,
        "n": int(values.size),
        "width": width,
        "sections": sections,
    }, blob


def decode_bitpack(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    out = bitpack.unpack_uint(parts["values"], meta["n"], meta["width"])
    return out.astype(INT_DTYPES[meta["dtype"]])


# -- frame of reference -----------------------------------------------------

def encode_for(values: np.ndarray) -> tuple[dict, bytes]:
    dt = _dtype_name(values)
    ref, width, payload = _for_pack(values)
    sections, blob = pack_sections({"values": payload})
    return {
        "codec": "for",
        "dtype": dt,
        "n": int(values.size),
        "ref": ref,
        "width": width,
        "sections": sections,
    }, blob


def decode_for(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    return _for_unpack(
        parts["values"], meta["n"], meta["ref"], meta["width"],
        INT_DTYPES[meta["dtype"]],
    )


# -- delta (+ FOR on the differences) ---------------------------------------

def encode_delta(values: np.ndarray) -> tuple[dict, bytes]:
    """First value + FOR-packed consecutive differences.

    The sorted-stream codec (timestamps, sorted ids, cumulative counters):
    when a stream is sorted or near-sorted, the DELTA range is orders of
    magnitude narrower than the value range, so width = bits(Δmax - Δmin)
    beats FOR's bits(max - min). Correct on ANY input (not just sorted):
    int64 difference wrap-around is exactly inverted by decode's wrapping
    cumulative sum, so there is no sortedness precondition to guard.
    """
    dt = _dtype_name(values)
    n = int(values.size)
    v = values.astype(np.int64, copy=False)
    first = int(v[0]) if n else 0
    deltas = np.diff(v)
    dref, dwidth, dbuf = _for_pack(deltas)
    sections, blob = pack_sections({"deltas": dbuf})
    return {
        "codec": "delta",
        "dtype": dt,
        "n": n,
        "first": first,
        "dref": dref,
        "dwidth": dwidth,
        "sections": sections,
    }, blob


def decode_delta(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    n = meta["n"]
    out_dtype = INT_DTYPES[meta["dtype"]]
    if n == 0:
        return np.zeros(0, dtype=out_dtype)
    out = np.empty(n, dtype=np.int64)
    out[0] = meta["first"]
    if n > 1:
        deltas = _for_unpack(parts["deltas"], n - 1, meta["dref"], meta["dwidth"])
        np.cumsum(deltas, out=out[1:])
        out[1:] += meta["first"]
    return out.astype(out_dtype)


# -- run-length -------------------------------------------------------------

def encode_rle(values: np.ndarray) -> tuple[dict, bytes]:
    """Run values + run lengths, each FOR+bitpacked.

    Run detection is one vectorized diff (no per-value Python), the engine
    analog of the reference's single-pass builder appends
    (/root/reference/src/xml_parser.rs:454-462).
    """
    dt = _dtype_name(values)
    v = values.astype(np.int64, copy=False)
    n = int(v.size)
    if n == 0:
        starts = np.zeros(0, dtype=np.int64)
    else:
        starts = np.concatenate(([0], np.flatnonzero(v[1:] != v[:-1]) + 1))
    run_values = v[starts] if n else v
    run_lengths = np.diff(np.concatenate((starts, [n]))) if n else starts
    vref, vwidth, vbuf = _for_pack(run_values)
    lref, lwidth, lbuf = _for_pack(run_lengths)
    sections, blob = pack_sections({"run_values": vbuf, "run_lengths": lbuf})
    return {
        "codec": "rle",
        "dtype": dt,
        "n": n,
        "n_runs": int(run_values.size),
        "vref": vref,
        "vwidth": vwidth,
        "lref": lref,
        "lwidth": lwidth,
        "sections": sections,
    }, blob


def decode_rle(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    k = meta["n_runs"]
    run_values = _for_unpack(parts["run_values"], k, meta["vref"], meta["vwidth"])
    run_lengths = _for_unpack(parts["run_lengths"], k, meta["lref"], meta["lwidth"])
    out = np.repeat(run_values, run_lengths)
    if out.size != meta["n"]:
        raise BlockCorruptionError(f"RLE decode produced {out.size} values, expected {meta['n']}")
    return out.astype(INT_DTYPES[meta["dtype"]])


# -- dictionary -------------------------------------------------------------

def encode_dict(values: np.ndarray) -> tuple[dict, bytes]:
    """Distinct values (FOR-packed, sorted) + per-row indices (bitpacked)."""
    dt = _dtype_name(values)
    uniq, inverse = np.unique(values.astype(np.int64, copy=False), return_inverse=True)
    uref, uwidth, ubuf = _for_pack(uniq)
    iwidth = bitpack.bits_needed(max(int(uniq.size) - 1, 0))
    ibuf = bitpack.pack_uint(inverse.astype(np.uint64), iwidth)
    sections, blob = pack_sections({"dict": ubuf, "indices": ibuf})
    return {
        "codec": "dict",
        "dtype": dt,
        "n": int(values.size),
        "card": int(uniq.size),
        "uref": uref,
        "uwidth": uwidth,
        "iwidth": iwidth,
        "sections": sections,
    }, blob


def decode_dict(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    uniq = _for_unpack(
        parts["dict"], meta["card"], meta["uref"], meta["uwidth"],
        INT_DTYPES[meta["dtype"]],
    )
    return uniq[bitpack.unpack_uint(parts["indices"], meta["n"], meta["iwidth"])]


# -- patched dictionary (FastPFOR-style dict + exception patching) ----------

# pdict needs a bincount over the shifted domain; cap the table size.
PDICT_MAX_RANGE = 1 << 22


def pdict_plan(counts_desc_cumsum: np.ndarray, n: int, w_exc: int) -> tuple[int, float]:
    """Pick the code width minimizing estimated bytes for a patched dict.

    ``counts_desc_cumsum``: cumulative counts of values sorted by frequency
    descending. Returns (width, est_bytes). Shared by the encoder and the
    codec selector so the estimate IS the real size model.
    """
    best_w, best_size = 0, float("inf")
    for w in range(1, 17):
        top_k = (1 << w) - 1
        covered = int(counts_desc_cumsum[min(top_k, counts_desc_cumsum.size) - 1])
        n_exc = n - covered
        n_dict = min(top_k, counts_desc_cumsum.size)
        size = (n * w + n_exc * w_exc + n_dict * w_exc) / 8
        if size < best_size:
            best_w, best_size = w, size
    return best_w, best_size


def encode_pdict(values: np.ndarray) -> tuple[dict, bytes]:
    """Patched dictionary: the top ``2^w - 1`` most frequent values get w-bit
    codes; everything else emits the escape code plus an entry in a
    bit-packed exception stream (classic lightweight-compression patching,
    cf. FastPFOR). Degenerates to a pure frequency-ordered dict when the
    cardinality fits. Requires value range < 2^22 (bincount domain).

    Beats plain FOR ~1.5x on zipf-distributed token ids — the realistic
    distribution for tokenized text — where a few thousand head tokens carry
    most of the mass but one tail value per block forces FOR's width up.
    """
    dt = _dtype_name(values)
    n = int(values.size)
    if n == 0:
        sections, blob = pack_sections({"codes": b"", "dict": b"", "exceptions": b""})
        return {
            "codec": "pdict", "dtype": dt, "n": 0, "ref": 0, "w": 0,
            "w_exc": 0, "n_dict": 0, "n_exc": 0, "sections": sections,
        }, blob
    ref = int(values.min())
    vrange = int(values.max()) - ref  # python int: exact for any dtype
    w_exc = bitpack.bits_needed(vrange)
    if vrange < PDICT_MAX_RANGE:
        # narrow domain: one bincount pass, O(1) mapping table. values - ref
        # lies in [0, 2^22), so wrapping int32 arithmetic is exact (and an
        # int32 stream with ref 0, token ids, is used as it is)
        shifted = values.astype(np.int32, copy=False)
        if ref:
            shifted = shifted - np.int64(ref).astype(np.int32)
        counts = np.bincount(shifted, minlength=vrange + 1)
        # frequency-descending order; stable sort for deterministic ties
        order = np.argsort(-counts, kind="stable")
        order = order[counts[order] > 0]
        cum = np.cumsum(counts[order])
        w, _ = pdict_plan(cum, n, w_exc)
        escape = np.uint16((1 << w) - 1)
        top = order[: int(escape)].astype(np.int32)
        mapping = np.full(vrange + 1, escape, dtype=np.uint16)
        mapping[top] = np.arange(top.size, dtype=np.uint16)
        codes = np.take(mapping, shifted)
        top_shifted = top
        # compress, not a boolean index: measured 1.5x on token streams
        exceptions = np.compress(codes == escape, shifted)
    else:
        # wide domain: sort-based counting. int64 subtraction may wrap for
        # full-range int64 inputs; two's-complement wrap viewed as uint64 IS
        # the correct non-negative delta (mod-2^64 arithmetic), and decode's
        # wrapping add inverts it exactly.
        uniq, inverse, counts = np.unique(
            values, return_inverse=True, return_counts=True
        )
        order = np.argsort(-counts, kind="stable")
        cum = np.cumsum(counts[order])
        w, _ = pdict_plan(cum, n, w_exc)
        k = (1 << w) - 1
        escape = np.uint16(k)
        rank = np.empty(uniq.size, dtype=np.int64)
        rank[order] = np.arange(uniq.size)
        ranks = rank[inverse]
        codes = np.where(ranks < k, ranks, k).astype(np.uint16)
        top_shifted = (uniq[order[:k]].astype(np.int64) - ref).view(np.uint64)
        exceptions = (values[codes == escape].astype(np.int64) - ref).view(
            np.uint64
        )
    sections, blob = pack_sections(
        {
            "codes": bitpack.pack_uint(codes, w),
            "dict": bitpack.pack_uint(top_shifted, w_exc),
            "exceptions": bitpack.pack_uint(exceptions, w_exc),
        }
    )
    return {
        "codec": "pdict",
        "dtype": dt,
        "n": n,
        "ref": ref,
        "w": w,
        "w_exc": w_exc,
        "n_dict": int(top_shifted.size),
        "n_exc": int(exceptions.size),
        "sections": sections,
    }, blob


def pfor_plan(deltas_u64: np.ndarray, n: int, w_exc: int) -> tuple[int, float]:
    """Pick the packed width minimizing estimated bytes for patched FOR.

    ``size(w) = n*w/8 + n_exc(w)*(w_pos + w_exc)/8`` where
    ``n_exc(w) = count(delta >= 2^w)`` and ``w_pos = bits_needed(n-1)``.
    The estimate is the encoder's exact layout (the :func:`pdict_plan`
    discipline: the plan IS the size model, shared with the selector).
    The width histogram comes from one frexp pass — O(n), no sort (a
    whole-block sort would cost more than the encode on flattened token
    lists). frexp of the float64 conversion can overstate a bit length by
    1 for deltas >= 2^53 landing on a rounding boundary; that only nudges
    the SIZE model — the encoder's exception mask is computed exactly
    from the chosen width, so correctness never depends on it.
    """
    if n == 0 or w_exc == 0:
        return 0, 0.0
    w_pos = bitpack.bits_needed(max(n - 1, 0))
    nz = deltas_u64[deltas_u64 != 0]
    # bit length of v = frexp exponent of its float64 image (exact < 2^53)
    e = np.frexp(nz.astype(np.float64))[1]
    counts = np.bincount(e, minlength=w_exc + 2)
    n_le = int(n - nz.size) + np.cumsum(counts)  # n_le[w] ~ count(bitlen <= w)
    best_w, best_size = w_exc, n * w_exc / 8
    for w in range(w_exc):
        n_exc = n - int(n_le[w])
        size = (n * w + n_exc * (w_pos + w_exc)) / 8
        if size < best_size:
            best_w, best_size = w, size
    return best_w, best_size


def encode_pfor(values: np.ndarray) -> tuple[dict, bytes]:
    """Patched frame-of-reference (PFOR — Zukowski et al., ICDE 2006):
    deltas vs the block minimum are packed at a width w chosen so the few
    values exceeding ``2^w`` move to a patch list of (bit-packed position,
    full-width delta) pairs instead of forcing every value wide.

    Complements :func:`encode_pdict` on the OTHER skew axis: pdict patches
    frequency outliers (zipf token streams), pfor patches VALUE outliers —
    a uniform-dense column with a rare huge sentinel (timestamps with a
    far-future placeholder, sizes with an overflow marker) measures ~3x
    smaller than FOR and ~1.35x smaller than pdict, without pdict's
    dictionary table. Degenerates to exactly FOR's layout (zero
    exceptions) when no width pays."""
    dt = _dtype_name(values)
    n = int(values.size)
    if n == 0:
        sections, blob = pack_sections(
            {"values": b"", "exc_pos": b"", "exc_val": b""}
        )
        return {
            "codec": "pfor", "dtype": dt, "n": 0, "ref": 0, "w": 0,
            "w_exc": 0, "n_exc": 0, "sections": sections,
        }, blob
    ref = int(values.min())
    vrange = int(values.max()) - ref
    w_exc = bitpack.bits_needed(vrange)
    # two's-complement wrap viewed as uint64 IS the correct non-negative
    # delta (mod-2^64 arithmetic, same contract as pdict's wide path)
    deltas = (values.astype(np.int64, copy=False) - ref).view(np.uint64)
    w, _ = pfor_plan(deltas, n, w_exc)
    if w >= w_exc:
        packed = bitpack.pack_uint(deltas, w_exc)
        sections, blob = pack_sections(
            {"values": packed, "exc_pos": b"", "exc_val": b""}
        )
        return {
            "codec": "pfor", "dtype": dt, "n": n, "ref": ref, "w": w_exc,
            "w_exc": w_exc, "n_exc": 0, "sections": sections,
        }, blob
    exc_mask = (deltas >> np.uint64(w) != 0) if w else (deltas != 0)
    pos = np.flatnonzero(exc_mask)
    w_pos = bitpack.bits_needed(max(n - 1, 0))
    base = np.where(exc_mask, np.uint64(0), deltas)
    sections, blob = pack_sections(
        {
            "values": bitpack.pack_uint(base, w),
            "exc_pos": bitpack.pack_uint(pos.astype(np.uint64), w_pos),
            "exc_val": bitpack.pack_uint(deltas[exc_mask], w_exc),
        }
    )
    return {
        "codec": "pfor", "dtype": dt, "n": n, "ref": ref, "w": w,
        "w_exc": w_exc, "n_exc": int(pos.size), "sections": sections,
    }, blob


def decode_pfor(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    out_dtype = np.dtype(INT_DTYPES[meta["dtype"]])
    n = meta["n"]
    if n == 0:
        return np.zeros(0, dtype=out_dtype)
    # patch and add ref in the output dtype: its wrapping arithmetic inverts
    # encode's mod-2^64 subtract exactly (see _for_unpack)
    out = bitpack.unpack_uint(parts["values"], n, meta["w"]).astype(out_dtype)
    if meta["n_exc"]:
        w_pos = bitpack.bits_needed(max(n - 1, 0))
        pos = bitpack.unpack_uint(parts["exc_pos"], meta["n_exc"], w_pos)
        out[pos] = bitpack.unpack_uint(
            parts["exc_val"], meta["n_exc"], meta["w_exc"]
        ).astype(out_dtype)
    if meta["ref"]:
        out += out_dtype.type(meta["ref"])
    return out


def decode_pdict(meta: dict, blob: bytes) -> np.ndarray:
    parts = split_sections(meta, blob)
    n, w, w_exc = meta["n"], meta["w"], meta["w_exc"]
    out_dtype = INT_DTYPES[meta["dtype"]]
    if n == 0:
        return np.zeros(0, dtype=out_dtype)
    codes = bitpack.unpack_uint(parts["codes"], n, w)
    escape = (1 << w) - 1
    # lookup table in the output dtype, ref already added; the escape slot
    # is patched afterwards
    lut = np.zeros(escape + 1, dtype=out_dtype)
    lut[: meta["n_dict"]] = _for_unpack(
        parts["dict"], meta["n_dict"], meta["ref"], w_exc, out_dtype
    )
    out = np.take(lut, codes)
    if meta["n_exc"]:
        # put at the escape positions: measured 1.4x a boolean-mask assignment
        np.put(out, np.flatnonzero(codes == escape), _for_unpack(
            parts["exceptions"], meta["n_exc"], meta["ref"], w_exc, out_dtype
        ))
    return out
