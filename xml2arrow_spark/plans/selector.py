"""Codec auto-selection from data statistics.

Where the reference *declares* per-field treatment in YAML
(/root/reference/src/config.rs:360-382), this engine *selects* it from
sampled statistics — cardinality, run count, value range, chunk-frequency —
using closed-form size estimates per codec and picking the minimum. The same
chooser runs in two places:

- **driver-side** on a bounded sample, to resolve the manifest once per job
  (compile-once amortization, /root/reference/src/xml_parser.rs:710-741);
  scalar columns from a row-bounded sample, list columns from at most
  :data:`SAMPLE_VALUES` flattened values, both through the one per-column
  dispatch :func:`choose_column_codec`;
- **block-side** on the actual block when the resolved codec is still
  ``auto`` (per-block adaptivity beats a global guess on skewed data).

Estimates are exact for the block-side path (real card/runs/range of the
block), so the chosen codec is the true per-block minimum among the
implemented codecs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from xml2arrow_spark.codecs.base import (
    StrData,
    decimal_low64,
    strdata_from_arrow,
    strdata_to_arrow,
)
from xml2arrow_spark.codecs.bitpack import bits_needed
from xml2arrow_spark.codecs.integers import PDICT_MAX_RANGE, pdict_plan, pfor_plan

__all__ = [
    "SAMPLE_VALUES",
    "choose_column_codec",
    "choose_int_codec",
    "choose_str_codec",
    "estimate_int_sizes",
    "int_stats",
    "resolve_manifest",
    "resolve_sample",
]


_CARD_PROBE = 65536

# The driver-side sample bound for LIST columns, in flattened values.
# Scalar columns keep the resolvers' row-bounded sample (``sample_rows``),
# but 8,192 rows of an F1-shaped token list (~245 tokens a row) hold ~2 M
# values: ~130 ms per resolve of a 20k-row token batch on a 4-core Xeon,
# ~28 ms at this bound. The picks at 2^18 values equal the full-sample
# picks (tests/test_selector.py pins every F1 variant).
SAMPLE_VALUES = 1 << 18


def int_stats(values: np.ndarray) -> dict:
    """One pass of vectorized probes: n, card (estimated), n_runs, min, max.

    min/max/runs are exact (cheap linear scans). Cardinality uses a bounded
    ``np.unique`` probe — sorting a whole 16M-value block just to choose a
    codec would cost more than the encode itself. Saturation logic mirrors
    :func:`choose_str_codec`: a probe whose distinct count is far below the
    probe size has (nearly) exhausted the value set, so we don't extrapolate.
    """
    n = int(values.size)
    if n == 0:
        return {"n": 0, "card": 0, "n_runs": 0, "min": 0, "max": 0,
                "d_min": 0, "d_max": 0}
    v = values.astype(np.int64, copy=False)
    d = v[1:] - v[:-1]  # one diff pass feeds both runs and delta stats
    n_runs = int((d != 0).sum()) + 1
    d_min = int(d.min()) if d.size else 0
    d_max = int(d.max()) if d.size else 0
    take = min(n, _CARD_PROBE)
    card_probe = int(np.unique(v[:take]).size)
    if take == n or card_probe <= take * 0.1:
        card = card_probe
    else:
        card = min(n, int(card_probe * n / take))
    return {"n": n, "card": card, "n_runs": n_runs, "min": int(v.min()),
            "max": int(v.max()), "d_min": d_min, "d_max": d_max}


def estimate_int_sizes(stats: dict, itemsize: int = 4) -> dict[str, float]:
    """Closed-form encoded-size estimates (bytes) per integer codec."""
    n, card, n_runs = stats["n"], stats["card"], stats["n_runs"]
    if n == 0:
        return {"plain": 0.0}
    vrange = stats["max"] - stats["min"]
    w_for = bits_needed(vrange)
    w_idx = bits_needed(max(card - 1, 0))
    # run streams: values FOR-packed + lengths FOR-packed (length range <= n)
    w_runlen = bits_needed(n)
    est = {
        "plain": float(n * itemsize),
        "for": n * w_for / 8,
        "rle": n_runs * (w_for + w_runlen) / 8,
        "dict": n * w_idx / 8 + card * w_for / 8,
    }
    if stats["min"] >= 0:
        est["bitpack"] = n * bits_needed(stats["max"]) / 8
    if n > 1:
        # sorted/near-sorted streams: delta range << value range
        est["delta"] = n * bits_needed(stats["d_max"] - stats["d_min"]) / 8
    return est


def choose_int_codec(values: np.ndarray) -> str:
    """Pick the minimum-estimated-size codec for an integer stream.

    The pdict (patched dictionary) estimate needs the frequency curve; it is
    computed exactly via one bincount pass whenever the value range fits the
    table (< 2^22) — on zipf-like token streams pdict beats FOR ~1.5x, so
    skipping it would forfeit the realistic win.
    """
    # one int64 view and one min-shift feed the stats, pfor and pdict
    # passes (a copy only for narrower dtypes)
    v = values.astype(np.int64, copy=False)
    stats = int_stats(v)
    est = estimate_int_sizes(stats, itemsize=values.dtype.itemsize)
    n = stats["n"]
    vrange = stats["max"] - stats["min"]
    if n and vrange > 0:
        # patched FOR: the plan is the encoder's exact size model (value-
        # outlier skew — rare huge sentinels — where plain FOR forfeits
        # the whole block's width); one O(n) frexp pass, rate-based and
        # therefore scale-invariant
        shifted = v - np.int64(stats["min"])
        _, est["pfor"] = pfor_plan(shifted.view(np.uint64), n, bits_needed(vrange))
        if vrange < PDICT_MAX_RANGE:
            counts = np.bincount(shifted, minlength=vrange + 1)
            nz = int((counts > 0).sum())
            cum = np.cumsum(np.sort(counts)[::-1])[: max(nz, 1)]
            _, size = pdict_plan(cum, n, bits_needed(vrange))
            est["pdict"] = size
    return min(est, key=est.get)


def choose_str_codec(sd: StrData, target_rows: int | None = None) -> str:
    """Pick plain_str / dict_str / fsst for a string stream.

    dict pays off at low cardinality; fsst at shared substructure
    (common prefixes); plain otherwise. The selector must prefer dict over
    fsst for low-card columns like ``source`` (FIXTURES.md F1) — dict's
    estimate is strictly smaller there because indices beat per-chunk codes.

    ``target_rows`` (r05, VERDICT r04 #8 — scale-invariant selection):
    when the stream is a bounded SAMPLE standing in for the real encode
    unit, cost the codecs for a canonical block of ``target_rows`` values
    extrapolated from the sample's per-value stats, not for the sample
    itself. Without this the decision is a sample-SIZE artifact: fsst's
    fixed symbol-table cost amortized over a 500-row sample reads as
    prohibitive but over an 8192-row block as negligible, so the same
    column flipped plain_str->fsst between sf0.01 and sf0.1 purely because
    the smaller corpus had fewer rows to sample (the r04 gates needed an
    explicit manifest override to stay deterministic). Per-value ratios
    (avg_len, fsst coverage fraction, cardinality ratio) are
    distribution properties — scale-invariant — so costing a fixed-size
    block makes the choice stable across corpus scale. Per-BLOCK callers
    (operators/blocks.py) pass None: an actual block is costed as-is.
    """
    n = sd.n
    if n == 0 or len(sd.data) == 0:
        return "plain_str"
    from xml2arrow_spark.codecs.strings import seq_str_probe

    if seq_str_probe(sd) is not None:
        # '<common prefix><fixed digits>' ids are an integer in disguise —
        # seq_str stores the FOR-packed integers (~2 bytes/id vs ~6 for the
        # symbol-table codec on distinct sequential ids). Probe is exact on
        # the block, so eligibility cannot misfire at encode time.
        return "seq_str"
    lengths = sd.lengths()
    data_bytes = len(sd.data)
    # cardinality probe on a bounded sample of rows
    take = min(n, 8192)
    arr = strdata_to_arrow(StrData(sd.offsets[: take + 1], sd.data[: int(sd.offsets[take])]), large=True)
    card = len(arr.dictionary_encode().dictionary)
    if take == n or card <= take * 0.1:
        # low-card samples saturate: the distinct set is (nearly) complete,
        # linear extrapolation would wrongly inflate the dict estimate
        card_scaled = card
    else:
        card_scaled = min(n, int(card * n / take))
    avg_len = data_bytes / n
    # canonical-block extrapolation (see docstring): only ever scales UP
    # from a sample to the encode-block size, never down
    if target_rows is not None and target_rows > n:
        eff_n = int(target_rows)
        eff_bytes = avg_len * eff_n
        if card > take * 0.5:
            # unique-ish ids stay unique-ish: cardinality tracks row count
            card_eff = eff_n
        elif card <= take * 0.1:
            card_eff = card_scaled  # saturated fixed vocabulary
        else:
            card_eff = min(eff_n, int(card_scaled * eff_n / n))
    else:
        eff_n, eff_bytes, card_eff = n, float(data_bytes), card_scaled
    est_plain = float(eff_bytes)
    est_dict = eff_n * bits_needed(max(card_eff - 1, 0)) / 8 + card_eff * avg_len
    # fsst: roughly 1 code byte per stride bytes on repetitive data; probe via
    # trainer on a sample (cheap, bounded)
    from xml2arrow_spark.codecs.strings import _TRAIN_SAMPLE_BYTES, _chunk_keys

    sample = np.frombuffer(sd.data[:_TRAIN_SAMPLE_BYTES], dtype=np.uint8)
    est_fsst = est_plain
    for stride in (2, 4, 8):
        if sample.size < stride:
            continue
        keys = _chunk_keys(sample[: sample.size - sample.size % stride], stride)
        if keys.size == 0:
            continue
        uniq, counts = np.unique(keys, return_counts=True)
        order = np.argsort(counts)[::-1]
        covered = int(counts[order[:255]].sum())
        frac = (keys.size + (keys.size - covered) * stride) / (keys.size * stride)
        est_fsst = min(est_fsst, frac * eff_bytes + min(uniq.size, 255) * 8)
    # fsst's model above omits its escape-position and code/plain split
    # streams (~15% measured on low-card columns), while dict's model tracks
    # its actual output within <1%. Calibrate so a near-tie goes to dict —
    # picking fsst on a tie cost 18% real bytes on the documents `source`
    # column.
    est = {"plain_str": est_plain, "dict_str": est_dict, "fsst": est_fsst * 1.15}
    best = min(est, key=est.get)
    # hysteresis — SAMPLE-based selection only (target_rows set): stay on
    # plain_str unless the winner's estimate beats it by >5%, so
    # near-boundary columns don't flip codec with tiny shifts in the
    # sampled distribution. Per-block callers (target_rows None) cost the
    # exact block they hold — no sampling noise to guard against, so they
    # keep the raw minimum and never forfeit real compression
    if (
        target_rows is not None
        and best != "plain_str"
        and est[best] > 0.95 * est_plain
    ):
        return "plain_str"
    return best


def choose_column_codec(arr, general: str, block_rows: int) -> str | None:
    """The ``auto`` pick for one sampled column, from its Arrow array: the
    one type dispatch both driver-side resolvers share.

    The chooser sees the values the block encoder (operators/blocks.py)
    codes: non-null values, temporal columns as their storage epoch counts,
    scale-0 decimals as the bit-cast low 64 bits, list columns as their
    flattened elements, cut to the first :data:`SAMPLE_VALUES`.
    ``general`` is the policy's cascade coder ('' for none); strings are
    costed for a canonical block of ``block_rows``. None leaves the column
    ``auto``: an empty sample, or a decimal sample outside [0, 2^64)."""
    from xml2arrow_spark.codecs.floats import choose_float_codec

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if len(arr) == 0:
        return None
    t = arr.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        arr = arr.flatten()[:SAMPLE_VALUES]
        t = arr.type
    else:
        arr = arr.drop_null()
    if pa.types.is_floating(t):
        return choose_float_codec(np.asarray(arr), cascade=general or None)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return choose_str_codec(strdata_from_arrow(arr), target_rows=block_rows)
    if pa.types.is_boolean(t):
        return "bool_pack"
    if pa.types.is_decimal(t):
        values = decimal_low64(arr)
        return None if values is None else choose_int_codec(values)
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        arr = arr.cast(pa.int64() if pa.types.is_timestamp(t) else pa.int32())
    return choose_int_codec(np.asarray(arr))


def resolve_sample(manifest, sample: dict):
    """A new :class:`CodecManifest` with every ``auto`` policy whose column
    ``sample`` holds (name -> Arrow array) resolved by
    :func:`choose_column_codec`. A "+zstd"/"+lz4" cascade suffix rides
    along unchanged; only the lightweight base codec is resolved."""
    from dataclasses import replace

    from xml2arrow_spark.manifest import CodecManifest

    resolved = {}
    for name, policy in manifest.columns.items():
        base, _, general = policy.codec.partition("+")
        codec = None
        if base == "auto" and name in sample:
            codec = choose_column_codec(sample[name], general, manifest.block_rows)
        resolved[name] = policy if codec is None else replace(
            policy, codec=codec + (f"+{general}" if general else "")
        )
    return CodecManifest(
        columns=resolved, block_rows=manifest.block_rows,
        version=manifest.version, zone_maps=manifest.zone_maps,
    )


def auto_columns(manifest, names) -> list[str]:
    """The columns of ``names`` whose manifest policy is ``auto`` (with or
    without a cascade suffix): the only ones a resolver samples."""
    return [
        n for n in names
        if n in manifest.columns
        and manifest.columns[n].codec.partition("+")[0] == "auto"
    ]


def resolve_manifest(df, manifest, sample_rows: int = 8192):
    """Resolve every ``auto`` policy against a driver-collected sample.

    Returns a new :class:`CodecManifest` with concrete codecs (``manifest``
    itself when nothing is ``auto`` or the sample is empty). No Spark job
    when no column is ``auto``, no full scan otherwise. The first bounded
    ``limit(sample_rows)`` collect holds the ``auto`` scalar columns plus
    each ``auto`` list column's ``size``; scalars are chosen from those
    rows. The list columns come from a second ``limit(k)`` collect, with k
    the fewest leading rows holding :data:`SAMPLE_VALUES` values of every
    list column (the first collect's sizes), so a list's chooser sees the
    same leading values as in
    :func:`~xml2arrow_spark.operators.encode.resolve_manifest_parquet` without
    collecting whole rows it would cut (:func:`choose_column_codec`).
    Columns the sample can't discriminate stay ``auto`` and are chosen per
    block.

    The collects go through ``toPandas()`` deliberately: PySpark 4.1's
    ``toArrow()`` executes the plan via the Arrow-batch RDD, which does NOT
    take the CollectLimit fast path — on a many-file table it scans every
    split (measured 15-20x slower than ``toPandas()`` for an 8k-row limit).
    The pandas sample is turned back into Arrow with the schema's types
    (never inferred), so both resolvers share one chooser.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = auto_columns(manifest, manifest.encodable_columns(df.schema))
    if not cols:
        return manifest
    types = to_arrow_schema(df.select(*cols).schema)
    lists = [
        c for c in cols
        if pa.types.is_list(types.field(c).type)
        or pa.types.is_large_list(types.field(c).type)
    ]
    scalars = [c for c in cols if c not in lists]
    head = df.select(*scalars, *[F.size(c) for c in lists])
    pdf = head.limit(sample_rows).toPandas()
    if len(pdf) == 0:
        return manifest
    sample = {
        name: pa.Array.from_pandas(pdf[name], type=types.field(name).type)
        for name in scalars
    }
    if lists:
        # size() of a NULL list is -1 (or NULL): it holds no values
        sizes = np.nan_to_num(pdf.iloc[:, len(scalars):].to_numpy(np.float64))
        k = int((sizes.clip(0).cumsum(axis=0) < SAMPLE_VALUES).sum(axis=0).max()) + 1
        ldf = df.select(*lists).limit(min(k, len(pdf))).toPandas()
        sample.update({
            name: pa.Array.from_pandas(ldf[name], type=types.field(name).type)
            for name in lists
        })
    return resolve_sample(manifest, sample)
