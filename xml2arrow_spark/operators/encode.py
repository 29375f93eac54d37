"""Table encode: DataFrame -> blocks DataFrame via ``mapInArrow``.

Execution model (Spark-first, no per-row Python):

- The input stays a DataFrame; Catalyst prunes to exactly the manifest's
  columns before the exchange (column pruning = the reference's path-trie
  skip, /root/reference/src/path_registry.rs:393-427, for free).
- Each task re-chunks its Arrow stream into ``block_rows`` blocks and runs
  the numpy kernels — the per-partition analog of the reference's
  per-document fresh builders (/root/reference/src/xml_parser.rs:560-575).
- Output is ONE ROW PER BLOCK with an ``array<struct>`` of per-column
  encodings, so decode needs **no shuffle and no join** — a straight
  ``mapInArrow`` inverse. At 100 TB this is the difference between a map-only
  second pass and a petascale shuffle.
"""

from __future__ import annotations

import bisect
import json
from typing import Iterator, NamedTuple

import pyarrow as pa

from xml2arrow_spark.manifest import CodecManifest
# row-level predicate kernels (row_match_mask, match_decode_column) live
# next to the codec internals so the codec-aware fast paths and the row
# path share one implementation; re-exported here because decode callers
# (dataset.py, tests) import them from this module
from xml2arrow_spark.operators.blocks import (
    decode_column,
    encode_column,
    match_decode_column,
    match_mask_column,
    row_match_mask,
)

__all__ = [
    "encode_table",
    "encode_parquet",
    "encode_parquet_tasks",
    "decode_table",
    "prune_blocks",
    "prune_blocks_any",
    "prune_blocks_dnf",
    "normalize_zone_filters",
    "split_schema_ddl",
    "BlockStats",
    "decode_blocks",
    "encode_blocks",
    "payload_columns",
    "zone_col",
]

# The blocks format, defined once. A block row is its head fields, then one
# entry per encoded column. The nested layout stores the entries as one
# ``cols`` array<struct> column; the wide layout stores every entry field
# but ``_NESTED_ONLY`` as a top-level ``c_<col>__<field>`` column, which a
# parquet scan can prune per column. Both are derived by
# :func:`_blocks_schema`.
_HEAD_FIELDS = (
    ("part_id", pa.int32()),
    ("unit_id", pa.int32()),
    ("block_id", pa.int64()),
    ("n_rows", pa.int32()),
    ("n_values", pa.int64()),
    ("in_bytes", pa.int64()),
    ("out_bytes", pa.int64()),
)
_ENTRY_FIELDS = (
    ("name", pa.string()),
    ("codec", pa.string()),
    ("meta", pa.string()),
    ("data", pa.binary()),
    ("in_bytes", pa.int64()),
    ("out_bytes", pa.int64()),
    # zone map: per-block min/max of the column's values (int64 for
    # integer/list columns, double for floats, truncation-safe bounds for
    # strings; None when unknown/NaN/empty -> never pruned)
    ("vmin_i", pa.int64()),
    ("vmax_i", pa.int64()),
    ("vmin_d", pa.float64()),
    ("vmax_d", pa.float64()),
    ("vmin_s", pa.string()),
    ("vmax_s", pa.string()),
    # aggregate stats (r05): row-level null count and provably-exact int64
    # value sum (None = unavailable)
    ("n_null", pa.int64()),
    ("zsum_i", pa.int64()),
)
_NESTED_ONLY = ("name", "in_bytes", "out_bytes")
_WIDE_FIELDS = tuple(f for f, _ in _ENTRY_FIELDS if f not in _NESTED_ONLY)
# the per-block stats (name -> Arrow type), the ones :func:`_zone_stats` states
_STAT_FIELDS = dict(_ENTRY_FIELDS[6:])


def _blocks_schema(cols: list[str], layout: str) -> pa.Schema:
    """The Arrow schema of a blocks table holding ``cols`` in ``layout``
    — the only place an unknown layout is rejected."""
    head = [pa.field(n, t) for n, t in _HEAD_FIELDS]
    if layout == "nested":
        entry = pa.struct([pa.field(n, t) for n, t in _ENTRY_FIELDS])
        return pa.schema(head + [pa.field("cols", pa.list_(entry))])
    if layout == "wide":
        return pa.schema(head + [
            pa.field(f"c_{c}__{f}", t)
            for c in cols for f, t in _ENTRY_FIELDS if f not in _NESTED_ONLY
        ])
    raise ValueError(f"unknown blocks layout {layout!r}")


def _blockify(batches: Iterator[pa.RecordBatch], block_rows: int) -> Iterator[pa.Table]:
    """Re-chunk an Arrow batch stream into ~block_rows tables (zero-copy slices)."""
    buf: list[pa.RecordBatch] = []
    buffered = 0
    for b in batches:
        buf.append(b)
        buffered += b.num_rows
        while buffered >= block_rows:
            tbl = pa.Table.from_batches(buf)
            yield tbl.slice(0, block_rows)
            rest = tbl.slice(block_rows)
            buf = rest.to_batches()
            buffered = rest.num_rows
    if buffered:
        yield pa.Table.from_batches(buf)


def _blockify_grouped(
    batches: Iterator[pa.RecordBatch], block_rows: int, unit_col: str
) -> Iterator[tuple[int, pa.Table]]:
    """Like :func:`_blockify` but never lets a block span two ``unit_col``
    values. Requires rows sorted by ``unit_col`` within the task (the caller
    does ``sortWithinPartitions``). Unit-run splitting is one vectorized diff
    per batch — no per-row Python."""
    import numpy as np

    def flush(unit, buf):
        tbl = pa.Table.from_batches(buf)
        for off in range(0, max(tbl.num_rows, 1), block_rows):
            sl = tbl.slice(off, block_rows)
            if sl.num_rows:
                yield unit, sl

    cur_unit = None
    buf: list[pa.RecordBatch] = []
    for b in batches:
        units = b.column(b.schema.get_field_index(unit_col)).to_numpy(zero_copy_only=False)
        if units.size == 0:
            continue
        starts = np.concatenate(([0], np.flatnonzero(units[1:] != units[:-1]) + 1, [units.size]))
        for i in range(len(starts) - 1):
            lo, hi = int(starts[i]), int(starts[i + 1])
            unit = int(units[lo])
            if unit != cur_unit and buf:
                yield from flush(cur_unit, buf)
                buf = []
            cur_unit = unit
            buf.append(b.slice(lo, hi - lo))
    if buf:
        yield from flush(cur_unit, buf)


_ZONE_STR_MAX = 64  # stored string-bound length cap (parquet-statistics style)


def _zone_str_bounds(lo: str, hi: str):
    """Truncation-safe string zone bounds: any PREFIX of the min is still a
    valid lower bound; for the max, the truncated prefix must be bumped
    above the true value (increment the last incrementable codepoint,
    skipping the surrogate gap) or withheld — the same rule parquet
    applies to its column statistics."""
    lo_t = lo[:_ZONE_STR_MAX]
    if len(hi) <= _ZONE_STR_MAX:
        return lo_t, hi
    p = hi[:_ZONE_STR_MAX]
    for i in reversed(range(len(p))):
        c = ord(p[i])
        if c < 0x10FFFF:
            nxt = 0xE000 if 0xD7FF <= c < 0xE000 else c + 1
            return lo_t, p[:i] + chr(nxt)
    return lo_t, None  # un-incrementable prefix: no safe upper bound


def _zone_stats(arr: pa.Array):
    """Per-block column statistics: zone-map (min, max) for pruning — int64
    pair for integer/list-of-int columns, double pair for floats, string
    pair (truncation-safe bounds) for strings — plus two AGGREGATE stats
    (r05 metadata-only aggregation): ``n_null`` (row-level null count, any
    type) and ``zsum_i`` (exact int64 sum over the block's non-null values,
    flattened elements for list-of-int columns). Bound-None always means
    "never prune this block"; a None ``zsum_i`` means "sum not available
    from metadata" (non-integer column, or a sum not PROVABLY exact in
    int64 — the bound below). Stats can only skip work, never change
    results. Returns an 8-tuple
    (vmin_i, vmax_i, vmin_d, vmax_d, vmin_s, vmax_s, n_null, zsum_i)."""
    import math

    import pyarrow.compute as pc

    from xml2arrow_spark.codecs.bitpack import bits_needed

    t = arr.type
    target = arr.flatten() if (pa.types.is_list(t) or pa.types.is_large_list(t)) else arr
    if pa.types.is_timestamp(target.type) or pa.types.is_date(target.type):
        # temporal columns take INTEGER zone stats in their storage unit
        # (epoch ticks / days — matching the block encoding), so
        # time-range predicates prune like any int range; the integer
        # branch's provable-exactness bound handles zsum_i (epoch-micros
        # magnitudes ~2^51 make it None for all but tiny blocks)
        target = target.cast(pa.int32() if pa.types.is_date(target.type)
                             else pa.int64())
        if target.type != pa.int64():
            target = target.cast(pa.int64())
    n_null = int(arr.null_count)
    none6 = (None, None, None, None, None, None)
    if len(target) == 0 or target.null_count == len(target):
        # no bounds to state; an integer block with zero non-null values
        # still has a KNOWN sum (the additive identity), so roll-ups over
        # blocks stay exact
        zsum = 0 if pa.types.is_integer(target.type) else None
        return none6 + (n_null, zsum)
    if pa.types.is_integer(target.type):
        mm = pc.min_max(target)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        # provable exactness: |sum| <= nv * max(|lo|,|hi|) < 2^63 whenever
        # bits(magnitude) + bits(count) fits — Arrow's int64 accumulator
        # cannot overflow on ANY intermediate, so the stored sum is exact,
        # never a wrapped value. Out of bounds -> None (unavailable), the
        # aggregate surface then refuses rather than misreports.
        nv = len(target) - target.null_count
        m = max(abs(lo), abs(hi), 1)
        zsum = None
        if bits_needed(m) + bits_needed(nv) <= 62:
            zsum = int(pc.sum(target).as_py())
        return lo, hi, None, None, None, None, n_null, zsum
    if pa.types.is_floating(target.type):
        # min_max skips NaN — safe for RANGE pruning because NaN can never
        # satisfy lo <= v <= hi; all-NaN blocks yield None/None (kept).
        # No float sum: a metadata roll-up cannot reproduce a sequential
        # fold's rounding, and these stats never approximate.
        mm = pc.min_max(target)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        # all-NaN blocks degenerate to (inf, -inf) — withhold stats (kept)
        if lo is None or hi is None or math.isnan(lo) or math.isnan(hi) or lo > hi:
            return none6 + (n_null, None)
        return None, None, float(lo), float(hi), None, None, n_null, None
    if pa.types.is_string(target.type) or pa.types.is_large_string(target.type):
        # Arrow min_max orders strings by bytes = codepoint order in UTF-8,
        # the same ordering Spark/DuckDB string comparisons use
        mm = pc.min_max(target)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None or hi is None:
            return none6 + (n_null, None)
        lo_t, hi_t = _zone_str_bounds(lo, hi)
        return None, None, None, None, lo_t, hi_t, n_null, None
    return none6 + (n_null, None)


class EncodePlan(NamedTuple):
    """Everything a block encode needs, built once on the driver by
    :func:`_encode_plan` and shipped to the worker fns."""

    cols: list[str]
    policies: dict[str, str]
    # columns whose ColumnPolicy declares nullable=False
    required: frozenset
    block_rows: int
    zone_maps: bool
    layout: str
    schema: pa.Schema  # the blocks rows' schema in ``layout``


def _encode_plan(
    manifest: CodecManifest, cols: list[str], layout: str = "nested"
) -> EncodePlan:
    return EncodePlan(
        cols=cols,
        policies={c: manifest.columns[c].codec for c in cols},
        required=frozenset(c for c in cols if not manifest.columns[c].nullable),
        block_rows=manifest.block_rows,
        zone_maps=manifest.zone_maps,
        layout=layout,
        schema=_blocks_schema(cols, layout),
    )


def _encode_block(
    block: pa.Table, plan: EncodePlan, part_id: int, unit_id: int, block_id: int
) -> pa.RecordBatch:
    """Encode one bounded block (all ``plan.cols`` over the same row span)
    into a single blocks row in ``plan.layout`` — the one writer of the
    blocks format, so every encode path writes identical bytes.

    A null in a ``plan.required`` column raises :class:`EncodeValueError`
    — the reference's MissingRequiredField analog
    (``src/xml_parser.rs:327-338``) — EXCEPT strings, where the reference's
    rule maps a missing non-nullable Utf8 to ``""``; the engine applies the
    same fill (decode then yields ``""``, not null)."""
    from xml2arrow_spark.errors import EncodeValueError

    entries = []
    n_values = 0
    for name in plan.cols:
        arr = block.column(name).combine_chunks()
        if name in plan.required and arr.null_count:
            if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
                arr = arr.fill_null("")
            else:
                raise EncodeValueError(
                    f"column {name!r}: {arr.null_count} null value(s) in a "
                    f"column declared nullable=False (missing required field)"
                )
        resolved, meta_json, payload = encode_column(arr, plan.policies[name])
        meta = json.loads(meta_json)
        if meta["kind"] == "general":  # cascade wrapper: account the inner
            meta = json.loads(meta["inner"])
        if meta["kind"] in ("list_int", "list_float"):
            n_values += meta["values_meta"]["n"]
        else:
            n_values += meta["n"]
        stats = _zone_stats(arr) if plan.zone_maps else (None,) * 8
        entries.append({
            "name": name, "codec": resolved, "meta": meta_json, "data": payload,
            "in_bytes": arr.nbytes, "out_bytes": len(payload) + len(meta_json),
            **dict(zip(_STAT_FIELDS, stats)),
        })
    head = [
        part_id, unit_id, block_id, block.num_rows, n_values,
        sum(e["in_bytes"] for e in entries),
        sum(e["out_bytes"] for e in entries),
    ]
    if plan.layout == "nested":
        values = head + [entries]
    else:
        values = head + [e[f] for e in entries for f in _WIDE_FIELDS]
    return pa.RecordBatch.from_arrays(
        [pa.array([v], type=t) for v, t in zip(values, plan.schema.types)],
        schema=plan.schema,
    )


def encode_blocks(
    plan: EncodePlan, blocks, part_id: int, id_base: int
) -> Iterator[pa.RecordBatch]:
    """The one per-block encode loop, the write-side twin of
    :func:`decode_blocks`: encode each ``(unit_id, table)`` of ``blocks``
    into its blocks row; the ``seq``-th block gets id ``id_base | seq``."""
    for seq, (unit_id, block) in enumerate(blocks):
        yield _encode_block(block, plan, part_id, unit_id, id_base | seq)


# the zone-bound stat pair per predicate category (int, double, string)
_ZONE_SUFFIXES = {"i": ("vmin_i", "vmax_i"), "d": ("vmin_d", "vmax_d"),
                  "s": ("vmin_s", "vmax_s")}


def _lacks(col: str) -> ValueError:
    return ValueError(
        f"block lacks an entry for {col!r}; the sidecar schema and the "
        f"blocks files disagree"
    )


def _one_array(col) -> pa.Array:
    """A column as one Array (``combine_chunks`` copies even one chunk)."""
    return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()


class BlockStats:
    """Read-side view of the blocks format, the same on both layouts: the
    nested ``cols`` array<struct> and the wide top-level
    ``c_<col>__<field>`` columns (:func:`_blocks_schema`).

    Opened with the columns whose payload a reader may need (``cols``)
    and those whose stats it may judge (``stats``, default ``cols``);
    block ``i`` then offers ``n_rows(i)``, ``zone(col, i, cat)`` (the
    ``(zmin, zmax, n_null)`` triple of a predicate category),
    ``stat(col, field, i)`` (one stat: ``zsum_i``, the int extrema, ...)
    and ``payload(col, i)`` (the ``(meta, data)`` pair of a ``cols``
    entry). A stat field the source does not hold reads as None (older
    blocks, ``zone_maps=False``, a table projected to its payload), as
    does any stat of a column outside ``stats``; a column the source or
    any of its blocks lacks raises, and :meth:`require` raises alike for
    more columns without reading their stats.

    ``BlockStats(fpath, pq, cols, stats)`` opens one blocks file and reads
    it once up front: ``n_rows`` and ``cols`` on the nested layout;
    ``n_rows`` and the ``stats`` columns' stats on the wide layout, whose
    payload comes later, one ``read_row_group`` of every ``cols`` pair
    per parquet row group, on the first ``payload`` call that needs it —
    so a reader that prunes or claims every block of a row group reads no
    payload bytes of it. A view with no ``cols`` reads no payload on
    either layout, and offers each entry's codec header as
    ``stat(col, "meta", i)`` (on the nested layout it reads only the
    entries' ``name``, ``meta`` and stat leaves). :meth:`of_table` wraps
    block rows already in memory (a Spark batch)."""

    def __init__(self, fpath: str, pq_mod, cols: list[str],
                 stats: list[str] | None = None):
        cols = list(dict.fromkeys(cols))
        stats = cols if stats is None else list(dict.fromkeys(stats))
        fields = [*_STAT_FIELDS] + ([] if cols else ["meta"])
        with pq_mod.ParquetFile(fpath) as pf:
            names = pf.schema_arrow.names
            if "cols" not in names:
                want = ["n_rows"] + [
                    n for c in stats for f in fields
                    if (n := f"c_{c}__{f}") in names
                ]
            elif cols:
                want = ["n_rows", "cols"]
            else:  # the entry leaves a stats reader looks at, no payload
                leaves = {"name", *fields}
                want = ["n_rows"] + [
                    p for j in range(len(pf.schema))
                    if (p := pf.schema.column(j).path).startswith("cols.")
                    and p.rsplit(".", 1)[1] in leaves
                ]
            tbl = pf.read(columns=want)
            self._md = pf.metadata  # reopened footer-free per row group
        self._fpath, self._pq = fpath, pq_mod
        groups = [self._md.row_group(k).num_rows
                  for k in range(self._md.num_row_groups)]
        self._open(tbl, cols, stats, names, groups)

    @classmethod
    def of_table(cls, tbl: pa.Table, cols: list[str]) -> "BlockStats":
        """A view over block rows in memory: ``tbl`` holds the nested
        ``cols`` column or the wide ``c_<col>__meta``/``__data`` columns of
        ``cols`` (stats and ``n_rows`` optional)."""
        view = cls.__new__(cls)
        cols = list(dict.fromkeys(cols))
        view._open(tbl, cols, cols, tbl.column_names)
        return view

    def _open(self, tbl: pa.Table, cols: list[str], stats: list[str],
              names: list[str], groups: list[int] | None = None) -> None:
        """Index ``tbl``'s block rows; ``names`` are the source's columns.
        ``groups`` (a wide file's parquet row-group sizes) leaves the
        payload to :meth:`_read_group`; without it ``tbl`` holds it."""
        self._n = tbl.num_rows
        self._rows = (tbl.column("n_rows").to_pylist()
                      if "n_rows" in tbl.column_names else None)
        self._cols, self._stat_cols = cols, frozenset(stats)
        self._cache: dict = {}  # (col, field) -> per-block values or None
        self._starts = [0]  # first block of each payload row group
        opened = list(dict.fromkeys(cols + stats))
        self._names, self._at = names, {}
        if "cols" not in names:
            self._entries = None
            self._stats = tbl
            self.require(opened)
            if groups is None:
                self._pay = {0: {
                    c: (_one_array(tbl.column(f"c_{c}__meta")),
                        _one_array(tbl.column(f"c_{c}__data")))
                    for c in cols
                }}
            else:
                for r in groups[:-1]:
                    self._starts.append(self._starts[-1] + r)
                self._pay = {}  # row group -> {col: arrays}, read on demand
            return
        lists = _one_array(tbl.column("cols"))
        self._entries = lists.values  # every block's entries, flat
        self._fields: dict = {}  # field -> values over all entries
        self._offs = lists.offsets.to_pylist()
        self._ent_names = self._entries.field("name").to_pylist()
        self.require(opened)
        self._pay = {0: {
            c: (self._entries.field("meta"), self._entries.field("data"))
            for c in cols
        }}

    def require(self, cols: list[str]) -> None:
        """Raise, as opening does, for any of ``cols`` the source or one
        of its blocks lacks, from the column or entry names already read:
        no stat or payload of ``cols`` is read."""
        for c in cols:
            if c in self._at:
                continue
            if self._entries is None:
                payload_columns(self._names, [c])
                self._at[c] = range(self._n)
                continue
            # the index of each block's entry for c
            offs, ent_names = self._offs, self._ent_names
            try:
                self._at[c] = [
                    ent_names.index(c, offs[b], offs[b + 1])
                    for b in range(self._n)
                ]
            except ValueError:
                raise _lacks(c) from None

    def __len__(self) -> int:
        return self._n

    def n_rows(self, i: int) -> int | None:
        return None if self._rows is None else self._rows[i]

    def _per_block(self, col: str, field: str):
        """``field`` of ``col`` for every block, or None when unstored."""
        key = (col, field)
        if key not in self._cache:
            at = self._at[col]
            if col not in self._stat_cols:
                vals = None
            elif self._entries is None:
                name = f"c_{col}__{field}"
                vals = (
                    self._stats.column(name).to_pylist()
                    if name in self._stats.column_names
                    else None
                )
            else:
                if field not in self._fields:
                    self._fields[field] = (
                        self._entries.field(field).to_pylist()
                        if self._entries.type.get_field_index(field) >= 0
                        else None
                    )
                vals = self._fields[field]
                vals = None if vals is None else [vals[j] for j in at]
            self._cache[key] = vals
        return self._cache[key]

    def stat(self, col: str, field: str, i: int):
        vals = self._per_block(col, field)
        return None if vals is None else vals[i]

    def zone(self, col: str, i: int, cat: str) -> tuple:
        zmin, zmax = _ZONE_SUFFIXES[cat]
        return (self.stat(col, zmin, i), self.stat(col, zmax, i),
                self.stat(col, "n_null", i))

    def payload(self, col: str, i: int) -> tuple:
        j = self._at[col][i]
        k = bisect.bisect_right(self._starts, j) - 1
        if k not in self._pay:
            self._pay[k] = self._read_group(k)
        meta, data = self._pay[k][col]
        j -= self._starts[k]
        return meta[j].as_py(), data[j].as_py()

    def _read_group(self, k: int) -> dict:
        """Every ``cols`` entry's (meta, data) arrays over parquet row
        group ``k``, in one read of a file reopened on the cached footer."""
        with self._pq.ParquetFile(self._fpath, metadata=self._md) as pf:
            tbl = pf.read_row_group(k, columns=[
                x for c in self._cols for x in (f"c_{c}__meta", f"c_{c}__data")
            ])
        return {
            c: (_one_array(tbl.column(f"c_{c}__meta")),
                _one_array(tbl.column(f"c_{c}__data")))
            for c in self._cols
        }


def zone_col(blocks_df, column: str, field: str):
    """The Spark Column of one per-block stat of ``column`` (``field``:
    one of vmin_i .. zsum_i) on either blocks layout — the Spark-side
    twin of :class:`BlockStats`. None when the table does not store that
    stat; on the nested layout a block without an entry for ``column``
    reads NULL."""
    from pyspark.sql import functions as F

    if "cols" in blocks_df.columns:
        entry_type = blocks_df.schema["cols"].dataType.elementType
        if field not in entry_type.fieldNames():
            return None
        return F.element_at(
            F.filter(F.col("cols"), lambda c: c["name"] == F.lit(column)), 1
        )[field]
    name = f"c_{column}__{field}"
    return F.col(name) if name in blocks_df.columns else None


def encode_table(
    df,
    manifest: CodecManifest,
    unit_col: str | None = None,
    layout: str = "nested",
    presort: list[str] | None = None,
):
    """Encode ``df``'s manifest columns into a blocks DataFrame.

    The manifest is validated driver-side first (``Config::validate`` analog,
    /root/reference/src/config.rs:152-237) so executor tasks can never see an
    invalid plan.

    With ``unit_col`` set, rows are sorted by it within each task and no
    block spans two unit values; block rows carry ``unit_id`` — the handle
    the checkpoint/resume layer keys on. Without it, ``unit_id`` is -1.

    ``layout='nested'`` (default) emits one ``cols array<struct>`` column;
    ``layout='wide'`` emits per-column top-level (codec, meta, data, stats)
    columns so a persisted blocks table supports parquet column pruning on
    decode (:func:`_blocks_schema`).

    ``presort=[cols...]`` reorders rows WITHIN each task (within each unit,
    when ``unit_col`` is set) before blocking —
    no shuffle, one in-task sort. Row permutation is the classic RLE/dict
    amplifier ("Column Partition and Permutation for Run Length Encoding in
    Columnar Databases", SIGMOD 2020): interleaved low-cardinality values
    become long runs, often collapsing a column to a handful of RLE runs
    per block. Decode order changes accordingly (the engine's contract is
    per-row equality keyed by ids, not global order — same as the
    reference's document-order guarantee being per-scope).
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    manifest.validate(df.drop(unit_col).schema if unit_col else df.schema)
    cols = manifest.encodable_columns(df.schema)
    if not cols:
        raise ValueError("manifest selects no encodable columns")
    plan = _encode_plan(manifest, cols, layout)
    if unit_col is None:
        # NOTE (r06): no widen_scan here — encode respects the CALLER's
        # partitioning (an explicit coalesce/repartition upstream is a
        # deliberate block-geometry choice; test_files_encode pins the
        # fused path against encode_table(coalesce(1)) byte-for-byte).
        # Small-scan fan-out happens at the sources instead
        # (tokenize_documents).
        projected = df.select(*cols)  # Catalyst prunes the scan to these columns
        if presort:
            projected = projected.sortWithinPartitions(*presort)
    else:
        # rows of one unit are contiguous; presort clusters them inside it
        projected = df.select(unit_col, *cols).sortWithinPartitions(
            unit_col, *(presort or [])
        )

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        from xml2arrow_spark.env import task_setup

        task_setup()
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        if unit_col is None:
            blocks = ((-1, blk) for blk in _blockify(batches, plan.block_rows))
        else:
            blocks = _blockify_grouped(batches, plan.block_rows, unit_col)
        yield from encode_blocks(plan, blocks, part_id, part_id << 32)

    return projected.mapInArrow(encode_fn, from_arrow_schema(plan.schema))


def resolve_manifest_parquet(
    path, manifest: CodecManifest, sample_rows: int = 8192
) -> CodecManifest:
    """Driver-side manifest resolution straight from parquet footers/pages —
    no Spark job at all (the ``Parser::new`` compile step,
    /root/reference/src/xml_parser.rs:763-784). Reads at most ``sample_rows``
    rows of the ``auto`` columns from the first file(s) with pyarrow, each
    list column on its own and only until it holds
    :data:`~xml2arrow_spark.plans.selector.SAMPLE_VALUES` values, and
    resolves them with the chooser
    :func:`~xml2arrow_spark.plans.selector.resolve_manifest` shares.
    ``path`` is a parquet file or directory, or its already-listed
    :func:`~xml2arrow_spark.sources.files.parquet_file_infos`."""
    import pyarrow.parquet as pq

    from xml2arrow_spark.plans.selector import (
        SAMPLE_VALUES,
        auto_columns,
        resolve_sample,
    )
    from xml2arrow_spark.sources.files import parquet_file_infos

    infos = parquet_file_infos(path) if isinstance(path, str) else path
    schema = pq.read_schema(infos[0][0]) if infos else pa.schema([])
    cols = auto_columns(manifest, schema.names)

    def read(columns, batch_rows, max_values=None):
        # batches of the first files until sample_rows rows, or until the
        # (one) list column holds max_values values
        batches, rows, values = [], 0, 0
        for fpath, _ in infos:
            for batch in pq.ParquetFile(fpath).iter_batches(
                batch_size=batch_rows, columns=columns
            ):
                batches.append(batch.slice(0, sample_rows - rows))
                rows += batch.num_rows
                if max_values is not None:
                    values += len(batch.column(0).flatten())
                if rows >= sample_rows or (
                    max_values is not None and values >= max_values
                ):
                    return batches
        return batches

    def is_list(name):
        t = schema.field(name).type
        return pa.types.is_list(t) or pa.types.is_large_list(t)

    lists = [c for c in cols if is_list(c)]
    scalars = [c for c in cols if c not in lists]
    parts = [read(scalars, sample_rows)] if scalars else []
    # a list's rows are read in small batches, so reading stops close to
    # the value bound instead of decoding the whole row sample
    parts += [read([c], 256, SAMPLE_VALUES) for c in lists]
    sample = {}
    for batches in parts:
        tbl = pa.Table.from_batches(batches) if batches else None
        if tbl is not None and tbl.num_rows:
            sample.update(zip(tbl.column_names, tbl.columns))
    return resolve_sample(manifest, sample) if sample else manifest


def _fused_prologue(spark, path: str, manifest: CodecManifest | None,
                    n_tasks: int | None, done=frozenset()):
    """The fused encoders' one prologue: list ``path`` once, read the
    first file's schema, default the manifest (``auto_for``), validate it,
    resolve its 'auto' codecs from a sample and plan balanced file tasks
    of the files whose ``file_idx`` is not in ``done``, all over that one
    listing. Returns ``(file_schema, resolved, bins)``."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.parquet as pq

    from xml2arrow_spark.sources.files import _plan_tasks, parquet_file_infos

    infos = parquet_file_infos(path)
    file_schema = from_arrow_schema(pq.read_schema(infos[0][0]))
    if manifest is None:
        manifest = CodecManifest.auto_for(file_schema, block_rows=65536)
    manifest.validate(file_schema)
    resolved = resolve_manifest_parquet(infos, manifest)
    return file_schema, resolved, _plan_tasks(spark, infos, n_tasks, done)


def _encode_files(spark, bins, plan: EncodePlan, finish,
                  out_schema: pa.Schema | None,
                  presort: list[str] | None = None, cluster: str = "lex"):
    """The one fused file worker: each task opens its bin's files with
    pyarrow and streams parquet -> Arrow -> numpy kernels through
    :func:`encode_blocks`, with no JVM row materialization. Blocks never
    span files; a file's ``seq``-th block is ``unit_id = file_idx``,
    ``block_id = (file_idx << 20) | seq``. ``finish(file_idx, fpath,
    rows)`` turns one file's block rows into the batches (``out_schema``)
    the task ships. ``presort`` clusters each file's rows before blocking
    (:func:`~xml2arrow_spark.operators.zorder.presort_table`). With
    ``out_schema=None`` the job runs eagerly and returns the list of
    ``finish``'s items (:func:`~xml2arrow_spark.sources.files.map_tasks`)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml2arrow_spark.sources.files import map_tasks

    def encode_files(files) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        for file_idx, fpath in files:
            pf = pq.ParquetFile(fpath)
            if presort:
                # clustering needs the whole unit in memory (one file = one
                # unit, sized for an executor by construction); one
                # vectorized sort/take, then the same blockify
                from xml2arrow_spark.operators.zorder import presort_table

                unit_tbl = presort_table(
                    pf.read(columns=plan.cols), list(presort), cluster
                )
                batch_iter = unit_tbl.to_batches(max_chunksize=plan.block_rows)
            else:
                batch_iter = pf.iter_batches(
                    batch_size=plan.block_rows, columns=plan.cols
                )
            blocks = ((file_idx, b) for b in _blockify(batch_iter, plan.block_rows))
            yield from finish(
                file_idx, fpath, encode_blocks(plan, blocks, part_id, file_idx << 20)
            )

    schema = None if out_schema is None else from_arrow_schema(out_schema)
    return map_tasks(spark, bins, encode_files, schema)


def encode_parquet_tasks(spark, bins, manifest: CodecManifest):
    """Fused pyarrow scan + encode over file-task bins
    (:func:`xml2arrow_spark.sources.files.plan_parquet_tasks`): the blocks
    rows of every file, nested layout.

    The path that makes the Python boundary disappear (see sources/files.py
    module doc; measured 20-30x over row-fed ``mapInArrow``). ``unit_id`` =
    ``file_idx`` is the resume key. Column pruning happens in the pyarrow
    reader (only manifest columns are decoded), the engine-side analog of
    the reference's unknown-subtree skip (``src/path_registry.rs:400-408``).
    """
    plan = _encode_plan(manifest, list(manifest.columns))
    return _encode_files(spark, bins, plan, lambda _i, _f, rows: rows,
                         plan.schema)


_STATS_PA_SCHEMA = pa.schema(
    [
        pa.field("unit_id", pa.int32()),
        pa.field("n_blocks", pa.int32()),
        pa.field("n_rows", pa.int64()),
        pa.field("n_values", pa.int64()),
        pa.field("in_bytes", pa.int64()),
        pa.field("out_bytes", pa.int64()),
    ]
)


def _file_totals(rows) -> dict:
    """``n_blocks`` and the summed counts of one file's block rows."""
    out = dict.fromkeys(_STATS_PA_SCHEMA.names[1:], 0)
    for r in rows:
        out["n_blocks"] += 1
        for k in _STATS_PA_SCHEMA.names[2:]:
            out[k] += r.column(k)[0].as_py()
    return out


def encode_parquet_stats(
    spark,
    path: str,
    manifest: CodecManifest | None = None,
    n_tasks: int | None = None,
):
    """Fused scan+encode that returns per-file METADATA only — the encoded
    payload is produced and dropped in the task, never shipped to the JVM.

    This is the throughput-measurement twin of :func:`encode_parquet`
    (mirroring the reference's benchmark harness, which parses into
    RecordBatches and discards them,
    /root/reference/benches/parse_benchmark.rs:415-455): the kernel work is
    identical, only result transport differs. Also the right shape for
    dry-run codec planning over a large table."""
    _schema, resolved, bins = _fused_prologue(spark, path, manifest, n_tasks)

    def ship_totals(file_idx, _fpath, rows):
        yield pa.RecordBatch.from_pylist(
            [{"unit_id": file_idx, **_file_totals(rows)}], schema=_STATS_PA_SCHEMA
        )

    plan = _encode_plan(resolved, list(resolved.columns))
    return _encode_files(spark, bins, plan, ship_totals, _STATS_PA_SCHEMA)


def encode_parquet(
    spark,
    path: str,
    manifest: CodecManifest | None = None,
    n_tasks: int | None = None,
):
    """Convenience: plan balanced file tasks over ``path``, resolve the
    manifest driver-side from the parquet sample, and return the fused-encode
    blocks DataFrame. The flagship ingest path (BASELINE.json north_star)."""
    _schema, resolved, bins = _fused_prologue(spark, path, manifest, n_tasks)
    return encode_parquet_tasks(spark, bins, resolved)


def split_schema_ddl(ddl: str) -> dict[str, str]:
    """name -> "name type" pairs from a stored schema DDL, splitting on
    commas OUTSIDE parentheses AND angle brackets — ``decimal(20,0)``,
    ``array<struct<a:int,b:int>>``, ``map<string,int>`` all contain
    commas a naive ``split(',')`` would tear."""
    pairs, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            pairs.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        pairs.append("".join(cur).strip())
    return {p.split(" ")[0]: p for p in pairs if p}


def _zone_cat(lo, hi) -> str:
    """The zone-stat category (a ``_ZONE_SUFFIXES`` key) of a predicate's
    bound type. A ``None`` bound is one-sided — the category is typed by
    the bound that IS present (previously a one-sided int/string range
    fell through to the float pair, whose null-filled stats kept every
    block: sound, but the prune was silently vacuous)."""
    probe = [b for b in (lo, hi) if b is not None]
    if probe and all(isinstance(b, str) for b in probe):
        return "s"
    if probe and all(
        isinstance(b, int) and not isinstance(b, bool) for b in probe
    ):
        return "i"
    return "d"


def _zone_suffixes(lo, hi) -> tuple[str, str]:
    """Zone-stat column pair for a predicate's bound type."""
    return _ZONE_SUFFIXES[_zone_cat(lo, hi)]


def normalize_zone_filters(zone_filter) -> list[tuple]:
    """``zone_filter`` may be one (column, lo, hi) tuple or a LIST of them
    (a conjunction — a block survives only if every predicate can match
    it). Returns the list form.

    ``any_of(...)`` (:mod:`~xml2arrow_spark.operators.predicates`) lifts
    the filter to a DISJUNCTION of such conjunctions: the returned list is
    then flat across every disjunct with the disjunct spans attached
    (``.groups``), and the pruning consumers keep a block when ANY
    disjunct could match it (ranges with at least one bound — no IN-list
    shape; use ``prune_blocks_any`` for points)."""
    from xml2arrow_spark.operators.predicates import AnyOf, dnf

    zfs = dnf(zone_filter, lambda spec: (
        [] if spec is None else [spec] if isinstance(spec, tuple) else list(spec)
    ))
    if isinstance(zone_filter, AnyOf):
        for t in zfs:
            if len(t) != 3 or (t[1] is None and t[2] is None):
                raise ValueError(
                    "zone-filter disjuncts must be (column, lo, hi) "
                    f"ranges with at least one bound, got {t!r}"
                )
    return zfs


def prune_blocks(blocks_df, column: str, lo, hi):
    """Zone-map block pruning: keep only blocks whose [vmin, vmax] for
    ``column`` can intersect [lo, hi] — parquet-row-group-pruning semantics
    at the engine's block granularity (the small-materialized-aggregates /
    range-encoding family, cf. "Global Range Encoding for Efficient
    Partition Elimination", EDBT 2018). CONSERVATIVE: blocks with missing
    stats are always kept, so the result is a superset of the matching rows
    and the caller still applies the row-level filter after decode.

    Integer bounds prune on the int64 zone pair, float bounds on the double
    pair (never cross-compared: an int64 -> double cast could round a bound
    across the predicate and wrongly drop a block), string bounds on the
    truncation-safe string pair (UTF-8 byte order — the ordering Spark's
    string comparison uses). On a persisted WIDE blocks table the zone
    columns are top-level parquet columns, so this filter also pushes down
    to parquet row-group statistics — two pruning levels from one set of
    stats.
    """
    return blocks_df.filter(_prune_keep_cond(blocks_df, column, lo, hi))


def _prune_keep_cond(blocks_df, column: str, lo, hi):
    """:func:`prune_blocks`'s keep condition as a Column (missing stats
    always keep), composable into conjunctions and disjunctions."""
    from pyspark.sql import functions as F

    vmin, vmax = (
        zone_col(blocks_df, column, f) for f in _zone_suffixes(lo, hi)
    )
    if vmin is None or vmax is None:  # stats not stored: nothing to prune on
        return F.lit(True)
    cond = None
    if lo is not None:
        cond = F.lit(lo) <= vmax
    if hi is not None:
        c2 = vmin <= F.lit(hi)
        cond = c2 if cond is None else (cond & c2)
    if cond is None:  # both bounds open: nothing to prune on
        return F.lit(True)
    return vmin.isNull() | vmax.isNull() | cond


def prune_blocks_dnf(blocks_df, zfs):
    """Zone-map pruning for a DNF zone filter (``zfs`` from
    :func:`normalize_zone_filters` with ``.groups``): keep a block when
    ANY disjunct's every range can intersect it — the OR-pushdown rule
    parquet/Iceberg use (``Or(l, r)`` prunes only when both sides prune).
    Same conservative contract as :func:`prune_blocks`."""
    keep = None
    for a, b in zfs.groups:
        g = None
        for col, lo, hi in zfs[a:b]:
            c = _prune_keep_cond(blocks_df, col, lo, hi)
            g = c if g is None else (g & c)
        keep = g if keep is None else (keep | g)
    return blocks_df.filter(keep)


def prune_blocks_any(blocks_df, column: str, values: list):
    """Disjunctive zone-map pruning: keep only blocks whose [vmin, vmax]
    for ``column`` contains AT LEAST ONE of the point ``values`` — the
    point-lookup shape (:func:`prune_blocks` is the conjunctive range
    shape; a scattered id set is not expressible as one range). Same
    conservative contract: blocks with missing stats are always kept, the
    result is a superset, the caller row-filters after decode. The
    truncation-safe string bounds stay valid for containment (vmin is a
    prefix of the true min, vmax is raised above the true max, so
    ``vmin <= v <= vmax`` can only over-keep). Effective when blocks are
    value-clustered on ``column`` (``presort=[column]`` at encode); on
    unclustered data every block's range spans the id space and nothing
    prunes — still correct, just no win. The values ride a literal array
    (one O(len(values)) `exists` per block row, JVM-side), so callers
    should cap the list at metadata scale."""
    from pyspark.sql import functions as F

    if not values:
        return blocks_df
    vmin, vmax = (
        zone_col(blocks_df, column, f)
        for f in _zone_suffixes(values[0], values[0])
    )
    if vmin is None or vmax is None:  # stats not stored: nothing to prune on
        return blocks_df
    arr = F.array(*[F.lit(v) for v in values])
    keep = (
        vmin.isNull()
        | vmax.isNull()
        | F.exists(arr, lambda x: (vmin <= x) & (x <= vmax))
    )
    return blocks_df.filter(keep)


def normalize_row_filters(row_filter) -> list[tuple]:
    """Validate and split a row_filter spec into a CONJUNCTION list of
    ``(col, values|None, lo, hi)``: each conjunct is a 2-tuple
    ``(col, values)`` = point-set selection or a 3-tuple ``(col, lo, hi)``
    = inclusive range with optional open sides; ``row_filter`` may be one
    conjunct or a list of them. Filter columns need NOT be in the decoded
    projection — they are read for the mask and dropped (filter on the id,
    project the text).

    ``row_filter`` may also be an :class:`~xml2arrow_spark.operators
    .predicates.AnyOf` (``any_of(...)``) — a DISJUNCTION of such
    conjunctions: the returned list is then the flat conjunct list with
    the disjunct spans attached (``.groups``), and
    :func:`apply_row_filters` ORs the per-disjunct masks."""
    from xml2arrow_spark.operators.predicates import dnf

    return dnf(row_filter, _row_conjunction)


def _row_conjunction(row_filter) -> list[tuple]:
    """:func:`normalize_row_filters` of one conjunction (no ``any_of``)."""
    if row_filter is None:
        return []
    preds = (
        [row_filter] if isinstance(row_filter, tuple) else list(row_filter)
    )
    out = []
    for pred in preds:
        rf_col = pred[0]
        rf_values = rf_lo = rf_hi = None
        if len(pred) == 3:
            rf_lo, rf_hi = pred[1], pred[2]
            if rf_lo is None and rf_hi is None:
                raise ValueError(
                    "range row_filter needs at least one bound (lo, hi)"
                )
        elif len(pred) == 2:
            rf_values = list(pred[1])
        else:
            raise ValueError(
                f"row_filter conjunct must be (col, values) or "
                f"(col, lo, hi), got {pred!r}"
            )
        out.append((rf_col, rf_values, rf_lo, rf_hi))
    return out


def apply_row_filters(rfs, pair, out_names):
    """Evaluate a row-filter conjunction over one block, codec-aware:
    returns ``None`` when NO row matches (the block skips every other
    kernel — including zone-filter false positives), else
    ``(mask, selected)`` where ``mask`` is the AND of the per-conjunct
    masks (or None when ``rfs`` is empty — every row) and ``selected``
    maps at most one projected filter column to its pre-gathered rows
    (the single-conjunct fused fast path of
    :func:`~xml2arrow_spark.operators.blocks.match_decode_column`).
    ``pair(col)`` yields a column's (meta_json, payload). Only each
    conjunct's ``(col, values, lo, hi)`` is read, so the resolved
    ``where=`` conjuncts of :mod:`~xml2arrow_spark.operators.dataset`
    (which carry a value category after them) evaluate here as they are:
    this is the one row evaluator of ``row_filter=`` and ``where=``.

    Under a DNF row filter (``rfs`` carries ``.groups``) the mask is the
    OR of the per-disjunct conjunction masks — a row survives when any
    disjunct matches it; NULL/NaN rows fail every disjunct. The fused
    single-conjunct fast path stays conjunction-only (a DNF always has
    several conjuncts)."""
    import pyarrow.compute as pc

    if not rfs:
        return None, {}
    groups = getattr(rfs, "groups", None)
    if groups is not None:
        mask = None
        for a, b in groups:
            fr = apply_row_filters(list(rfs[a:b]), pair, ())
            if fr is None:
                continue  # this disjunct matched no row
            m, _sel = fr
            m = pc.fill_null(m, False)
            mask = m if mask is None else pc.or_(mask, m)
        if mask is None or not pc.any(mask).as_py():
            return None
        return mask, {}
    if len(rfs) == 1 and rfs[0][0] in out_names:
        col, vv, lo, hi = rfs[0][:4]
        md = match_decode_column(*pair(col), vv, lo, hi)
        if md is None:
            return None
        mask, sel = md
        return mask, {col: sel}
    mask = None
    for col, vv, lo, hi, *_ in rfs:
        m = match_mask_column(*pair(col), vv, lo, hi)
        if m is None:
            return None
        mask = m if mask is None else pc.and_kleene(mask, m)
    mask = pc.fill_null(mask, False)
    if not pc.any(mask).as_py():
        return None
    return mask, {}


def decode_blocks(view: "BlockStats", out_names: list[str], rfs, keep=None):
    """The one per-block decode loop: for each block of ``view`` that
    ``keep(i)`` accepts (every block when ``keep`` is None), evaluate the
    row filter ``rfs`` (:func:`apply_row_filters`), skip a block no row
    matches, decode every other ``out_names`` column (gathering only the
    matching rows) and yield the block as one batch."""
    for i in range(len(view)):
        if keep is not None and not keep(i):
            continue
        fr = apply_row_filters(rfs, lambda c, i=i: view.payload(c, i), out_names)
        if fr is None:
            continue  # zero matches: skip every other kernel
        mask, selected = fr
        arrays = []
        for n in out_names:
            arr = selected.get(n)
            if arr is None:
                arr = decode_column(*view.payload(n, i))
                if mask is not None:
                    arr = arr.filter(mask)
            arrays.append(arr)
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def payload_columns(names: list[str], cols: list[str]) -> list[str]:
    """The columns of a blocks table (column ``names``) that hold the
    payload of ``cols`` on either layout — the projection that lets a
    wide parquet scan skip every other column's payload IO."""
    if "cols" in names:
        return ["cols"]
    for c in cols:
        if f"c_{c}__meta" not in names or f"c_{c}__data" not in names:
            raise _lacks(c)
    return [x for c in cols for x in (f"c_{c}__meta", f"c_{c}__data")]


def decode_table(blocks_df, schema_ddl: str, zone_filter=None, row_filter=None):
    """Blocks DataFrame -> original columns. Map-only: no shuffle, no join.

    ``zone_filter=(column, lo, hi)`` — or a LIST of such tuples, applied as
    a conjunction — prunes whole blocks via their zone maps BEFORE any
    decode kernel runs (:func:`prune_blocks`); the decoded result is a
    superset of the rows matching the predicate, so apply the row-level
    filter afterwards. Bounds may be int, float, or str (each pruning on
    its own stats pair).

    ``row_filter=(column, values)`` pushes point selection INSIDE the
    decode kernel — the query-on-compressed-data move (Abadi et al.,
    "Integrating Compression and Execution in Column-Oriented Database
    Systems", SIGMOD 2006, at block granularity): the filter column is
    decoded FIRST; a block with zero matches is skipped before any other
    column's kernel runs (which also discards zone/Bloom FALSE-POSITIVE
    blocks), and a block with matches decodes the remaining columns once
    and gathers only the matching rows. Unlike ``zone_filter`` the result
    is EXACT on the filter column (rows where ``column IN values``), and
    only KB of matches cross the Arrow boundary instead of every block's
    rows. Scalar filter columns only.

    ``row_filter=(column, lo, hi)`` (3-tuple) is the RANGE form of the
    same move: rows where ``lo <= column <= hi`` (inclusive; either side
    may be ``None`` for a one-sided range). NULL never matches; NaN never
    matches a finite range (IEEE comparisons). Pair it with the matching
    ``zone_filter`` so non-overlapping blocks skip before the filter
    column's kernel runs at all — the selective-scan shape: zone prune →
    in-kernel range select → only the matching rows' payload crosses the
    Arrow boundary.

    ``row_filter`` may also be a LIST of such tuples — a conjunction:
    each conjunct's mask evaluates codec-aware, the masks AND together,
    and a zero-match conjunct skips the block before any other kernel.
    Filter columns need NOT be in the decoded projection (filter on the
    id, project the text): their streams are read for the mask and
    dropped. ``any_of(...)`` (:mod:`~xml2arrow_spark.operators
    .predicates`) lifts either shape to a DISJUNCTION: per-disjunct
    conjunction masks OR together, and only a block NO disjunct matches
    skips.

    ``schema_ddl`` may name a SUBSET of the encoded columns: only the
    named columns are decoded. Nested layout: their payload bytes still
    ride in the ``cols`` struct. Wide layout (see :func:`_blocks_schema`):
    the projection keeps only the named columns' (meta, data) pairs
    (:func:`payload_columns`), so parquet-backed blocks tables ALSO skip
    the unneeded payload IO — true decode-side column pruning. Each Spark
    batch is read through :meth:`BlockStats.of_table` and decoded by
    :func:`decode_blocks`.
    """
    from pyspark.sql.types import StructType

    zfs = normalize_zone_filters(zone_filter)
    if getattr(zfs, "groups", None) is not None:
        blocks_df = prune_blocks_dnf(blocks_df, zfs)
    else:
        for zf in zfs:
            blocks_df = prune_blocks(blocks_df, *zf)
    out_names = [f.name for f in StructType.fromDDL(schema_ddl).fields]
    rfs = normalize_row_filters(row_filter)
    read_names = list(dict.fromkeys(out_names + [c for c, _v, _l, _h in rfs]))

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from xml2arrow_spark.env import task_setup

        task_setup()
        for b in batches:
            view = BlockStats.of_table(pa.Table.from_batches([b]), read_names)
            yield from decode_blocks(view, out_names, rfs)

    # the select is what lets the parquet scan prune payload columns
    return blocks_df.select(
        *payload_columns(blocks_df.columns, read_names)
    ).mapInArrow(decode_fn, schema_ddl)
