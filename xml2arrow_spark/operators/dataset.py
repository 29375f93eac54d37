"""File-level encoded dataset: fused scan -> encode -> sink, per-file resume.

This is the 100 TB shape of the pipeline. Three boundaries that would
dominate at scale are all absent:

- **No JVM row boundary on ingest** — tasks read their parquet splits with
  pyarrow (see ``sources/files.py``).
- **No payload shuffle** — encoded block bytes are written to the sink BY THE
  TASK that produced them (one blocks parquet per input file); only
  kilobyte-scale metadata rows return to Spark.
- **No re-encode on failure** — the metadata table keys on ``unit_id`` (the
  input ``file_idx``); resume anti-joins completed units away. Blocks files
  are named deterministically per unit, so task retries overwrite instead of
  duplicating (idempotent sink), and the manifest row is only appended after
  the job's action completes — the write-then-commit order Iceberg snapshots
  give on a real catalog.

The reference analog is the config round-trip + per-table finalize
bookkeeping (/root/reference/src/config.rs:296-300,
/root/reference/src/xml_parser.rs:491-511), scaled out: one manifest row per
completed work unit instead of one YAML per run.
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import pyarrow as pa

from xml2arrow_spark.manifest import (
    MANIFEST_SIDECAR,
    CodecManifest,
    read_sidecar,
    write_sidecar,
)
from xml2arrow_spark.operators.lease import with_dataset_lease as _with_dataset_lease
from xml2arrow_spark.operators.predicates import (  # noqa: F401 (re-export)
    any_of,
    not_between,
    not_in,
)
from xml2arrow_spark.operators.encode import (  # noqa: F401 (resolve_manifest_parquet: re-export)
    BlockStats,
    _encode_files,
    _encode_plan,
    _file_totals,
    _fused_prologue,
    _STAT_FIELDS,
    _STATS_PA_SCHEMA,
    _ZONE_SUFFIXES,
    apply_row_filters,
    resolve_manifest_parquet,
    zone_col,
)
from xml2arrow_spark.operators.blocks import (
    fold_group_aggs,
    merge_aggs,
    value_counts_column,
)
from xml2arrow_spark.sources.files import BlockWalk, local_frame

__all__ = [
    "encode_parquet_dataset",
    "decode_dataset",
    "compact_dataset",
    "recluster_dataset",
    "dataset_metrics",
    "dataset_column_stats",
    "count_where",
    "group_count",
    "group_sum",
    "group_aggs",
    "top_k",
    "top_k_rows",
    "exact_quantiles",
    "value_histogram",
    "any_of",
    "not_between",
    "not_in",
    "METADATA_SCHEMA",
]

# one manifest row per encoded unit: its source and blocks files, then the
# fused encode's per-file totals
METADATA_SCHEMA = pa.schema(
    [
        pa.field("unit_id", pa.int32()),
        pa.field("src_file", pa.string()),
        pa.field("out_file", pa.string()),
        *list(_STATS_PA_SCHEMA)[1:],
    ]
)


def _refuse_pending_tombstones(out_path: str) -> None:
    """Every stored-dataset read in this module answers from block stats
    and/or raw block payload — neither can see pending merge-on-read
    tombstones (operators/tombstones.py), so proceeding would silently
    include soft-deleted rows. Refuse loudly; read_encoded_dataset applies
    them, apply_tombstones() folds them."""
    from xml2arrow_spark.operators.tombstones import refuse_pending

    refuse_pending(out_path, "stored-dataset read")


# Unit placement identity for FILE-level datasets: unit_id = file_idx from
# the lexicographically-sorted file list (sources/files.py). Recorded in the
# sidecar and verified before resume, like checkpoint.PLACEMENT_ID — if the
# enumeration rule ever changes, completed-unit markers stop covering the
# same files and resume must be refused, not trusted.
PLACEMENT_ID = "file_idx_sorted_v1"


@_with_dataset_lease(arg=2, kw="out_path")
def encode_parquet_dataset(
    spark,
    in_path: str,
    out_path: str,
    manifest: CodecManifest | None = None,
    n_tasks: int | None = None,
    layout: str = "nested",
    presort: list[str] | None = None,
    cluster: str = "lex",
) -> dict:
    """Encode every parquet file under ``in_path`` into
    ``out_path/blocks/blocks-u{unit:06d}.parquet`` (blocks schema), append
    per-unit lineage to ``out_path/manifest``, persist the resolved codec
    manifest as YAML. Returns run metrics. Re-running resumes: completed
    units are skipped via the metadata table.

    ``layout='wide'`` stores each encoded column as top-level
    (codec, meta, data, zone-map) parquet columns instead of one
    ``cols array<struct>`` — then :func:`decode_dataset` with a column
    subset reads ONLY those columns' payload bytes from disk (parquet
    column pruning on the STORED dataset), and zone-map columns land in
    parquet row-group statistics. The right layout for wide tables where
    queries touch a few columns; nested keeps one schema for any column
    set.

    ``presort=[cols...]`` reorders each unit's rows before blocking — one
    in-task vectorized sort, no shuffle. ``cluster='lex'`` (default) is
    the leading-column clustering (long RLE runs + tight zone maps on the
    first column); ``cluster='zorder'`` Morton-interleaves the columns'
    equi-depth rank buckets (:mod:`~xml2arrow_spark.operators.zorder`),
    so zone maps prune on EVERY clustered column — the multi-dimensional
    layout maintenance a 100 TB table needs when queries filter on more
    than one axis. Clustering is physical only (decode order changes,
    values never do) and is recorded in the sidecar; resuming with a
    different clustering refuses rather than mixing layouts."""
    if cluster not in ("lex", "zorder"):
        raise ValueError(f"unknown cluster {cluster!r}: use 'lex' or 'zorder'")
    import pyarrow.parquet as pq

    from xml2arrow_spark.operators.metadata import read_unit_ids

    # driver-side pyarrow read: the manifest is KB-scale metadata. Raises on
    # an unreadable manifest (resume must not re-encode and re-append
    # every unit). Done units leave the listing before the task plan.
    done = read_unit_ids(os.path.join(out_path, "manifest"))
    file_schema, resolved, bins = _fused_prologue(
        spark, in_path, manifest, n_tasks, done
    )
    plan = _encode_plan(resolved, list(resolved.columns), layout)

    blocks_dir = os.path.join(out_path, "blocks")
    os.makedirs(blocks_dir, exist_ok=True)

    # sidecar BEFORE the encode action (crash-safe placement tag; see
    # checkpoint.py::_check_placement for the rationale)
    from xml2arrow_spark.errors import ManifestError

    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in file_schema.fields
        if f.name in resolved.columns
    )
    if os.path.exists(os.path.join(out_path, MANIFEST_SIDECAR)):
        side = read_sidecar(out_path)
        if side.get("placement") != PLACEMENT_ID:
            raise ManifestError(
                f"dataset at {out_path!r} was written with unit placement "
                f"{side.get('placement')!r}; this engine uses "
                f"{PLACEMENT_ID!r} — refusing to resume"
            )
        prior_layout = side.get("layout", "nested")
        if prior_layout != layout:
            raise ManifestError(
                f"dataset at {out_path!r} was written with layout "
                f"{prior_layout!r}; resuming with {layout!r} would mix "
                f"incompatible blocks schemas"
            )
        prior_ddl = side.get("schema_ddl")
        if prior_ddl is not None and prior_ddl != schema_ddl:
            raise ManifestError(
                f"dataset at {out_path!r} was written with columns "
                f"[{prior_ddl}]; this run encodes [{schema_ddl}] — "
                f"resuming would mix incompatible block schemas"
            )
        prior_sort = (side.get("presort"), side.get("cluster", "lex"))
        if prior_sort != (list(presort) if presort else None, cluster):
            raise ManifestError(
                f"dataset at {out_path!r} was written with clustering "
                f"{prior_sort!r}; this run uses "
                f"{(presort, cluster)!r} — resuming would mix block "
                f"clusterings (zone pruning would silently degrade)"
            )
    elif done:
        raise ManifestError(
            f"dataset at {out_path!r} has a manifest table but no "
            f"{MANIFEST_SIDECAR} sidecar (pre-placement-tag layout); "
            f"cannot verify unit placement — re-encode from scratch"
        )
    write_sidecar(
        out_path,
        resolved.to_yaml()
        + f"\nschema_ddl: '{schema_ddl}'\nplacement: {PLACEMENT_ID}\n"
        + f"layout: {layout}\n"
        + (f"presort: {list(presort)}\ncluster: {cluster}\n" if presort else ""),
    )

    def write_unit(file_idx, fpath, rows):
        rows = list(rows)
        out_file = os.path.join(blocks_dir, f"blocks-u{file_idx:06d}.parquet")
        # deterministic name per unit -> task retries overwrite, never
        # duplicate (idempotent sink)
        pq.write_table(
            pa.Table.from_batches(rows, schema=plan.schema),
            out_file, compression="none",
        )
        yield {"unit_id": file_idx, "src_file": fpath, "out_file": out_file,
               **_file_totals(rows)}

    # eager: the manifest rows come back as dicts (sources/files.py::map_tasks)
    meta = _encode_files(spark, bins, plan, write_unit, None, presort, cluster)
    if meta:
        # manifest append AFTER the encode action completed (commit
        # ordering); driver-side atomic append — see operators/metadata.py
        # for why this never goes through a Spark write job
        import uuid

        from xml2arrow_spark.operators.metadata import append_rows

        append_rows(
            os.path.join(out_path, "manifest"),
            meta,
            METADATA_SCHEMA,
            f"manifest-{uuid.uuid4().hex}.parquet",
        )
    return dataset_metrics(spark, out_path)


def dataset_metrics(spark, out_path: str) -> dict:
    """Rollup of the metadata table: units/rows/values/bytes encoded so far.
    Driver-side pyarrow read — the manifest is metadata, not data."""
    from xml2arrow_spark.operators.metadata import sum_columns

    n, sums = sum_columns(
        os.path.join(out_path, "manifest"),
        ["n_blocks", "n_rows", "n_values", "in_bytes", "out_bytes"],
    )
    return {
        "units": n,
        "blocks": sums["n_blocks"],
        "rows": sums["n_rows"],
        "values": sums["n_values"],
        "in_bytes": sums["in_bytes"],
        "out_bytes": sums["out_bytes"],
    }


def dataset_column_stats(spark, out_path: str):
    """Exact per-column min/max of a STORED dataset from its zone maps —
    no payload decode, no kernels: per-block zone stats aggregate to exact
    table extrema for int/float columns whenever every block recorded
    stats (``n_unstated`` counts the blocks that withheld them — all-null,
    all-NaN, or ``zone_maps=False`` — so a nonzero count flags the extrema
    as lower/upper ESTIMATES rather than exact). String zone bounds are
    truncation-safe bounds, not exact extrema, and are reported as such.

    Also the metadata-only AGGREGATE surface (r05): per column it returns
    ``n_rows`` (exact row count), ``n_nonnull`` (exact COUNT(col)), and
    ``sum_i`` (exact SUM for integer/list-of-int columns) rolled up from
    the per-block ``n_null``/``zsum_i`` stats — so the everyday corpus
    accounting query (``count(*)``, ``count(col)``, ``sum(n_tok)`` over
    10^12 sequences) is a KB-per-block metadata scan, zero payload decode.
    Exactness is all-or-nothing, never approximate: ``n_nonnull``/``sum_i``
    are NULL unless EVERY block stated the stat (``n_sum_unstated`` counts
    the holdouts — non-integer columns, pre-stats datasets, blocks whose
    sum was not provably exact in int64, or ``zone_maps=False``).

    Returns a DataFrame (column, vmin_i, vmax_i, vmin_d, vmax_d, vmin_s,
    vmax_s, n_blocks, n_unstated, n_rows, n_nonnull, sum_i,
    n_sum_unstated). This is the query-planning surface the zone maps buy
    for free — the reader-side twin of parquet column statistics plus
    Spark's stats-based aggregate pushdown, at block granularity over the
    ENCODED payload."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_type

    from xml2arrow_spark.operators.encode import split_schema_ddl

    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name_ddl = split_schema_ddl(side["schema_ddl"])
    names = list(by_name_ddl)
    # temporal columns NEVER surface sum_i (r06 correctness fix, inherited
    # from r05): SQL has no SUM over timestamps/dates, and the declared
    # oracle pins sum_i = NULL for them unconditionally. The per-block
    # zsum_i ticks exist for the interior claims of count_where/
    # time_bucket and stay untouched; only this roll-up masks them.
    # (Latent before: a SMALL dataset's tick total fits int64 and leaked
    # a non-NULL sum, while larger ones refused — a scale-DEPENDENT
    # answer for the same query, caught at sf0.001.)
    _temporal = {
        n for n in names
        if _column_type(by_name_ddl, n).startswith(("timestamp", "date"))
    }
    blocks = spark.read.parquet(os.path.join(out_path, "blocks"))

    def stat(n, f):
        # a stat the blocks do not store (datasets written before the
        # aggregate stats existed) reads as NULL = unstated
        col = None if f == "zsum_i" and n in _temporal else zone_col(blocks, n, f)
        return col if col is not None else F.lit(None).cast(
            from_arrow_type(_STAT_FIELDS[f])
        )

    # ONE scan: every column's stat tuple unpivots in a single projection
    # (k separate selects would re-list and re-scan the blocks files k times)
    per_col = blocks.select(
        F.col("n_rows").alias("block_rows"),
        F.explode(F.array(*[
            F.struct(F.lit(n).alias("column"),
                     *[stat(n, f).alias(f) for f in _STAT_FIELDS])
            for n in names
        ])).alias("c"),
    ).select("block_rows", "c.*")
    # a block counts as unstated when it contributes no bounds at all, OR
    # when its string upper bound was withheld (un-incrementable truncated
    # prefix) — in both cases the aggregated extrema may understate
    unstated = (
        (
            F.col("vmin_i").isNull()
            & F.col("vmin_d").isNull()
            & F.col("vmin_s").isNull()
        )
        | (F.col("vmin_s").isNotNull() & F.col("vmax_s").isNull())
    ).cast("long")
    return per_col.groupBy("column").agg(
        F.min("vmin_i").alias("vmin_i"),
        F.max("vmax_i").alias("vmax_i"),
        F.min("vmin_d").alias("vmin_d"),
        F.max("vmax_d").alias("vmax_d"),
        # string bounds: exact when no block truncated; a truncated max is
        # a safe UPPER bound (the per-block bump rule) — still a valid
        # planning bound, never an understatement
        F.min("vmin_s").alias("vmin_s"),
        F.max("vmax_s").alias("vmax_s"),
        F.count("*").alias("n_blocks"),
        F.sum(unstated).alias("n_unstated"),
        F.sum("block_rows").alias("n_rows"),
        # exact or refused: any block that withheld the stat voids the
        # roll-up (NULL), it never degrades to an estimate
        F.when(
            F.count("n_null") == F.count(F.lit(1)),
            F.sum(F.col("block_rows") - F.col("n_null")),
        ).alias("n_nonnull"),
        F.when(
            F.count("zsum_i") == F.count(F.lit(1)), F.sum("zsum_i")
        ).alias("sum_i"),
        F.sum(F.col("zsum_i").isNull().cast("long")).alias("n_sum_unstated"),
    )


_CW_INT_TYPES = ("tinyint", "smallint", "int", "integer", "bigint", "long")


def _column_type(by_name: dict, col: str) -> str:
    """The stored type of column ``col``, lower-case, from the sidecar
    DDL's ``{name: "name type"}`` map; the one error of every operator
    for a column the dataset does not hold."""
    if col not in by_name:
        raise ValueError(
            f"dataset lacks encoded column {col!r}; it has {sorted(by_name)}"
        )
    return by_name[col].split(None, 1)[1].strip().lower()


def _resolve_conjuncts(by_name: dict, predicate, caller: str):
    """Driver-side predicate validation shared by the metadata-accelerated
    aggregates (:func:`count_where`, :func:`group_sum` / :func:`group_count`
    ``where=``): resolve each conjunct's value category up front so the
    executor-side block classifier and mask kernels are branch-free on
    types. ``predicate`` is one conjunct or a list (conjunction); each
    conjunct is either a 3-tuple ``(column, lo, hi)`` — inclusive range,
    either bound may be None for a one-sided range — or a 2-tuple
    ``(column, values)`` — an IN-list over a non-empty sequence of points
    (the same two shapes :func:`~xml2arrow_spark.operators.encode
    .decode_table`'s ``row_filter`` takes). Returns
    ``[(col, values, lo, hi, cat)]`` with ``cat`` in ``{'i','d','s'}``;
    ``values`` is None for range conjuncts, and lo/hi are None for
    IN-list conjuncts.

    ``predicate`` may also be an :class:`~xml2arrow_spark.operators
    .predicates.AnyOf` (``any_of(...)``) — a DISJUNCTION of such
    conjunctions (DNF), flattened by the one flattener
    :func:`~xml2arrow_spark.operators.predicates.dnf` into the flat
    conjunct list with the disjunct spans attached, so the per-conjunct
    stats fetching at every call site is unchanged and only the zone
    classifier :func:`_classify_where` and the row evaluator
    :func:`~xml2arrow_spark.operators.encode.apply_row_filters` (which
    reads each resolved conjunct's ``(col, values, lo, hi)``) see the OR
    structure."""
    from xml2arrow_spark.operators.predicates import dnf

    return dnf(predicate, lambda d: _resolve_conjunction(by_name, d, caller))


def _resolve_conjunction(by_name: dict, predicate, caller: str):
    """:func:`_resolve_conjuncts` of one conjunction (no ``any_of``)."""
    from xml2arrow_spark.operators.encode import normalize_zone_filters

    preds = normalize_zone_filters(predicate)
    if not preds:
        raise ValueError(f"{caller} needs at least one (column, lo, hi) predicate")
    conj: list[tuple] = []
    for pred in preds:
        if len(pred) == 2:
            col, values = pred
            values = list(values)
            lo = hi = None
            if not values:
                raise ValueError(
                    f"IN-list predicate on {col!r} needs at least one value"
                )
        else:
            col, lo, hi = pred
            values = None
        typ = _column_type(by_name, col)
        if typ.startswith(("array", "map", "struct")):
            raise ValueError(
                f"{caller} needs a scalar column; {col!r} is {typ}"
            )
        if values is None and lo is None and hi is None:
            raise ValueError(
                f"predicate on {col!r} needs at least one bound "
                "(lo, hi, or both); None means unbounded on that side"
            )
        present = values if values is not None else [
            b for b in (lo, hi) if b is not None
        ]
        if typ in _CW_INT_TYPES or typ.startswith("decimal"):
            if not all(
                isinstance(b, int) and not isinstance(b, bool) for b in present
            ):
                raise ValueError(f"{col!r} is {typ}: bounds must be int")
            cat = "i"
        elif typ in ("float", "double", "real"):
            if values is not None:
                values = [float(v) for v in values]
                if any(math.isnan(v) for v in values):
                    raise ValueError(
                        f"NaN in the IN-list for {col!r} can never match "
                        "(IEEE equality; SQL IN agrees)"
                    )
            lo = None if lo is None else float(lo)
            hi = None if hi is None else float(hi)
            if any(math.isnan(b) for b in (lo, hi) if b is not None):
                raise ValueError(f"NaN bound for {col!r} can never match")
            cat = "d"
        elif typ == "string":
            if not all(isinstance(b, str) for b in present):
                raise ValueError(f"{col!r} is string: bounds must be str")
            cat = "s"
        elif typ in ("timestamp", "timestamp_ntz", "date"):
            # temporal predicates are STORAGE-UNIT tick integers (micros
            # for Spark-written timestamps, days for date32) — the zone
            # stats and the mask kernel both operate in that unit, so int
            # bounds classify and evaluate exactly. datetime objects are
            # deliberately NOT accepted here: only the kernel sees a
            # block's actual arrow unit (a non-Spark parquet source may
            # carry ms/ns), and a driver-side unit guess could misprune.
            if not all(
                isinstance(b, int) and not isinstance(b, bool) for b in present
            ):
                raise ValueError(
                    f"{col!r} is {typ}: bounds must be storage-unit tick "
                    f"ints (epoch micros for Spark timestamps, days for "
                    f"dates)"
                )
            cat = "i"
        else:
            raise ValueError(f"{caller} does not support {col!r} of type {typ}")
        conj.append((col, values, lo, hi, cat))
    return conj


def _classify_where(conj, stats, rows):
    """The rows of a block of ``rows`` rows that provably match a
    conjunction, judged from the block's zone stats alone (per-conjunct
    (vmin, vmax, n_null); None = unstated): 0 when the block is PRUNED —
    some conjunct provably matches no row; ``rows`` when EVERY row
    provably matches — bounds inside on each bounded side of every
    conjunct and null-free filter columns; ``rows - n_null`` when one
    conjunct holds the block inside its bounds but its column has nulls,
    the matched rows then being exactly that column's non-null rows; else
    None (boundary: decode + mask). A multi-conjunct claim needs every
    filter column null-free: per-column null counts cannot reconstruct
    the union of null rows. Floats never count as inside (NaN is
    non-null yet fails BETWEEN, and zone stats skip it), but they prune.
    String bounds are truncation-safe (vmin understates the true min,
    vmax overstates the true max), so both tests stay sound.

    IN-list conjuncts (values set): pruned when every point falls outside
    [vmin, vmax]; inside only when the block is provably single-valued
    (vmin == vmax, truncation-safe) on a set member.

    Under a DNF predicate (``conj`` carries ``groups`` — see
    :func:`_resolve_conjuncts`) the per-disjunct answers combine as:
    pruned only when EVERY disjunct prunes; ``rows`` when ANY disjunct
    proves all its rows match; else None — a disjunct that matches only
    its column's non-null rows says nothing of the rows another disjunct
    may match."""
    groups = getattr(conj, "groups", None)
    if groups is not None:
        got = [
            _classify_where(list(conj[a:b]), stats[a:b], rows)
            for a, b in groups
        ]
        if all(g == 0 for g in got):
            return 0
        return rows if rows in got else None
    inside = True
    for (_col, values, lo, hi, cat), (vmin, vmax, n_null) in zip(conj, stats):
        if values is not None:
            if (
                vmin is not None
                and vmax is not None
                and all(v < vmin or vmax < v for v in values)
            ):
                return 0
            inside = inside and vmin is not None and vmin == vmax and (
                vmin in values
            )
        else:
            if (lo is not None and vmax is not None and vmax < lo) or (
                hi is not None and vmin is not None and hi < vmin
            ):
                return 0
            inside = (
                inside
                and (lo is None or (vmin is not None and lo <= vmin))
                and (hi is None or (vmax is not None and vmax <= hi))
            )
        inside = inside and cat != "d" and n_null is not None
    if not inside:
        return None
    if all(n_null == 0 for _vmin, _vmax, n_null in stats):
        return rows
    return rows - stats[0][2] if len(conj) == 1 else None


def _zones(conj, view, i):
    """Block ``i``'s zone triple per conjunct, read off a
    :class:`~xml2arrow_spark.operators.encode.BlockStats` view."""
    return [view.zone(col, i, cat) for col, _v, _l, _h, cat in conj]


def _fold_blocks_file(fpath, pq_mod, cols, conj, on_block, claim=None):
    """The one per-file block loop of every aggregate that folds blocks
    into a tally dict — the keyed fold (:func:`_keyed_fold`, count_where's
    too), time_bucket_count (with a metadata ``claim``) and the per-group
    distinct operators (pipeline/sketches.py, without one). Opens one
    :class:`~xml2arrow_spark.operators.encode.BlockStats` view over
    ``cols`` and the ``conj`` columns and judges each block by the shared
    zone classifier :func:`_classify_where` against the (possibly DNF)
    ``conj``: pruned and empty blocks drop. A block whose matched rows
    the metadata proves goes to ``claim(tally, view, i, rows)`` first,
    which folds those ``rows`` from metadata alone and returns True, or
    returns False; every other block decodes: ``on_block(tally, pairs,
    mask)`` with one (meta, payload) pair per ``cols`` entry, ``mask``
    the conjunction's row mask from
    :func:`~xml2arrow_spark.operators.encode.apply_row_filters` as a
    numpy array, None only when every row matches.
    Returns ``(tally, [blocks, pruned, claimed, decoded])``; a decoded
    block in which no row matched counts as decoded."""
    view = BlockStats(fpath, pq_mod, cols + [c[0] for c in conj or ()])
    tally: dict = {}
    kinds = [len(view), 0, 0, 0]
    for i in range(len(view)):
        n = view.n_rows(i)
        rows = n if conj is None else _classify_where(
            conj, _zones(conj, view, i), n
        )
        if not n or rows == 0:
            kinds[1] += 1
            continue
        if rows is not None and claim is not None and claim(tally, view, i, rows):
            kinds[2] += 1
            continue
        kinds[3] += 1
        mask = None
        if rows != n:
            fr = apply_row_filters(conj, lambda c, i=i: view.payload(c, i), ())
            if fr is None:
                continue
            mask = fr[0].to_numpy(zero_copy_only=False)
        on_block(tally, [view.payload(c, i) for c in cols], mask)
    return tally, kinds


def _file_groups(keys):
    """The per-file pre-pass of a keyed fold's dispatch
    (:meth:`~xml2arrow_spark.sources.files.BlockWalk.folds_on_driver`):
    ``file_groups(path, pyarrow.parquet)`` bounds the groups over ``keys``
    one file's partial can hold, from block metadata alone. A key bounds
    a block's distinct values by its codec header
    (:func:`~xml2arrow_spark.operators.blocks.header_distinct`), else by
    its int zone range ``vmax_i - vmin_i + 1``, else by the block's rows,
    plus one for a NULL group unless ``n_null`` states 0; a composite
    key's block bound is the product of its keys' bounds. A file's bound
    is the least of its rows, the sum of its block bounds and the product
    over keys of the file-wide key bound (the sum of the key's block
    bounds, or its int range over the file when every block states one,
    plus one for NULL). Keys are the only columns opened, and no payload
    bytes are read on either layout."""
    from xml2arrow_spark.operators.blocks import header_distinct

    def key_groups(view, col, i):
        """(distinct non-null values, 1 if a NULL may occur) in block i"""
        n = header_distinct(view.stat(col, "meta", i))
        if n is None:
            lo, hi = view.stat(col, "vmin_i", i), view.stat(col, "vmax_i", i)
            n = view.n_rows(i) if lo is None or hi is None else hi - lo + 1
        return n, int(view.stat(col, "n_null", i) != 0)

    def file_groups(fpath, pq_mod):
        view = BlockStats(fpath, pq_mod, [], keys)
        blocks = range(len(view))
        per = {c: [key_groups(view, c, i) for i in blocks] for c in keys}
        bound = sum(
            math.prod(sum(per[c][i]) for c in keys) for i in blocks
        )
        whole = 1
        for c in keys:
            n = sum(d for d, _z in per[c])
            lo = [view.stat(c, "vmin_i", i) for i in blocks]
            hi = [view.stat(c, "vmax_i", i) for i in blocks]
            if lo and None not in lo and None not in hi:
                n = min(n, max(hi) - min(lo) + 1)
            whole *= n + any(z for _d, z in per[c])
        rows = sum(view.n_rows(i) for i in blocks)
        return min(rows, bound, whole)

    return file_groups


def count_where(
    spark,
    out_path: str,
    predicate,
    agg_col: str | None = None,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
):
    """Exact ``COUNT(*) [, SUM/MIN/MAX(agg_col)] WHERE ...`` over a STORED
    dataset, metadata-accelerated per block — the small-materialized-
    aggregates move (Moerkotte, VLDB 1998) applied to the predicate
    count. It is the keyed fold with no key, SQL's ``GROUP BY ()``
    (:func:`_keyed_file` per file, :func:`_driver_fold` over the files):
    blocks whose zone bounds provably miss a conjunct are PRUNED; blocks
    whose matched rows :func:`_classify_where` proves are counted, and
    aggregated, from metadata alone (INTERIOR); only the rest decode, and
    only the filter and agg columns (wide layout: no other column is read
    off disk). At 10^12 rows the everyday accounting query ("how many
    sequences have n_tok between a and b") becomes a metadata scan plus
    a decode of the boundary slice — on range-clustered data
    (``presort``) two blocks per unit, not the corpus.

    ``predicate`` is one conjunct or a list (conjunction) of the shapes
    :func:`_resolve_conjuncts` takes — ``(column, lo, hi)`` with either
    bound None for a one-sided range, or ``(column, values)``, an IN-list
    — or an :func:`~xml2arrow_spark.operators.predicates.any_of`
    disjunction of such conjunctions. NULL and NaN rows never match, as
    in SQL WHERE.

    ``agg_col`` (integer columns only: a metadata roll-up cannot
    reproduce an order-dependent float fold) adds ``SUM/MIN/MAX(agg_col)``
    over the matched rows — nulls skipped, NULL when no non-null value
    matched. An interior block contributes its exact ``zsum_i`` and zone
    extrema only when they ARE the matched rows' aggregates: every row
    matches, or the single filter column is ``agg_col``; otherwise it
    decodes. A total outside int64 refuses rather than wrapping.

    The per-file partials fold on the driver on both
    :class:`~xml2arrow_spark.sources.files.BlockWalk` paths (driver loop
    up to ``local_bytes``, else one fan-out job), so the call is eager.
    Returns a ONE-ROW DataFrame ``(n_match, n_blocks, n_pruned,
    n_interior, n_boundary[, n_sum, n_min, n_max])``: ``n_interior``
    counts the blocks answered from metadata, ``n_boundary`` the decoded
    ones — the classification telemetry that makes the skip rates
    observable.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    _refuse_pending_tombstones(out_path)
    by_name = split_schema_ddl(read_sidecar(out_path)["schema_ddl"])
    conj = _resolve_conjuncts(by_name, predicate, "count_where")
    aggs = [] if agg_col is None else [agg_col]
    for a in aggs:
        typ = _column_type(by_name, a)
        if typ not in _CW_INT_TYPES:
            raise ValueError(f"agg_col must be an integer column; {a!r} is {typ}")
    total, kinds = _driver_fold(
        spark, BlockWalk(out_path, local_bytes),
        _keyed_file([], aggs, conj, by_name, False), n_tasks, aggs,
        "count_where",
    )
    cnt, *trips = total.get((), [0] + [(0, 0, None, None)] * len(aggs))
    row = [cnt, *kinds]
    for nn, sm, mn, mx in trips:
        row += [sm if nn else None, mn, mx]
    return local_frame(spark, (
        "n_match long, n_blocks long, n_pruned long, n_interior long, "
        "n_boundary long" + (", n_sum long, n_min long, n_max long" if aggs else "")
    ), [row])


def _key_columns(key, by_name: dict, caller: str) -> list[str]:
    """A group key — one column name or a list of them (a COMPOSITE key)
    — as its validated list of key columns: each must be a stored scalar
    int/string/bool/decimal column. Float keys are refused because SQL
    groups NaNs together and IEEE equality does not, list keys because a
    list is not one value."""
    keys = [key] if isinstance(key, str) else list(key)
    if not keys:
        raise ValueError(f"{caller} needs at least one key column")
    for k in keys:
        typ = _column_type(by_name, k)
        if "float" in typ or "double" in typ or "array" in typ:
            raise ValueError(
                f"{caller} needs scalar int/string/bool/decimal key(s), got "
                f"{k} {typ} (SQL groups NaNs together, IEEE equality does "
                f"not — a float group-by is not portable)"
            )
    return keys


def _keyed_file(keys, agg_cols, conj, by_name, with_sum_sq):
    """The per-file routine of every keyed fold, ``(path,
    pyarrow.parquet) -> (tally, kinds)``: one file's ``{key tuple: [cnt,
    (nn, sum, mn, mx[, sumsq]) per agg]}`` and its block counts
    (:func:`_fold_blocks_file`). Blocks that survive the zone classifier
    fold through
    :func:`~xml2arrow_spark.operators.blocks.fold_group_aggs` (key codes
    off the code streams, each agg column decoded once), merged by
    :func:`~xml2arrow_spark.operators.blocks.merge_aggs`; no key at all
    is count_where's one group ``()``.

    One metadata claim folds a block without its payload when its matched
    rows are proven, every key column is provably constant in it —
    all-null (stated ``n_null`` equals the block's rows), or null-free
    with ``vmin == vmax`` on an int or string zone (truncation-safe:
    stored string bounds are only equal when neither was truncated) —
    and every agg column states its exact ``zsum_i`` and ``n_null``, and
    its extrema when a non-null value exists. Those stats are the matched
    rows' aggregates when every row matches, or when the one filter
    column matched its non-null rows and IS the agg column. Bool/decimal/
    temporal keys carry no usable zone pair and never claim, and no block
    claims under ``with_sum_sq`` (no stat stores a sum of squares)."""
    cats = []
    for k in keys:
        typ = _column_type(by_name, k)
        cats.append("i" if typ in _CW_INT_TYPES else "s" if typ == "string" else None)

    def _claim(tally, view, i, rows):
        br = view.n_rows(i)
        if rows != br and any(a != conj[0][0] for a in agg_cols):
            return False  # the block stats are not the matched rows'
        kt = []
        for k, cat in zip(keys, cats):
            vmin, vmax, n_null = view.zone(k, i, cat)
            if n_null == br:
                kt.append(None)
            elif n_null == 0 and vmin is not None and vmin == vmax:
                kt.append(vmin)
            else:
                return False
        row = [rows]
        for a in agg_cols:
            zsum, a_null, amin, amax = (
                view.stat(a, f, i) for f in ("zsum_i", "n_null", "vmin_i", "vmax_i")
            )
            if zsum is None or a_null is None:
                return False
            nn = br - a_null
            if nn and (amin is None or amax is None):
                return False  # extrema unstated: the kernel folds it
            row.append((nn, zsum, amin if nn else None, amax if nn else None))
        merge_aggs(tally, tuple(kt), row)
        return True

    def _block(tally, pairs, mask):
        for kt, row in fold_group_aggs(
            pairs[:len(keys)], pairs[len(keys):], mask, with_sum_sq
        ).items():
            merge_aggs(tally, kt, row)

    def per_file(fpath, pq_mod):
        return _fold_blocks_file(
            fpath, pq_mod, keys + agg_cols, conj, _block,
            None if with_sum_sq or None in cats else _claim,
        )

    return per_file


def _driver_fold(spark, walk, per_file, n_tasks, agg_cols, caller):
    """Every file's keyed partial (:meth:`~xml2arrow_spark.sources.files
    .BlockWalk.partials`, either path) merged on the driver: returns
    ``(total, [blocks, pruned, claimed, decoded])``. A sum (or sum of
    squares) outside int64 refuses. This is the one int64 rule of every
    metadata aggregate: partials are exact python ints and only the
    TOTAL is checked, on every path (the Spark combine raises the same
    text)."""
    total: dict = {}
    kinds = [0, 0, 0, 0]
    for part, n in walk.partials(spark, per_file, n_tasks):
        for kt, row in part.items():
            merge_aggs(total, kt, row)
        kinds = [a + b for a, b in zip(kinds, n)]
    for kt, (_c, *trips) in total.items():
        for (_nn, sm, _mn, _mx, *sq), a in zip(trips, agg_cols):
            for tot in (sm, *sq):
                if not (-(1 << 63) <= tot < (1 << 63)):
                    key = f" for key {', '.join(map(str, kt))}" if kt else ""
                    raise ArithmeticError(
                        f"{caller} total of {a!r}{key} is {tot}, outside "
                        f"int64; refusing rather than wrapping (ANSI contract)"
                    )
    return total, kinds


def _keyed_fold(
    spark, out_path, key, agg_cols, by_name, n_tasks, local_bytes, where,
    with_sum_sq,
):
    """The one keyed GROUP BY behind :func:`group_count`,
    :func:`group_aggs`/:func:`group_sum`, :func:`exact_quantiles` and
    :func:`value_histogram`, for one key column or several: ``SELECT
    keys, COUNT(*)[, nn/sum/min/max(a) per a in agg_cols] [WHERE ...]
    GROUP BY keys``. With no ``agg_cols`` it is the count; per file it
    runs :func:`_keyed_file` (and :func:`count_where` runs it with no
    key).

    Dispatch is :meth:`~xml2arrow_spark.sources.files.BlockWalk
    .folds_on_driver`: while block metadata bounds the groups, every
    file's partial folds on the driver (:func:`_driver_fold`); past the
    bound, ``fan_out`` plus one Spark combine, which sums as
    ``decimal(38,0)``. Either way a total outside int64 refuses, with
    the same text. Returns ``(keys, cnt[, nn_a, sum_a, min_a, max_a[,
    sumsq_a]] ...)`` with the keys' original types; the aggregates of a
    group with no non-null value are NULL."""
    caller = "group_aggs" if agg_cols else "group_count"
    keys = _key_columns(key, by_name, caller)
    for a in agg_cols:
        typ = _column_type(by_name, a)
        if typ not in _CW_INT_TYPES:
            raise ValueError(
                f"group_aggs needs integer agg columns, got {a} {typ}: "
                f"float folds are order-dependent and these aggregates "
                f"never approximate (count_where's rule)"
            )
    conj = (
        _resolve_conjuncts(by_name, where, caller) if where is not None else None
    )
    per_file = _keyed_file(keys, agg_cols, conj, by_name, with_sum_sq)

    key_ddl = ", ".join(by_name[k] for k in keys)
    walk = BlockWalk(out_path, local_bytes)
    if walk.folds_on_driver(_file_groups(keys)):
        total, _kinds = _driver_fold(
            spark, walk, per_file, n_tasks, agg_cols, caller
        )
        rows = []
        for kt, (c, *trips) in total.items():
            flat = [*kt, c]
            for nn, sm, mn, mx, *sq in trips:
                flat += [nn, sm if nn else None, mn, mx]
                flat += [x if nn else None for x in sq]
            rows.append(flat)
        return local_frame(spark, key_ddl + ", cnt bigint" + "".join(
            f", nn_{a} bigint, sum_{a} bigint, min_{a} bigint, max_{a} bigint"
            + (f", sumsq_{a} bigint" if with_sum_sq else "")
            for a in agg_cols
        ), rows)

    # the Spark combine, built from SQL expression strings: each
    # aggregate is one F.expr, not a dozen py4j-backed Column calls
    from pyspark.sql import functions as F

    def q(name):
        return "`" + name.replace("`", "``") + "`"

    def lit(text):
        return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"

    fields = ("nn", "s", "mn", "mx", "ssq")[:5 if with_sum_sq else 4]
    key_txt = "concat_ws(', ', " + ", ".join(
        f"coalesce(cast({q(k)} AS string), 'None')" for k in keys
    ) + ")"

    def total(part, i, a):
        # the partial sums ship as decimal(38,0), which holds any file's
        # exact sum, so a total outside int64 refuses with the driver
        # fold's text, not ANSI's ARITHMETIC_OVERFLOW; NULL when the
        # group has no value
        s = f"sum({part}{i})"
        refuse = (
            f"raise_error(concat({lit(f'{caller} total of {a!r} for key ')}, "
            f"{key_txt}, ' is ', cast({s} AS string), ', outside int64; "
            f"refusing rather than wrapping (ANSI contract)'))"
        )
        return (
            f"CASE WHEN sum(nn{i}) > 0 THEN coalesce(try_cast({s} AS bigint), "
            f"{refuse}) END"
        )

    aggs = ["sum(cnt) AS cnt"]
    for i, a in enumerate(agg_cols):
        aggs += [
            f"sum(nn{i}) AS {q('nn_' + a)}",
            f"{total('s', i, a)} AS {q('sum_' + a)}",
            f"min(mn{i}) AS {q('min_' + a)}",
            f"max(mx{i}) AS {q('max_' + a)}",
        ]
        if with_sum_sq:
            aggs.append(f"{total('ssq', i, a)} AS {q('sumsq_' + a)}")

    def part_rows(part):
        # nn==0 partials carry sum 0 (never NULL) so the combine's sum
        # stays total-order deterministic; the CASE restores SQL's NULL
        # (min/max partials carry NULL, which min/max skip)
        tally, _kinds = part
        return [(*kt, c, *(x for t in trips for x in t))
                for kt, (c, *trips) in tally.items()]

    part_ddl = f"{key_ddl}, cnt bigint" + "".join(
        f", {x}{i} {'decimal(38,0)' if x in ('s', 'ssq') else 'bigint'}"
        for i in range(len(agg_cols)) for x in fields
    )
    return walk.fan_out(spark, per_file, part_rows, part_ddl, n_tasks).groupBy(
        *keys
    ).agg(*(F.expr(e) for e in aggs))


def group_count(
    spark,
    out_path: str,
    column,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """Exact ``SELECT column, COUNT(*) [WHERE ...] GROUP BY column`` over a
    STORED dataset, computed on the codec streams: the keyed fold
    (:func:`_keyed_fold`) with no aggregates, so per block
    :func:`~xml2arrow_spark.operators.blocks.group_codes` lifts the
    dict/rle/pdict/dict_str code stream as the group codes — the group
    column's values are never materialized for those codecs (other codecs
    decode and dictionary-encode; exactness is identical either way and
    pinned per codec) — and
    :func:`~xml2arrow_spark.operators.blocks.fold_group_aggs` counts
    them. Per-file partial tallies then fold on the driver, or, above the
    valve when block metadata cannot bound their groups, aggregate
    through one KB-scale shuffle keyed on the group value.

    ``column`` may be a LIST of columns — a COMPOSITE key whose codes
    combine mixed-radix into one int64 code per row, so "rows per
    (source, language)" prices the key columns' code streams; SQL
    semantics, every NULL combination its own group.

    On KEY-CLUSTERED data (``presort`` by the key) a block whose zone
    bounds prove every key column constant — single-valued (null-free,
    vmin == vmax, truncation-safe for strings) or ALL-NULL (stated null
    count == block rows) — contributes ``(key, n_rows)`` from metadata
    without touching payload bytes at all. Bool/decimal keys carry no
    usable zone pair and always take the kernel; exactness is identical
    either way.

    This is the everyday corpus-composition query ("rows per source /
    language / shard") at 10^12 rows: the payload cost is one column's
    code streams, the shuffle carries (distinct value, count) pairs per
    file — not rows. Intended for group keys of low/moderate cardinality;
    for planning-scale cardinality ESTIMATES use the KMV sketch
    (pipeline/sketches.py), which never shuffles values at all.

    SQL semantics: NULL is its own group (emitted with a NULL key). Float
    group keys are refused up front — SQL groups NaNs together, IEEE
    equality does not, so a float group-by cannot be reproduced portably.

    ``where`` (one ``(column, lo, hi)`` range or ``(column, values)``
    IN-list conjunct, or a list of them — a conjunction;
    either bound may be None, the same contract as :func:`count_where` /
    :func:`group_sum`) restricts the count to the matching rows: blocks
    whose zone stats provably MISS a conjunct skip unread, blocks whose
    matched rows the zone stats prove (:func:`_classify_where`: inside
    every conjunct with null-free filter columns, or inside one conjunct
    whose column's non-null rows are then the match; floats never claim)
    count from metadata like the unfiltered path, and only the other
    blocks evaluate the predicate — codec-aware on the filter column's dict/run
    streams — and feed the row mask into the masked kernel. Groups
    with zero matching rows are absent, exactly as SQL's WHERE-before-
    GROUP-BY.

    Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk` (``local_bytes``
    sizes the driver-local path; above it, one fan-out job whose partials
    fold on the driver while
    :meth:`~xml2arrow_spark.sources.files.BlockWalk.folds_on_driver`
    bounds their groups, else a Spark combine); the paths are pinned
    equal in tests/test_dataset.py and tests/test_driver_fold.py.

    Returns a DataFrame ``(column..., cnt)`` with the columns' original
    types.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    _refuse_pending_tombstones(out_path)
    by_name = split_schema_ddl(read_sidecar(out_path)["schema_ddl"])
    return _keyed_fold(
        spark, out_path, column, [], by_name, n_tasks, local_bytes, where,
        False,
    )


def group_aggs(
    spark,
    out_path: str,
    key,
    agg_cols: list[str],
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
    with_sum_sq: bool = False,
):
    """Exact ``SELECT key, COUNT(*), COUNT/SUM/MIN/MAX(a) for a in
    agg_cols [WHERE ...] GROUP BY key`` over a STORED dataset in ONE
    pass: the keyed fold (:func:`_keyed_fold`), so the key's group codes
    come off the codec streams once
    (:func:`~xml2arrow_spark.operators.blocks.group_codes` —
    dict/rle/pdict/dict_str key values never materialize) and every agg
    column decodes once per block into the exact hi/lo-split python-int
    fold (:func:`~xml2arrow_spark.operators.blocks.fold_group_aggs`) —
    the multi-aggregate accounting query ("rows, tokens, chars per
    source") prices one key stream + m agg streams, never m scans.
    ``key`` may be a LIST of columns (a COMPOSITE key, "tokens + chars
    per (source, language)").

    Semantics per agg column are :func:`group_sum`'s exactly (NULL agg
    values skipped, ``sum_<c>`` NULL when a group has no non-null value,
    totals outside int64 REFUSE); NULL key is its own group; float/list
    keys and float agg columns are refused (NaN grouping and float-fold
    order are not portable).

    On KEY-CLUSTERED data the metadata claim carries over: a block whose
    zone bounds prove every key column constant (single-valued or
    all-null) contributes ``(key, n_rows, zsum/extrema per agg)`` without
    touching payload — but only when EVERY agg column's exact block stats
    are stated (one unprovable column downgrades the whole block to the
    kernel; results identical either way).

    ``where`` takes the same range / IN-list conjunctions as
    :func:`count_where` — pruned / interior / boundary classification
    composes with the masked multi-agg kernel. A block inside one
    conjunct whose column has nulls matches that column's non-null rows
    and still claims when every agg column IS the filter column.

    ``with_sum_sq=True`` adds an exact ``sumsq_<c>`` per agg column (the
    sum of squares; NULL when the group has no non-null value), making
    variance/stddev exactly derivable from ``(nn, sum, sumsq)``. Each
    |value| must stay <= floor(sqrt(2^63-1)) so every square fits int64 —
    larger magnitudes REFUSE (the ANSI contract; a sum of squares cannot
    be range-split like the linear sum). No block stat stores a sum of
    squares, so metadata claims are disabled under the flag: claimable
    blocks downgrade to the kernel, results exact either way.

    Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk`, dispatched as
    :func:`group_count`; a total outside int64 refuses on every path.
    Returns a DataFrame
    ``(key, cnt, nn_<c>, sum_<c>, min_<c>, max_<c> [, sumsq_<c>] ...)``
    with the key's original type.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    if not agg_cols:
        raise ValueError("group_aggs needs at least one agg column")
    _refuse_pending_tombstones(out_path)
    by_name = split_schema_ddl(read_sidecar(out_path)["schema_ddl"])
    return _keyed_fold(
        spark, out_path, key, list(agg_cols), by_name, n_tasks, local_bytes,
        where, with_sum_sq,
    )


def group_sum(
    spark,
    out_path: str,
    key: str,
    agg_col: str,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """Exact ``SELECT key, COUNT(*), COUNT(agg), SUM(agg), MIN(agg),
    MAX(agg) [WHERE ...] GROUP BY key`` over a STORED dataset — the
    single-agg view of :func:`group_aggs` (one kernel,
    :func:`~xml2arrow_spark.operators.blocks.fold_group_aggs`, one claim
    rule, one dispatch; see :func:`_keyed_fold` for the execution story:
    codec-stream key codes, exact hi/lo-split folds, zone-metadata claims
    on key-clustered blocks, range/IN-list ``where`` composition, ANSI
    refusal outside int64). Kept as the stable everyday API and pinned
    hard in tests/test_count_where.py (tamper pins, dual-path equality,
    oracle gates).

    Returns a DataFrame ``(key, cnt, n_nonnull, sum_a, min_a, max_a)``
    with the key's original type; the three aggregates are NULL for a
    group with no non-null agg value.
    """
    df = group_aggs(
        spark, out_path, key, [agg_col],
        n_tasks=n_tasks, local_bytes=local_bytes, where=where,
    )
    return df.withColumnsRenamed({
        f"nn_{agg_col}": "n_nonnull",
        f"sum_{agg_col}": "sum_a",
        f"min_{agg_col}": "min_a",
        f"max_{agg_col}": "max_a",
    })


def _topk_trim(tally: dict, k: int, descending: bool):
    """Trim a value->count tally to the smallest prefix (in rank order)
    whose cumulative count reaches ``k``; returns the k-th ranked value
    (the early-termination threshold) or None while fewer than ``k``
    values have been seen. Keeping only that prefix bounds the tally at
    k+1 distinct values no matter how many blocks fold in."""
    items = sorted(tally.items(), key=lambda t: t[0], reverse=descending)
    cum = 0
    kth = None
    for i, (v, c) in enumerate(items):
        cum += c
        if cum >= k:
            kth = v
            for drop, _c in items[i + 1:]:
                del tally[drop]
            break
    return kth


def top_k(
    spark,
    out_path: str,
    column: str,
    k: int,
    descending: bool = True,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """Exact ``SELECT column FROM t WHERE column IS NOT NULL ORDER BY
    column [DESC] LIMIT k`` over a STORED dataset — the top-k pushdown,
    zone-ordered with sound early termination (the small-materialized-
    aggregates move applied to ORDER BY ... LIMIT):

    - blocks are visited in zone-bound rank order (vmax descending for
      the default, vmin ascending for ``descending=False``; blocks with
      missing stats are visited FIRST — they can never be skipped);
    - each visited block folds its per-value tally through
      :func:`~xml2arrow_spark.operators.blocks.value_counts_column`
      (dict/rle/pdict/dict_str code streams — the column's values never
      materialize per row for those codecs), trimmed to the best k;
    - once k values are held, a block whose zone bound cannot beat the
      current k-th value is SKIPPED, and because blocks are rank-ordered
      every block after it skips too — on value-clustered data
      (``presort``) the scan touches a handful of blocks out of the
      corpus. The skip is sound for truncation-safe string bounds: a
      bumped vmax overstates the true max, so ``vmax <= kth`` still
      proves no contained value can enter the top k (extra ties cannot
      change the first-k multiset); mirrored for understated vmin
      ascending.

    Float columns are refused: both Spark and SQL engines order NaN above
    every value, but zone stats skip NaN, so a metadata skip could drop
    NaN rows — engine-defined results are never returned. NULLs never
    rank (SQL NULLS LAST under LIMIT semantics): the result is the k
    largest/smallest NON-NULL values, with multiplicity; fewer than k
    rows come back when the dataset has fewer non-null values.

    Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk`, with one routine
    per path. Driver-side: one pass collects every block's rank bound
    (wide layout: a zone stats column, payload untouched), then one
    GLOBALLY rank-ordered visit folds blocks until the threshold closes —
    payload is read per file only when some block of it is actually
    visited. Above the threshold, a driver pre-pass computes the
    k-th best GUARANTEED-CONTAINED zone value (vmax for int descending —
    the zone max IS a contained value; vmin for strings, whose bumped
    vmax may not be) with one column-pruned Spark scan over the blocks
    metadata, then each file task runs the rank-ordered routine over ITS
    blocks seeded with that global threshold — a task whose best block
    cannot beat it skips the whole file after a single stats read. Each
    file's (value -> count) tally, bounded by k per file, comes back
    through :meth:`~xml2arrow_spark.sources.files.BlockWalk.partials` and
    merges on the driver, so the call is eager on both paths. Both paths
    pinned equal — and pinned to SKIP, via payload tampering — in tests.

    ``where`` (the same range / IN-list conjunctions as
    :func:`count_where`) restricts the ranking to the matching rows:
    predicate-pruned blocks drop before the walk, provably-inside blocks
    fold unmasked, and straddling blocks evaluate the conjunction
    codec-aware and fold MASKED tallies — the rank skip stays sound under
    a mask (masking only removes rows; the zone bound still dominates
    every survivor). The distributed tau pre-pass is disabled under a
    predicate (zone counts prove values exist, not that they match);
    per-file walks still early-terminate on their own tallies.

    Returns a DataFrame with one column (the original name and type), k
    rows, sorted in rank order.
    """
    import pyarrow.compute as pc

    from xml2arrow_spark.operators.encode import split_schema_ddl

    if k < 1:
        raise ValueError(f"top_k needs k >= 1, got {k}")
    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    conj = (
        _resolve_conjuncts(by_name, where, "top_k")
        if where is not None
        else None
    )
    col_type = _column_type(by_name, column)
    if col_type in ("float", "double", "real"):
        raise ValueError(
            f"top_k refuses float columns ({column} is {col_type}): zone "
            "stats skip NaN, which SQL engines order above every value — "
            "a metadata skip could silently drop NaN rows"
        )
    if col_type.startswith(("array", "map", "struct")):
        raise ValueError(f"top_k needs a scalar column; {column!r} is {col_type}")
    cat = (
        "i" if col_type in _CW_INT_TYPES
        else "s" if col_type == "string"
        else None
    )
    kz = _ZONE_SUFFIXES[cat] if cat is not None else None
    sort_order = "descending" if descending else "ascending"
    # the rank bound that can SKIP a block: the side the top of the order
    # lives on (vmax for descending, vmin for ascending) — over-/under-
    # statement of truncated string bounds only ever under-skips
    bound_field = (kz[1] if descending else kz[0]) if kz else None
    # the INNER zone bound every non-null value provably beats-or-ties
    # (descending: every value >= vmin — sound even for a truncated
    # string vmin, which UNDERSTATES the true min; ascending: every
    # value <= vmax, a bumped string vmax only overstates) — paired with
    # the block's non-null count it proves "this block holds cnt values
    # at least this good", the distributed global threshold's evidence
    guaranteed_field = (kz[0] if descending else kz[1]) if kz else None

    def _beats(b, t):
        """True when a block bounded by ``b`` could still contribute —
        i.e. strictly beats threshold ``t`` in rank order."""
        return t < b if descending else b < t

    def _scan_blocks(fpath, pq_mod):
        """One file's blocks as [(rank bound, matched, view, i)]: the
        bound (None = unknown, never skippable) and the rows the
        predicate provably matches (:func:`_classify_where`; 0 = pruned,
        None = unknown) come off the file's BlockStats view; payload is
        read only on the first block the walk actually folds."""
        view = BlockStats(
            fpath, pq_mod, [column] + [c[0] for c in conj or ()]
        )
        return [
            (
                view.stat(column, bound_field, i) if bound_field else None,
                view.n_rows(i) if conj is None
                else _classify_where(conj, _zones(conj, view, i), view.n_rows(i)),
                view,
                i,
            )
            for i in range(len(view))
        ]

    def _visit(order, tally, kth0=None):
        """Fold blocks in rank order into ``tally`` until the threshold
        closes; ``order`` is [(bound, matched, view, i)] with unknown
        bounds first. Returns the final k-th value. Predicate-pruned
        blocks ``continue`` (the predicate skip is not rank-ordered);
        blocks not every row of which matches evaluate the conjunction
        codec-aware and fold MASKED tallies — the rank skip stays sound under a mask, because masking
        only removes rows and the zone bound still dominates every
        surviving value.

        Two skip rules, both monotone in the rank order (so the first
        skip ends the walk): against the OWN k-th value the skip may take
        ties — the tally already holds k values at least as good, so
        extra copies of the k-th cannot change the first-k multiset —
        but against the SEEDED global threshold ``kth0`` (distributed
        mode: the k-th best provably-contained zone value, proving only
        that k values >= it exist SOMEWHERE) the skip must be STRICT: a
        block bounded exactly at it may hold the very copies the global
        top k needs."""
        kth = None
        for b, matched, view, i in order:
            if b is not None and (
                (kth is not None and not _beats(b, kth))
                or (kth0 is not None and _beats(kth0, b))
            ):
                break  # rank-ordered: every later block skips too
            mask = None
            if matched != view.n_rows(i):
                fr = apply_row_filters(
                    conj, lambda c, view=view, i=i: view.payload(c, i), ()
                )
                if fr is None:
                    continue  # no row matched the predicate
                mask = fr[0].to_numpy(zero_copy_only=False)
            vals, counts, _n_null = value_counts_column(
                *view.payload(column, i), mask=mask
            )
            # only the block's k best entries can rank: each kept entry
            # counts at least one row, so any other holds k rows at least
            # as good (zero-count entries prove nothing and drop first)
            keep = counts > 0
            vals, counts = vals.filter(pa.array(keep)), counts[keep]
            if len(vals) > k:
                best = pc.select_k_unstable(vals, k, [("v", sort_order)])
                vals, counts = vals.take(best), counts[best.to_numpy()]
            for v, c in zip(vals.to_pylist(), counts.tolist()):
                tally[v] = tally.get(v, 0) + c
            kth = _topk_trim(tally, k, descending)
        return kth

    def _rank_order(items):
        """[(bound, matched, view, i)] -> unknown-bound blocks first
        (never skippable), then rank order; predicate-pruned blocks drop
        here — they can never contribute, whatever their rank."""
        items = [e for e in items if e[1] != 0]
        unknown = [e for e in items if e[0] is None]
        known = sorted(
            (e for e in items if e[0] is not None),
            key=lambda e: e[0],
            reverse=descending,
        )
        return unknown + known

    def _finish(total: dict):
        _topk_trim(total, k, descending)
        out = []
        for v in sorted(total, reverse=descending):
            out.extend([v] * total[v])
            if len(out) >= k:
                break
        return local_frame(spark, by_name[column], [(v,) for v in out[:k]])

    walk = BlockWalk(out_path, local_bytes)
    if walk.local:
        # pass 1: every block's rank bound (off the stats alone);
        # pass 2: ONE globally rank-ordered visit — payload IO happens per
        # file only when some block of it is actually folded
        total: dict = {}
        _visit(_rank_order([
            e for blocks in walk.partials(spark, _scan_blocks) for e in blocks
        ]), total)
        return _finish(total)

    # distributed: one column-pruned Spark scan over the blocks METADATA
    # computes the global threshold tau — the best zone value such that
    # the blocks' inner bounds + non-null counts PROVE k values at least
    # that good exist — so file tasks can skip whole files the rank
    # order proves out. Each contributing block holds >= 1 value, so the
    # top k blocks by inner bound always suffice: orderBy + LIMIT k (a
    # TakeOrdered, no global sort), cumulative-count walk driver-side.
    # Conservative when stats are missing (tau=None visits everything).
    from pyspark.sql import functions as F

    # under a predicate tau is unavailable: inner bounds + counts prove
    # values EXIST, not that they survive the filter — per-file rank
    # walks still early-terminate on their own tallies
    tau = None
    if guaranteed_field is not None and conj is None:
        blocks_df = spark.read.parquet(os.path.join(out_path, "blocks"))
        gcol = zone_col(blocks_df, column, guaranteed_field)
        nncol = zone_col(blocks_df, column, "n_null")
        if gcol is not None and nncol is not None and (
            "n_rows" in blocks_df.columns
        ):
            g = blocks_df.select(
                gcol.alias("g"), (F.col("n_rows") - nncol).alias("cnt")
            ).where(F.col("g").isNotNull() & (F.col("cnt") > 0))
            rows = g.orderBy(
                F.desc("g") if descending else F.asc("g")
            ).limit(k).collect()
            cum = 0
            for r in rows:
                cum += r["cnt"]
                if cum >= k:
                    tau = r["g"]
                    break

    def _walk_file(fpath, pq_mod):
        """One file's rank-ordered walk seeded with the global ``tau``."""
        tally: dict = {}
        _visit(_rank_order(_scan_blocks(fpath, pq_mod)), tally, kth0=tau)
        return tally

    # per-file partials are bounded by k+1 distinct values each — KB-scale
    # metadata, merged driver-side (the repo's KB-metadata ground rule: a
    # second Spark job would cost more than the merge)
    total: dict = {}
    for tally in walk.partials(spark, _walk_file, n_tasks):
        for v, c in tally.items():
            total[v] = total.get(v, 0) + c
    return _finish(total)


def exact_quantiles(
    spark,
    out_path: str,
    column: str,
    q_milli: list[int],
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """EXACT discrete quantiles of a stored dataset's column, computed on
    the codec streams: for each requested milli-quantile ``q`` (0..1000)
    the result is the smallest non-null value whose cumulative row count
    reaches ``ceil(q * n / 1000)`` over the ``n`` non-null rows — i.e.
    ``q=0`` is the min, ``q=500`` the (lower) median, ``q=1000`` the max,
    and every returned value OCCURS in the data (discrete quantiles, no
    interpolation — so string/bool/decimal columns quantile exactly like
    ints). Quantile ranks are integer arithmetic end to end (milli units,
    ceiling division), so any SQL engine reproduces them bit-for-bit —
    the repo's parity discipline; no float rank can drift.

    Rides :func:`group_count`'s per-block value tallies
    (dict/rle/pdict/dict_str code-stream bincounts — the column's values
    never materialize per row for those codecs), then one driver-side
    sorted cumulative walk over the (value, count) pairs: the whole
    corpus's quantile structure costs one column's code streams plus a
    KB-per-distinct-value merge. Same cardinality envelope as
    group_count (moderate distinct counts; for planning-grade estimates
    on ultra-high-cardinality columns use the KMV sketch). Float columns
    are refused for the same portability rule (NaN ordering).

    NULLs never rank (SQL ordered-set aggregates skip them); an all-null
    or empty column returns zero rows. ``where`` (the same range /
    IN-list conjunctions as :func:`count_where`) restricts the ranked
    population to the matching rows — it rides :func:`group_count`'s
    ``where=`` (zone prune / interior / masked boundary) unchanged, so
    "median tokens within source X" prices like the filtered GROUP BY.

    Returns a DataFrame ``(q_milli bigint, value <column type>)``, one
    row per requested quantile, in the requested order.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    qs = list(q_milli)
    if not qs:
        raise ValueError("exact_quantiles needs at least one milli-quantile")
    for q in qs:
        if not isinstance(q, int) or isinstance(q, bool) or not 0 <= q <= 1000:
            raise ValueError(
                f"milli-quantiles must be ints in [0, 1000], got {q!r}"
            )
    _refuse_pending_tombstones(out_path)
    by_name = split_schema_ddl(read_sidecar(out_path)["schema_ddl"])
    counts = _keyed_fold(
        spark, out_path, column, [], by_name, n_tasks, local_bytes, where,
        False,
    ).collect()
    pairs = sorted(
        ((r[0], r[1]) for r in counts if r[0] is not None), key=lambda t: t[0]
    )
    n = sum(c for _v, c in pairs)
    rows: list[tuple] = []
    if n:
        values = [v for v, _c in pairs]
        cums = []
        acc = 0
        for _v, c in pairs:
            acc += c
            cums.append(acc)
        import bisect

        for q in qs:
            # ceil(q*n/1000), floored at rank 1 so q=0 returns the min
            rank = max(1, (q * n + 999) // 1000)
            rows.append((q, values[bisect.bisect_left(cums, rank)]))
    vtype = _column_type(by_name, column)
    return local_frame(spark, f"q_milli bigint, value {vtype}", rows)


def value_histogram(
    spark,
    out_path: str,
    column: str,
    n_bins: int,
    lo: int | None = None,
    hi: int | None = None,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """EXACT equi-width histogram of a stored dataset's integer column,
    computed on the codec streams: per-value tallies come from
    :func:`group_count` (dict/rle/pdict code-stream bincounts — values
    never materialize per row), then one driver-side pass folds them into
    ``n_bins`` buckets over ``[lo, hi]``:
    ``bin = (v - lo) * n_bins // (hi - lo + 1)`` — integer arithmetic
    with a non-negative numerator, so truncating and flooring division
    agree and any SQL engine reproduces every bucket bit-for-bit (the
    engine folds in python ints; an oracle must widen the intermediate
    product past int64 itself, e.g. DuckDB HUGEINT).

    ``lo``/``hi`` default to the (filtered) data's min/max; when given
    explicitly, rows OUTSIDE ``[lo, hi]`` are excluded (compose a
    ``where`` range if you want them counted at the edges). NULLs never
    count. Empty bins are absent, as SQL's GROUP BY would have them.
    ``where`` takes the same range / IN-list conjunctions as
    :func:`count_where` and rides group_count's classification unchanged.

    The ANALYZE-grade distribution snapshot at 10^12 rows: one column's
    code streams + a KB-scale per-distinct-value merge, no decode for
    dictionary codecs, no row shuffle. Same cardinality envelope as
    group_count. Integer columns only (equi-width needs a metric; for
    string distributions use :func:`group_count` or
    :func:`exact_quantiles`).

    Returns a DataFrame ``(bin bigint, cnt bigint)``, non-empty bins
    only, ordered by bin.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    if n_bins < 1:
        raise ValueError(f"value_histogram needs n_bins >= 1, got {n_bins}")
    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    col_type = _column_type(by_name, column)
    if col_type not in _CW_INT_TYPES:
        raise ValueError(
            f"value_histogram needs an integer column, got {column} "
            f"{col_type}: equi-width bins need a metric (strings: use "
            f"group_count / exact_quantiles; floats: NaN/rounding make "
            f"bucket edges engine-defined)"
        )
    for b in (lo, hi):
        if b is not None and (not isinstance(b, int) or isinstance(b, bool)):
            raise ValueError(f"lo/hi must be ints, got {b!r}")
    counts = _keyed_fold(
        spark, out_path, column, [], by_name, n_tasks, local_bytes, where,
        False,
    ).collect()
    pairs = [(r[0], r[1]) for r in counts if r[0] is not None]
    bins: dict[int, int] = {}
    if pairs:
        dlo = min(v for v, _c in pairs) if lo is None else lo
        dhi = max(v for v, _c in pairs) if hi is None else hi
        if dlo <= dhi:
            width_slots = dhi - dlo + 1
            for v, c in pairs:
                if dlo <= v <= dhi:
                    b = (v - dlo) * n_bins // width_slots
                    bins[b] = bins.get(b, 0) + c
    return local_frame(spark, "bin bigint, cnt bigint", sorted(bins.items()))


def time_bucket_count(
    spark,
    out_path: str,
    column: str,
    width: int,
    origin: int = 0,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """Exact fixed-width time-bucket rollup — ``SELECT floor((ticks -
    origin) / width) AS bucket, COUNT(*) GROUP BY bucket`` over a stored
    dataset's timestamp/date (or integer) column, with the bucketing done
    INSIDE the per-block walk so each file's partial is a {bucket: count}
    tally, never per-value tallies: unlike :func:`group_count` /
    :func:`value_histogram`, whose envelope is the column's cardinality,
    this stays KB-scale on a NEAR-UNIQUE column — exactly the shape of
    event timestamps, where "rows per day over 10^12 events" must not
    ship 10^12 distinct micros off the executors.

    ``width``/``origin`` are storage-unit ticks (epoch micros for Spark
    timestamps, days for date32 — the unit the zone stats share, same
    contract as the temporal ``where`` bounds). Bucket indexes use exact
    FLOOR division (negative ticks land left of the origin, python/numpy
    ``//`` semantics; an SQL oracle needs the two-step floor-division
    identity, see the round-4 gotcha). NULLs never count.

    Zone degeneration: a block whose stated bounds land in ONE bucket
    contributes ``(bucket, n_rows - n_null)`` from metadata alone — on
    time-clustered data (ingest order IS time order) the everyday daily
    rollup becomes a stats scan that never touches payload. ``where``
    composes with :func:`count_where`'s classification (pruned blocks
    skip, interior blocks take the unmasked path, straddlers mask).

    Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk`: the per-file
    tallies fold on the driver on both paths (one fan-out job above
    ``local_bytes``, no shuffle), so the call is eager. Returns a
    DataFrame ``(bucket bigint, bucket_start bigint, cnt bigint)`` — non-empty
    buckets only, ordered by bucket; ``bucket_start = origin +
    bucket * width`` (ticks) for direct rendering.
    """
    from xml2arrow_spark.operators.encode import split_schema_ddl

    if not isinstance(width, int) or isinstance(width, bool) or width < 1:
        raise ValueError(f"width must be a positive tick int, got {width!r}")
    if not isinstance(origin, int) or isinstance(origin, bool):
        raise ValueError(f"origin must be a tick int, got {origin!r}")
    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    col_type = _column_type(by_name, column)
    if col_type not in (
        *_CW_INT_TYPES, "timestamp", "timestamp_ntz", "date"
    ):
        raise ValueError(
            f"time_bucket_count needs a timestamp/date/int column, got "
            f"{column} {col_type}"
        )
    conj = (
        _resolve_conjuncts(by_name, where, "time_bucket_count")
        if where is not None
        else None
    )

    def _bucket(t: int) -> int:
        """Python-int floor bucket (exact for negatives, cannot wrap) +
        the refusal contract: a bucket index or bucket_start label that
        cannot fit int64 REFUSES rather than wrapping — shift the origin
        or widen the width (width=1 over a ±2^62 tick span is a request
        for 2^63+ labels, not a rollup)."""
        b = (t - origin) // width
        if not (-(1 << 63) <= b < (1 << 63)) or not (
            -(1 << 63) <= origin + b * width < (1 << 63)
        ):
            raise ArithmeticError(
                f"time_bucket_count bucket for tick {t} (origin {origin}, "
                f"width {width}) is outside int64; refusing rather than "
                f"wrapping (ANSI contract)"
            )
        return b

    def _claim(tally, view, i, rows):
        """Fold one block's (bucket, count) from zone metadata alone, or
        return False: sound when every row matches ``where`` and the
        stated tick bounds land in the SAME bucket (every non-null row is
        between them, hence in that bucket); all-null blocks contribute
        nothing (NULLs never count)."""
        vmin, vmax, n_null = view.zone(column, i, "i")
        br = view.n_rows(i)
        if n_null is None or rows != br:
            return False
        if n_null == br:
            return True  # provably empty contribution
        if vmin is None or vmax is None:
            return False
        b = _bucket(vmin)
        if b != _bucket(vmax):
            return False
        tally[b] = tally.get(b, 0) + br - n_null
        return True

    def _tally(tally, pairs, mask):
        vals, counts, _n_null = value_counts_column(*pairs[0], mask=mask)
        if not len(vals):
            return
        if pa.types.is_timestamp(vals.type):
            ticks = vals.cast(pa.int64())
        elif pa.types.is_date(vals.type):
            ticks = vals.cast(pa.int32()).cast(pa.int64())
        else:
            ticks = vals.cast(pa.int64())
        import numpy as np

        tk = np.asarray(ticks)
        # vectorized only when the shift provably fits int64 (extreme
        # ticks with a far origin would WRAP the numpy subtraction, and a
        # wrapped bucket is a silently wrong answer); otherwise fold in
        # unbounded python ints — same values either way, pinned by the
        # randomized sweep
        tmin, tmax = int(tk.min()), int(tk.max())
        if (
            -(1 << 63) <= tmin - origin
            and tmax - origin < (1 << 63)
        ):
            buckets = (tk - np.int64(origin)) // np.int64(width)  # floors
            # int64-bound check on the extremes covers every bucket
            _bucket(tmin)
            _bucket(tmax)
            for b, c in zip(buckets.tolist(), counts.tolist()):
                tally[b] = tally.get(b, 0) + c
        else:
            for t, c in zip(tk.tolist(), counts.tolist()):
                tally[_bucket(t)] = tally.get(_bucket(t), 0) + c

    def _file_buckets(fpath, pq_mod):
        """One file's {bucket: count}; claimable blocks never touch
        payload."""
        return _fold_blocks_file(
            fpath, pq_mod, [column], conj, _tally, _claim
        )[0]

    walk = BlockWalk(out_path, local_bytes)
    total: dict = {}
    for fb in walk.partials(spark, _file_buckets, n_tasks):
        for b, c in fb.items():
            total[b] = total.get(b, 0) + c
    # labels in unbounded python ints: origin + bucket*width cannot wrap
    # on an intermediate even when bucket_start itself fits int64
    return local_frame(
        spark, "bucket bigint, bucket_start bigint, cnt bigint",
        [(b, origin + b * width, c) for b, c in sorted(total.items())],
    )


def top_k_rows(
    spark,
    out_path: str,
    column: str,
    k: int,
    columns: list[str] | None = None,
    descending: bool = True,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """The ROWS whose ``column`` ranks within the top k over a STORED
    dataset — SQL ``RANK() <= k`` semantics, ties INCLUDED: the result is
    a deterministic SET (an ``ORDER BY ... LIMIT k`` with ties at the
    k-th value is an arbitrary slice; this never is). NULLs never rank.

    Two metadata-priced phases compose:

    1. :func:`top_k` proves the k-th ranked value from zone-ordered block
       visits with early termination (on value-clustered data: a handful
       of blocks);
    2. the selective decode (:func:`decode_dataset` with the matching
       ``zone_filter`` + in-kernel ``row_filter``) reads ONLY blocks that
       can hold qualifying rows and gathers only the qualifying rows'
       payload across the Arrow boundary.

    ``columns`` projects the output (wide layout: unrequested columns are
    never read off disk); ``column`` itself is always included. Fewer
    than k distinct-ranked rows (small corpus) returns every non-null
    row, matching RANK semantics. ``where`` (count_where's range/IN-list
    conjunctions) ranks WITHIN the filtered rows: the threshold comes
    from :func:`top_k` ``where=`` and the conjunction joins the selective
    decode's row filter (range conjuncts also zone-prune), so "the k
    longest documents in source X, with their text" stays a
    metadata-priced scan.

    Returns a DataFrame of the qualifying rows (unordered, as any SQL
    row set; k or more rows when ties straddle the k-th rank).
    """
    from pyspark.sql import functions as F

    tk = top_k(
        spark, out_path, column, k,
        descending=descending, n_tasks=n_tasks, local_bytes=local_bytes,
        where=where,
    ).collect()
    if columns is not None and column not in columns:
        columns = [column] + list(columns)
    if not tk:
        # no non-null values: nothing ranks
        return decode_dataset(
            spark, out_path, n_tasks=n_tasks, columns=columns
        ).where(F.lit(False))
    thr = tk[-1][0]  # the k-th ranked value (or the worst, when < k exist)
    rf = (column, thr, None) if descending else (column, None, thr)
    row_filters = zone_filters = [rf]
    if where is not None:
        from xml2arrow_spark.operators.encode import normalize_zone_filters
        from xml2arrow_spark.operators.predicates import AnyOf, conjoin

        # thr AND where; the threshold range zone-prunes on its own, and
        # so do a conjunction's range conjuncts (a disjunct's ranges
        # cannot AND-prune, so they stay row-level)
        row_filters = conjoin(rf, where)
        if not isinstance(where, AnyOf):
            zone_filters = [rf] + [
                p for p in normalize_zone_filters(where) if len(p) == 3
            ]
    return decode_dataset(
        spark, out_path,
        n_tasks=n_tasks,
        columns=columns,
        zone_filter=zone_filters,
        row_filter=row_filters,
    )


@_with_dataset_lease(arg=1, kw="out_path")
def compact_dataset(
    spark, out_path: str, target_files: int = 8, n_tasks: int | None = None
) -> dict:
    """Merge a dataset's many per-unit block files into ``target_files``
    larger ones — the small-files maintenance pass every file-per-unit sink
    eventually needs (at corpus scale a million input files mean a million
    block files; scan planning and open() costs dominate long before the
    bytes do).

    Blocks are IMMUTABLE: compaction concatenates block rows — no
    re-encode, no decode, payload bytes stream through pyarrow untouched.
    Work is distributed: files are LPT-binned into ``target_files`` groups
    and each group is merged by one executor task (tmp-file + rename, then
    originals removed). Unit lineage in the manifest table is unchanged —
    resume keys on unit_id, not file names.

    Rerun / crash / speculation safety (each scenario pinned in
    tests/test_dataset.py):

    - **Generation-unique output names** ``compact-g{gen:04d}-{part:06d}``:
      a re-compaction (shrinking target_files, periodic maintenance) takes
      PREVIOUS compact outputs as inputs, and with a fixed naming scheme
      LPT binning could hand old ``compact-j`` to group *i* while task *j*
      concurrently replaces that very path — duplicating or dropping task
      *j*'s rows. A fresh generation number per run makes every output name
      disjoint from every input name, so no task can ever read or remove
      another task's in-flight output.
    - **Transitive coverage metadata + driver sweep**: each compact file's
      footer records every source basename whose rows it contains —
      including sources inherited from compact inputs. A crash between the
      rename and the last original's removal leaves leftovers whose rows
      already live in the compact file; the next call deletes them
      DRIVER-SIDE before planning (covered basenames are metadata, and the
      covering file may land in a different task's group than its
      leftovers, so a task-local check cannot see them).
    - **Attempt-unique tmp names + carried-forward output**: concurrent
      speculative attempts never share a tmp path; an attempt that finds
      its out_file already renamed (an earlier attempt finished) carries
      those rows forward and merges only inputs the coverage set lacks, so
      retries converge on the same content. ``os.remove`` tolerates ENOENT
      (the other attempt already removed it).

    Crash-window honesty: the rename->remove window is NOT closed, only
    healed — a crash between a task's rename and its last removal leaves
    covered originals on disk, and any decode BEFORE the next
    ``compact_dataset`` call double-counts their rows (the sweep runs at
    the start of the next call, not continuously). Production runs should
    wrap replace+remove in a catalog commit — Iceberg's
    rewrite_data_files is exactly this operation with a real snapshot
    swap; ``compact_log`` + the coverage footers are the evidence a
    repair job (or the sweep) needs.

    The coverage log also lands in ``<path>/compact_log`` (driver-side
    append, one row per output file per run) so unit->file lineage survives
    without parsing parquet footers — the pre-catalog stand-in for an
    Iceberg rewrite_data_files snapshot.

    Returns {files_before, files_after, bytes}."""
    import re

    import pyarrow.parquet as pq

    from xml2arrow_spark.sources.files import map_tasks, plan_parquet_tasks

    blocks_dir = os.path.join(out_path, "blocks")

    def _listing() -> list[str]:
        return [
            os.path.join(blocks_dir, f)
            for f in sorted(os.listdir(blocks_dir))
            if f.endswith(".parquet")
        ]

    def _coverage(path: str) -> set[str]:
        md = pq.read_schema(path).metadata or {}
        return {s for s in md.get(b"compact_sources", b"").decode().split(",") if s}

    # Driver-side sweep: remove leftovers already covered by a compact file
    # (crash window of a PREVIOUS run: rename committed, removes didn't).
    listing = _listing()
    covered_all: set[str] = set()
    for p in listing:
        if os.path.basename(p).startswith("compact-"):
            covered_all |= _coverage(p)
    for p in listing:
        if os.path.basename(p) in covered_all:
            os.remove(p)

    before = _listing()
    if len(before) <= target_files:
        total = sum(os.path.getsize(f) for f in before)
        return {"files_before": len(before), "files_after": len(before), "bytes": total}
    gens = [
        int(m.group(1))
        for p in before
        for m in [re.match(r"compact-g(\d+)-", os.path.basename(p))]
        if m
    ]
    gen = (max(gens) + 1) if gens else 0

    def merge(files) -> Iterator[dict]:
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        attempt = ctx.attemptNumber() if ctx is not None else 0
        out_file = os.path.join(
            blocks_dir, f"compact-g{gen:04d}-{part_id:06d}.parquet"
        )
        # the task's unit is its LPT group; gen is fresh, so out_file
        # is never among the inputs; a group file can only vanish if an
        # earlier attempt of THIS task already merged and removed it (rows
        # live in out_file).
        group = [p for _i, p in files if os.path.exists(p)]
        covered: set[str] = set()
        if os.path.exists(out_file):  # earlier attempt finished the rename
            covered = _coverage(out_file)
        to_merge = (
            [out_file] if covered else []
        ) + [p for p in group if os.path.basename(p) not in covered]
        if not to_merge:
            return
        # transitive coverage: inputs that are themselves compact files
        # contribute the basenames THEY cover, so a crash leftover from
        # any earlier generation stays detectable by the driver sweep
        sources = set(covered)
        for p in to_merge:
            if p == out_file:
                continue
            sources.add(os.path.basename(p))
            if os.path.basename(p).startswith("compact-"):
                sources |= _coverage(p)
        # attempt-unique tmp: concurrent speculative attempts never
        # clobber each other's in-flight writes; rename commits once
        tmp_file = os.path.join(
            blocks_dir,
            f".compact-g{gen:04d}-{part_id:06d}-a{attempt}.parquet.inprogress",
        )
        schema = pq.read_schema(to_merge[0]).with_metadata(
            {b"compact_sources": ",".join(sorted(sources)).encode()}
        )
        nbytes = 0
        with pq.ParquetWriter(tmp_file, schema, compression="none") as w:
            for fpath in to_merge:
                t = pq.read_table(fpath)
                w.write_table(t.replace_schema_metadata(schema.metadata))
                nbytes += t.nbytes
        os.replace(tmp_file, out_file)
        for fpath in group:  # originals removed AFTER the merged write
            try:
                os.remove(fpath)
            except FileNotFoundError:
                pass  # a concurrent attempt already removed it
        yield {"gen": gen, "out_file": out_file, "n_src": len(group),
               "nbytes": nbytes, "sources": ",".join(sorted(sources))}

    # eager: KB-scale log rows come back as dicts, never payload
    rows = map_tasks(
        spark, plan_parquet_tasks(spark, blocks_dir, n_tasks=target_files),
        merge, None,
    )
    if rows:
        from xml2arrow_spark.operators.metadata import append_rows

        append_rows(
            os.path.join(out_path, "compact_log"),
            rows,
            pa.schema(
                [
                    pa.field("gen", pa.int32()),
                    pa.field("out_file", pa.string()),
                    pa.field("n_src", pa.int32()),
                    pa.field("nbytes", pa.int64()),
                    pa.field("sources", pa.string()),
                ]
            ),
            f"compact-g{gen:04d}.parquet",
        )
    return {
        "files_before": int(sum(r["n_src"] for r in rows)),
        "files_after": len(rows),
        "bytes": int(sum(r["nbytes"] for r in rows)),
    }


def recluster_dataset(
    spark,
    src_path: str,
    dest_path: str,
    presort: list[str],
    cluster: str = "lex",
    n_files: int | None = None,
    manifest: CodecManifest | None = None,
    layout: str | None = None,
    n_tasks: int | None = None,
    columns: list[str] | None = None,
) -> dict:
    """Clustering maintenance: rewrite a stored dataset ordered by new
    clustering keys — the Iceberg ``rewrite_data_files(sort_order)`` /
    Delta Z-ORDER maintenance analog. A corpus accreted in ingest order
    (or degraded by merges) has zone maps that prune nothing on the query
    key; reclustering restores metadata-priced scans: fused decode →
    GLOBALLY range-partitioned sorted staging (cross-file clustering, one
    shuffle — the only one in the pipeline) → fused re-encode with
    ``presort``/``cluster`` into ``dest_path``. Codecs re-auto-select on
    the re-sorted stats by default (runs get longer, deltas tighter —
    reclustering usually SHRINKS the dataset), or pass ``manifest`` to
    pin them; ``layout`` defaults to the source's.

    Writes a NEW dataset directory rather than mutating in place: the
    commit point is the sidecar landing after the data (the same order
    every sink uses), the source stays readable throughout, and a crashed
    recluster can never corrupt it — swap by snapshot/rename when ready,
    exactly Iceberg's rewrite-then-commit split. Resume-safe: the staged
    sort is reused when complete (``_SUCCESS`` marker), so a crash
    mid-encode resumes against the SAME staged files — re-sampling range
    boundaries against partially-encoded units could lose or duplicate
    tie rows; a crash mid-staging rewrites the staging wholesale before
    any unit encodes. The inner encode holds ``dest_path``'s writer
    lease; concurrent recluster calls collide there. Timestamp columns
    are staged as TIMESTAMP_MICROS explicitly — Spark's INT96 parquet
    default would silently change the storage tick unit the temporal
    zone stats and predicates are expressed in.

    ``columns`` projects the rewrite — the DROP COLUMN maintenance analog
    (rewrite the corpus without the deprecated/PII column; wide layout:
    the dropped column's payload is never read off disk). Must include
    every ``presort`` column.

    Returns the encode metrics plus ``n_files`` (the staged/encoded unit
    count; default = the source's block-file count).
    """
    import shutil

    from xml2arrow_spark.operators.encode import split_schema_ddl

    presort = list(presort or [])
    if not presort:
        raise ValueError("recluster_dataset needs at least one presort column")
    side = read_sidecar(src_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    missing = [c for c in presort if c not in by_name]
    if missing:
        raise ValueError(
            f"dataset lacks encoded column(s) {missing}; "
            f"it has {sorted(by_name)}"
        )
    if columns is not None:
        dropped_sort = [c for c in presort if c not in columns]
        if dropped_sort:
            raise ValueError(
                f"columns= must include every presort column; "
                f"missing {dropped_sort}"
            )
    if layout is None:
        layout = side.get("layout", "nested")
    if n_files is None:
        blocks_dir = os.path.join(src_path, "blocks")
        n_files = max(1, sum(
            1 for f in os.listdir(blocks_dir) if f.endswith(".parquet")
        ))
    staging = os.path.join(dest_path, "_recluster_src")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        # (re)stage: decode_dataset refuses pending tombstones itself, so
        # soft-deleted rows can never be resurrected into the rewrite
        df = decode_dataset(spark, src_path, n_tasks=n_tasks, columns=columns)
        ts_key = "spark.sql.parquet.outputTimestampType"
        try:
            prior = spark.conf.get(ts_key)
        except Exception:
            prior = None
        try:
            spark.conf.set(ts_key, "TIMESTAMP_MICROS")
            (
                df.repartitionByRange(int(n_files), *presort)
                .sortWithinPartitions(*presort)
                .write.mode("overwrite")
                .parquet(staging)
            )
        finally:
            if prior is None:
                spark.conf.unset(ts_key)
            else:
                spark.conf.set(ts_key, prior)
    metrics = encode_parquet_dataset(
        spark, staging, dest_path, manifest=manifest, n_tasks=n_tasks,
        layout=layout, presort=presort, cluster=cluster,
    )
    shutil.rmtree(staging, ignore_errors=True)
    return {**metrics, "n_files": int(n_files)}


def decode_dataset(
    spark,
    out_path: str,
    n_tasks: int | None = None,
    columns: list[str] | None = None,
    zone_filter: tuple | None = None,
    row_filter: tuple | None = None,
):
    """Fused decode: pyarrow-scan the blocks files and run the inverse
    kernels in the same task — the decode twin of the fused encode. Returns
    a DataFrame of the original columns.

    ``columns`` selects a subset. Nested layout: the unrequested columns'
    kernels are skipped (their payload bytes still ride inside the ``cols``
    struct read). Wide layout: only the requested columns' (meta, data)
    parquet columns are READ — true storage-level column pruning on the
    encoded dataset, the decode-side analog of the reference's
    unknown-subtree skip (/root/reference/src/path_registry.rs:400-408).

    ``zone_filter=(column, lo, hi)`` — or a LIST of such tuples, applied
    as a conjunction — prunes whole BLOCKS via their zone maps before any
    kernel runs, with :func:`~xml2arrow_spark.operators.encode.
    prune_blocks` semantics (missing stats keep the block; the result is a
    SUPERSET of matching rows — apply the row filter after). Bounds may be
    int, float, or str. Each file is read through one
    :class:`~xml2arrow_spark.operators.encode.BlockStats` view, which
    reads the stats of the zone-filter columns only, and its blocks are
    judged by the aggregates' zone classifier; a block is
    decoded by :func:`~xml2arrow_spark.operators.encode.decode_blocks`.
    On the wide layout the view reads payload one parquet row group at a
    time, only for row groups holding a surviving block, so a row group
    whose every block is pruned (e.g. one merged input of a
    :func:`compact_dataset` file) reads no payload IO; on the nested
    layout blocks are skipped after the struct read. Files are eliminated
    on the driver first: over a listing of at most
    :data:`~xml2arrow_spark.sources.files.DRIVER_FOLD_FILES` files, each
    file's no-payload view (the zone columns' stats; a file lacking a
    column the task reads raises) runs the same classifier, and only a
    file with a surviving block is planned. A result held in one file is
    then one task, which Spark plans with no Exchange under a global
    aggregate; with no zone filter, or past the bound, every file is
    planned and the tasks judge alone.

    ``row_filter`` pushes row selection INSIDE the decode kernel, with
    :func:`~xml2arrow_spark.operators.encode.decode_table` semantics:
    2-tuple ``(column, values)`` = point set, 3-tuple ``(column, lo, hi)``
    = inclusive range (either side may be ``None``), or a LIST of either —
    a conjunction whose codec-aware masks AND together. The filter
    column(s) evaluate FIRST per block; zero-match blocks skip every
    other kernel (discarding the zone filter's false positives), matching
    blocks gather only the matching rows — the result is EXACT on the
    filter columns, only the matches cross the Arrow boundary, and filter
    columns need not be in ``columns`` (they are read for the mask and
    dropped). ``any_of(...)`` lifts the row filter to a DISJUNCTION (the
    per-disjunct masks OR; only a block NO disjunct matches skips). Pair
    with the corresponding ``zone_filter`` so non-overlapping blocks
    never reach the kernel at all."""
    from xml2arrow_spark.operators.encode import (
        _zone_cat,
        decode_blocks,
        normalize_row_filters,
        normalize_zone_filters,
        split_schema_ddl,
    )
    from xml2arrow_spark.operators.predicates import DnfConjuncts
    from xml2arrow_spark.sources.files import (
        DRIVER_FOLD_FILES,
        _plan_tasks,
        map_tasks,
        parquet_file_infos,
    )

    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])  # decimal(p,0)-safe
    if columns is None:
        out_names = list(by_name)
    else:
        missing = set(columns) - set(by_name)
        if missing:
            raise ValueError(
                f"dataset lacks encoded column(s) {sorted(missing)}; "
                f"it has {sorted(by_name)}"
            )
        out_names = list(columns)
    ddl = ", ".join(by_name[n] for n in out_names)
    rfs = normalize_row_filters(row_filter)
    # the zone filter as a range conjunction (a DNF under any_of) for the
    # walks' classifier; each conjunct's stat category follows its bounds
    zfs = normalize_zone_filters(zone_filter)
    zconj = [(c, None, lo, hi, _zone_cat(lo, hi)) for c, lo, hi in zfs]
    if getattr(zfs, "groups", None) is not None:
        zconj = DnfConjuncts(zconj, zfs.groups)
    read_names = out_names + [c for c, *_ in rfs]
    zone_names = [c for c, *_ in zconj]
    for c in read_names[len(out_names):] + zone_names:
        _column_type(by_name, c)

    def kept(view, i):
        return _classify_where(
            zconj, _zones(zconj, view, i), view.n_rows(i)
        ) != 0

    def decode_files(files) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for _i, fpath in files:
            view = BlockStats(fpath, pq, read_names, zone_names)
            keep = (lambda i, view=view: kept(view, i)) if zconj else None
            yield from decode_blocks(view, out_names, rfs, keep)

    infos = parquet_file_infos(os.path.join(out_path, "blocks"))
    pruned = set()
    if zconj and len(infos) <= DRIVER_FOLD_FILES:
        import pyarrow.parquet as pq

        # the same no-payload view as the group-bound pre-pass, with the
        # stats of the zone columns only; a file lacking a column the task
        # reads still raises (from the names the view has read)
        for j, (fpath, _s) in enumerate(infos):
            view = BlockStats(fpath, pq, [], zone_names)
            view.require(read_names)
            if not any(kept(view, i) for i in range(len(view))):
                pruned.add(j)
    bins = _plan_tasks(spark, infos, n_tasks, skip=pruned)
    return map_tasks(spark, bins, decode_files, ddl)
