"""Checkpointed encode: per-partition lineage manifest + resume.

The reference persists its resolved config via YAML round-trip
(``Config::to_yaml_file``, /root/reference/src/config.rs:296-300); this
engine persists a *metadata table* of completed work units so a failed run
resumes without re-encoding — one row per (unit_id) with codec lineage, row
counts, byte counts, and a checksum (the per-partition analog of the
reference's per-table RecordBatch finalize bookkeeping,
/root/reference/src/xml_parser.rs:491-511).

Layout of an encoded dataset directory (Iceberg-style data/metadata split,
parquet-backed so it runs in this sandbox; swap the writers for
``format("iceberg")`` on a real catalog):

    <path>/blocks/           encoded block rows, partitioned by unit_id
    <path>/manifest/         one row per completed unit (the checkpoint table)
    <path>/_manifest.yaml    resolved codec manifest + input schema DDL

Resume = left-anti join of planned units against the manifest table —
built from primitives, as SURVEY §4 prescribes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from xml2arrow_spark.manifest import CodecManifest, read_sidecar, write_sidecar
from xml2arrow_spark.operators import bloomidx, tombstones
from xml2arrow_spark.operators.encode import decode_table, encode_table
from xml2arrow_spark.operators.lease import with_dataset_lease

__all__ = [
    "plan_units",
    "encode_dataset",
    "read_encoded_dataset",
    "completed_units",
    "delete_rows",
    "upsert_rows",
    "lookup_rows",
    "add_columns",
    "list_families",
    "drop_family",
    "audit_dataset",
    "column_stats",
    "materialize_bucketed",
]

MANIFEST_SIDEVAR = "_manifest.yaml"

# Identity of the row->unit placement function. Resume correctness rests on
# plan_units assigning every row the SAME unit across runs; if the hash ever
# changes (it moved xxhash64 -> murmur3 once already), completed-unit markers
# written under the old function no longer cover the same row sets. The
# identity is recorded in the dataset sidecar and checked before resuming —
# the engine-level analog of BLOCK_FORMAT_VERSION (ADVICE r02).
PLACEMENT_ID = "murmur3_pmod_v1"


def plan_units(df: DataFrame, n_units: int, id_col: str = "doc_id") -> DataFrame:
    """Assign every row a deterministic work unit (0..n_units-1).

    Deterministic in the DATA (hash of id), not in the physical layout, so
    the same row lands in the same unit on any cluster size / input split —
    the property resume correctness rests on.

    The unit is ``pmod(murmur3(id), n_units)`` — deliberately the SAME
    function Spark's HashPartitioning applies to a ``repartition(n_units,
    id_col)`` exchange. That identity makes unit placement EXACT: partition
    p receives precisely the rows of unit p, no re-hash collisions. (Hashing
    the unit_id column itself would hash-a-hash k distinct ids into k
    partitions and leave ~1/e of them empty — the repo-wide ground rule.)
    """
    return df.withColumn(
        "unit_id", F.pmod(F.hash(F.col(id_col)), F.lit(n_units)).cast("int")
    )


def completed_units(spark: SparkSession, path: str) -> DataFrame:
    """Manifest rows of completed units; empty DataFrame if none yet. An
    existing manifest is read as-is, so an unreadable one raises (at the
    read or at the first action) instead of reading as empty."""
    from xml2arrow_spark.operators.metadata import table_exists

    mpath = os.path.join(path, "manifest")
    if table_exists(mpath):
        return spark.read.parquet(mpath)
    return spark.createDataFrame(
        [], "unit_id int, n_blocks long, n_rows long, n_values long, "
        "in_bytes long, out_bytes long, checksum long",
    )


def _check_placement(path: str, n_units: int, schema_ddl: str) -> None:
    """Refuse to resume a dataset whose row->unit placement would differ
    from this run's: the hash function identity (PLACEMENT_ID), the unit
    COUNT (pmod modulus — a different n_units reassigns every row, so
    completed-unit markers stop covering the same row sets), and the
    encoded column set (mixed blocks schemas would surface as decode
    errors on half the dataset)."""
    from xml2arrow_spark.errors import ManifestError

    spath = os.path.join(path, MANIFEST_SIDEVAR)
    if not os.path.exists(spath):
        if os.path.exists(os.path.join(path, "manifest")):
            raise ManifestError(
                f"dataset at {path!r} has a manifest table but no "
                f"{MANIFEST_SIDEVAR} sidecar (pre-placement-tag layout); "
                f"cannot verify unit placement — re-encode from scratch"
            )
        return
    side = read_sidecar(path)
    found = side.get("placement")
    if found != PLACEMENT_ID:
        raise ManifestError(
            f"dataset at {path!r} was written with unit placement "
            f"{found!r}; this engine uses {PLACEMENT_ID!r} — resuming "
            f"would assign rows to different units (duplicated/missing "
            f"rows). Re-encode from scratch."
        )
    prior_units = side.get("n_units")
    if prior_units is not None and int(prior_units) != int(n_units):
        raise ManifestError(
            f"dataset at {path!r} was written with n_units={prior_units}; "
            f"resuming with n_units={n_units} would reassign every row to "
            f"a different unit (silent loss/duplication). Pass "
            f"n_units={prior_units} or re-encode from scratch."
        )
    prior_ddl = side.get("schema_ddl")
    if prior_ddl is not None and prior_ddl != schema_ddl:
        raise ManifestError(
            f"dataset at {path!r} was written with columns "
            f"[{prior_ddl}]; this run encodes [{schema_ddl}] — resuming "
            f"would mix incompatible block schemas"
        )


def _manifest_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("unit_id", pa.int32()),
            pa.field("n_blocks", pa.int64()),
            pa.field("n_rows", pa.int64()),
            pa.field("n_values", pa.int64()),
            pa.field("in_bytes", pa.int64()),
            pa.field("out_bytes", pa.int64()),
            pa.field("checksum", pa.int64()),
        ]
    )


def _unit_rollup_aggs():
    """Per-unit lineage rollup — ONE definition so encode and delete can
    never drift on what a manifest row means. (:func:`_unit_rollup_local`
    is its exact driver-side twin for small written sets; the fsck/audit
    recompute path deliberately stays on THIS Spark form, so every audit
    cross-checks the twin.)"""
    return [
        F.count("*").alias("n_blocks"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_values").alias("n_values"),
        F.sum("in_bytes").alias("in_bytes"),
        F.sum("out_bytes").alias("out_bytes"),
        # order-insensitive lineage fingerprint; each term is pmod-bounded to
        # [0, 2^31) so the ANSI-mode long sum cannot overflow below 2^32
        # blocks per unit (the raw xxhash64 sum overflowed in practice)
        F.sum(
            F.pmod(F.xxhash64(F.col("block_id").cast("string")), F.lit(2**31))
        ).alias("checksum"),
    ]


def _unit_rollup_local(
    blocks_dir: str, units, max_files: int = 256
) -> list[dict] | None:
    """Driver-side twin of the post-write lineage rollup (r06): the Spark
    read-back is a full job to aggregate a handful of metadata columns
    (parquet pruning keeps the payload bytes unread either way). This
    reads the SAME written files with pyarrow and computes the same sums
    plus the same checksum (``xxh64(str(block_id)) pmod 2^31`` summed —
    :mod:`xml2arrow_spark.xxh` is Spark's ``xxhash64`` bit-for-bit).
    Returns None above ``max_files`` files (sequential driver reads stop
    being metadata-scale) — the caller then runs the Spark rollup; the
    audit/fsck recompute path always stays distributed, so the twin is
    cross-checked by every audit."""
    import pyarrow.dataset as pads

    from xml2arrow_spark.xxh import xxh64

    units = sorted(int(u) for u in units)
    n_files = 0
    for u in units:
        p = os.path.join(blocks_dir, f"unit_id={u}")
        if os.path.isdir(p):
            for _root, _dd, fs in os.walk(p):
                n_files += sum(
                    1 for f in fs if not f.startswith((".", "_"))
                )
    if n_files > max_files:
        return None
    out = []
    for u in units:
        p = os.path.join(blocks_dir, f"unit_id={u}")
        if not os.path.isdir(p):
            continue
        t = pads.dataset(p).to_table(
            columns=["block_id", "n_rows", "n_values", "in_bytes", "out_bytes"]
        )
        if t.num_rows == 0:
            continue  # the Spark groupBy emits no row for an empty unit
        bids = t.column("block_id").to_pylist()
        out.append(
            {
                "unit_id": u,
                "n_blocks": len(bids),
                "n_rows": sum(t.column("n_rows").to_pylist()),
                "n_values": sum(t.column("n_values").to_pylist()),
                "in_bytes": sum(t.column("in_bytes").to_pylist()),
                "out_bytes": sum(t.column("out_bytes").to_pylist()),
                "checksum": sum(
                    xxh64(str(b).encode("utf-8")) % (1 << 31) for b in bids
                ),
            }
        )
    return out


@with_dataset_lease
def encode_dataset(
    df: DataFrame,
    path: str,
    manifest: CodecManifest,
    n_units: int = 32,
    id_col: str = "doc_id",
    only_units: list[int] | None = None,
    presort: list[str] | None = None,
) -> dict:
    """Encode ``df`` into ``path`` with resume-from-checkpoint.

    Returns run metrics. Re-running after a partial failure encodes only
    units absent from the manifest table (left-anti join), re-encoding
    nothing — FIXTURES.md F4 semantics.

    ``only_units`` restricts this RUN to a subset of unit ids — the handle
    tests and the driver gate use to simulate a run that failed partway
    (units outside the subset behave exactly like units lost to a crash:
    absent from the manifest, encoded by the next run).

    ``presort`` clusters rows within each unit's blocks (in-task sort, no
    shuffle — encode_table semantics). Presorting by the id column makes
    per-block id zone bounds tight, which is what point lookups prune on
    (:func:`lookup_rows`); it is recorded in the sidecar so every later
    mutation re-encodes affected units with the SAME clustering (a rewrite
    must not quietly degrade lookup pruning).
    """
    spark = df.sparkSession
    manifest.validate(df.schema)
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.select(
            *manifest.encodable_columns(df.schema)
        ).schema.fields
    )
    _check_placement(path, n_units, schema_ddl)
    units = plan_units(df, n_units, id_col)
    done = completed_units(spark, path).select("unit_id")
    # left-anti join against completed units; done is tiny -> broadcast
    todo = units.join(F.broadcast(done), "unit_id", "left_anti")
    if only_units is not None:
        todo = todo.filter(F.col("unit_id").isin([int(u) for u in only_units]))

    # Sidecar FIRST (schema + manifest + placement identity are all known
    # up-front): a run that crashes mid-encode must still leave the
    # placement tag next to its manifest rows, or the next run could not
    # verify unit placement and would refuse a legitimate resume.
    os.makedirs(path, exist_ok=True)
    write_sidecar(
        path,
        manifest.to_yaml()
        + f"\nschema_ddl: '{schema_ddl}'\nplacement: {PLACEMENT_ID}\n"
        + f"n_units: {int(n_units)}\n"
        + (f"presort: {list(presort)}\n" if presort else ""),
    )

    # Exact unit placement: HashPartitioning on id_col computes
    # pmod(murmur3(id), n_units) — the very expression plan_units used for
    # unit_id — so partition p holds exactly unit p (empty iff the unit is
    # already done). Repartitioning on unit_id instead would re-hash k
    # distinct ids into k partitions: ~1/e empty, others doubled (measured;
    # see sources/files.py).
    todo = todo.repartition(n_units, id_col)
    blocks = encode_table(todo, manifest, unit_col="unit_id", presort=presort)
    # Dynamic partition overwrite: each written unit REPLACES its
    # blocks/unit_id=<u> partition instead of appending into it. This closes
    # the one real crash window of the append sink: a run that died between
    # the blocks job commit and the driver-side manifest append left a
    # unit's blocks on disk unmanifested; the next run's left-anti resume
    # re-encoded that unit and mode("append") laid down a SECOND copy of
    # every block row (doubled decode, doubled rollup counts). With
    # overwrite-dynamic the replay replaces the orphaned partition — the
    # row-level twin of the file-level sink's deterministic per-unit
    # filenames (operators/dataset.py encode_sink). Units already in the
    # manifest are not in `todo`, so their partitions are never touched.
    # Crash-replay coverage: tests/test_checkpoint.py::test_crash_between_
    # blocks_write_and_manifest_append.
    blocks.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("unit_id").parquet(os.path.join(path, "blocks"))
    # Lineage rollup from what was just written. The r06 driver-side twin
    # reads the same files via pyarrow when the written set is small
    # (units on disk minus manifested units == exactly the rows the Spark
    # anti-join rollup reads, orphaned crash leftovers included); above
    # the file threshold the distributed rollup runs unchanged.
    import pyarrow as pa

    from xml2arrow_spark.operators.metadata import read_unit_ids

    blocks_root = os.path.join(path, "blocks")
    try:
        done_ids = read_unit_ids(os.path.join(path, "manifest"))
    except (OSError, pa.ArrowException):
        # a manifest the driver cannot read must not read as "no unit
        # done" (every unit would be re-appended): the distributed
        # anti-join rollup below re-reads it, and fails if Spark can't
        local_rows = None
    else:
        on_disk = {
            int(d.split("=", 1)[1])
            for d in os.listdir(blocks_root)
            if d.startswith("unit_id=")
        } if os.path.isdir(blocks_root) else set()
        local_rows = _unit_rollup_local(blocks_root, on_disk - done_ids)
    if local_rows is not None:
        meta_rows = local_rows
    else:
        written = spark.read.parquet(blocks_root).join(
            F.broadcast(done), "unit_id", "left_anti"
        )
        meta_rows = [
            r.asDict()
            for r in written.groupBy("unit_id").agg(*_unit_rollup_aggs()).collect()
        ]
    # ^ the rollup rows themselves are KB-scale
    if meta_rows:
        # manifest append driver-side + atomic — see operators/metadata.py
        import uuid

        from xml2arrow_spark.operators.metadata import append_rows

        append_rows(
            os.path.join(path, "manifest"),
            meta_rows,
            _manifest_schema(),
            f"manifest-{uuid.uuid4().hex}.parquet",
        )
    # Bloom-index consistency on resume: units encoded by THIS run are new
    # to any existing index — refresh just those partitions so an indexed
    # dataset never quietly degrades to unindexed as resumes complete it.
    if meta_rows:
        new_units = sorted(int(r["unit_id"]) for r in meta_rows)
        for column in bloomidx.list_indexes(path):
            bloomidx.build_bloom_index(spark, path, column, units=new_units)

    # final rollup driver-side for the same reason
    from xml2arrow_spark.operators.metadata import sum_columns

    try:
        n, sums = sum_columns(
            os.path.join(path, "manifest"),
            ["n_rows", "n_values", "in_bytes", "out_bytes"],
        )
    except Exception:
        n, sums = 0, {c: 0 for c in ("n_rows", "n_values", "in_bytes", "out_bytes")}

    return {
        "units": n,
        "rows": sums["n_rows"],
        "values": sums["n_values"],
        "in_bytes": sums["in_bytes"],
        "out_bytes": sums["out_bytes"],
    }


def _resolve_columns(path: str, columns, id_col: str):
    """Shared column resolution for the read paths: requested (or all)
    columns routed to their owning tree — base or a column family.
    Returns (columns, base_cols, base_want, fams, fam_want)."""
    from xml2arrow_spark.operators.encode import split_schema_ddl

    side = read_sidecar(path)
    base_cols = split_schema_ddl(side["schema_ddl"])  # decimal(p,0)-safe
    fams = list_families(path)
    fam_cols = {c: fam for fam, cols in fams.items() for c in cols
                if c != id_col}
    if columns is None:
        columns = list(base_cols) + list(fam_cols)
    missing = set(columns) - set(base_cols) - set(fam_cols)
    if missing:
        raise ValueError(
            f"dataset lacks encoded column(s) {sorted(missing)}; "
            f"it has {sorted(base_cols)} + family columns {sorted(fam_cols)}"
        )
    base_want = [c for c in columns if c in base_cols]
    fam_want: dict[str, list[str]] = {}
    for c in columns:
        if c in fam_cols:
            fam_want.setdefault(fam_cols[c], []).append(c)
    return columns, base_cols, base_want, fams, fam_want


def read_encoded_dataset(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    zone_filter=None,
    row_filter=None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode an encoded dataset directory back to its original columns.

    ``columns`` decodes a subset (the other kernels are skipped) and may
    name COLUMN-FAMILY columns (see :func:`add_columns`): family payloads
    are decoded from their own ``families/<name>/blocks`` and left-joined
    onto the base rows by ``id_col`` — rows the family never covered get
    NULL, family rows for ids no longer in the base (deleted after the
    family was built) never surface. With ``columns=None`` every base
    column plus every family column is returned.

    ``zone_filter`` — one (col, lo, hi) tuple or a conjunction list —
    prunes whole blocks before any kernel runs; each predicate is routed
    to the side (base or family) that stores its column. decode_table
    semantics throughout: superset result, apply the row filter after
    (a family-side prune turns pruned rows' family values into NULLs,
    which the caller's row filter drops the same way).

    ``row_filter`` — 2-tuple ``(column, values)`` point set or 3-tuple
    ``(column, lo, hi)`` range (open sides allowed) — pushes EXACT row
    selection inside the base decode kernel (decode_table semantics):
    only the matching rows leave the kernel, and the family join then
    runs over that reduced row set. BASE columns only: a family column
    is NULL for uncovered rows before the join, so a kernel-side filter
    on it could not reproduce SQL semantics — refused explicitly."""
    columns, base_cols, base_want, fams, fam_want = _resolve_columns(
        path, columns, id_col
    )
    zf = zone_filter
    if zf is not None and not isinstance(zf, list):
        zf = [zf]

    def _side_filter(owned) -> list | None:
        picked = [t for t in (zf or []) if t[0] in owned]
        return picked or None

    if row_filter is not None and row_filter[0] not in base_cols:
        raise ValueError(
            f"row_filter column {row_filter[0]!r} is not a BASE column; "
            "family columns are NULL for uncovered rows before the join, "
            "so kernel-side selection on them cannot reproduce SQL "
            "semantics — filter after the read instead"
        )
    # merge-on-read: pending tombstones (see operators/tombstones.py) hide
    # their rows from every live read via one anti-join; None in the common
    # no-tombstones case, so the plan is untouched then
    tomb = tombstones.tombstones_df(spark, path, id_col)
    need_id = bool(fam_want) or tomb is not None
    base_sel = ([id_col] if need_id and id_col not in base_want else []) + base_want
    ddl = ", ".join(base_cols[c] for c in base_sel)
    blocks = spark.read.parquet(os.path.join(path, "blocks"))
    out = decode_table(
        blocks, ddl, zone_filter=_side_filter(base_cols), row_filter=row_filter
    )
    if tomb is not None:
        # unhinted like the upsert anti-join: a takedown list broadcasts
        # under AQE, a giant pending set degrades to a shuffled join
        out = out.join(tomb, id_col, "left_anti")
    for fam, cols in fam_want.items():
        fddl = ", ".join([fams[fam][id_col]] + [fams[fam][c] for c in cols])
        fblocks = spark.read.parquet(
            os.path.join(path, "families", fam, "blocks")
        )
        fdec = decode_table(fblocks, fddl, zone_filter=_side_filter(fams[fam]))
        # base rows are the row set; family rows only contribute values.
        # Both sides are hash-placed by the same unit function, but two
        # independent parquet scans cannot prove co-partitioning to Spark,
        # so this is one shuffle per family — at 100 TB, sink both sides
        # bucketBy(id) to make the join exchange-free.
        out = out.join(fdec, id_col, "left")
    return out.select(*columns)


def _heal_torn_swap(path: str) -> None:
    """Heal a torn manifest swap left by a previous crashed mutation
    (delete/upsert): the ``manifest.old`` directory is complete (the swap
    had not finished), the ``.new`` one may be torn — restore the old,
    discard the new plus any staging leftovers, and let this run redo the
    whole mutation (mutations are replay-idempotent by contract)."""
    import shutil

    mdir = os.path.join(path, "manifest")
    if not os.path.exists(mdir) and os.path.exists(mdir + ".old"):
        os.rename(mdir + ".old", mdir)
    for leftover in (
        mdir + ".new",
        mdir + ".old",
        os.path.join(path, ".rewrite_tmp"),
    ):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def _load_sidecar(path: str) -> tuple[CodecManifest, str, int, list[str] | None]:
    """Resolved codec manifest + encoded-column DDL + unit count + presort
    of an existing dataset, placement-checked. The sidecar IS the manifest
    yaml plus placement keys; ``from_dict`` tolerates the extras, so
    mutations re-encode with the exact codecs (and clustering) of the
    original run (never a re-resolved guess)."""
    side = read_sidecar(path)
    n_units = int(side["n_units"])
    ddl = side["schema_ddl"]
    _check_placement(path, n_units, ddl)
    return CodecManifest.from_dict(side), ddl, n_units, side.get("presort")


def _rewrite_units(
    spark: SparkSession,
    path: str,
    manifest: CodecManifest,
    n_units: int,
    id_col: str,
    affected: list[int],
    rows: DataFrame,
    presort: list[str] | None = None,
) -> tuple[int, int]:
    """Shared mutation core for delete_rows / upsert_rows: ``rows`` is the
    COMPLETE new contents of the ``affected`` units; every other unit's
    files are untouched bytes. Blocks partitions are rewritten FIRST
    (dynamic partition overwrite — the idempotent sink the resume path
    uses), fully-emptied units' stale partitions are removed explicitly
    (dynamic overwrite cannot touch a partition that received no rows),
    and the manifest table is consolidate-replaced LAST via an atomic-ish
    rename swap. Returns ``(rows_before, rows_after)`` counted over the
    affected units. Crash anywhere leaves data rows correct and at worst
    lineage stale or the swap torn; replaying the same mutation repairs
    both (see _heal_torn_swap)."""
    import shutil
    import uuid

    blocks_dir = os.path.join(path, "blocks")
    # Bloom-index invalidation FIRST: from here to the post-swap rebuild the
    # affected units are unindexed (probes keep all their blocks) — a crash
    # in any window leaves the index degraded, never stale-wrong.
    bloomidx.invalidate_units(path, affected)
    # two-phase staging (the repo-wide branch-reuse pattern): the new rows
    # are needed TWICE — as the re-encode input and to learn which affected
    # units still have rows at all. Materializing once also means the
    # decode/union feeding `rows` runs once, not per branch.
    tmpdir = os.path.join(path, ".rewrite_tmp")
    shutil.rmtree(tmpdir, ignore_errors=True)
    staged_in = plan_units(rows, n_units, id_col)
    staged_in.write.parquet(tmpdir)
    staged = spark.read.schema(staged_in.schema).parquet(tmpdir)
    # survivors from the staged files driver-side (r06): the distinct was
    # a full Spark job over the staging parquet to learn <= n_units small
    # ints — pyarrow reads the one column in ms (same files, same rows)
    import pyarrow.dataset as _pads

    survivors = set(
        _pads.dataset(tmpdir)
        .to_table(columns=["unit_id"])
        .column("unit_id")
        .unique()
        .to_pylist()
    )
    # exact placement re-encode (same invariants as encode_dataset,
    # including the dataset's recorded clustering)
    todo = staged.repartition(n_units, id_col)
    encode_table(todo, manifest, unit_col="unit_id", presort=presort).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "unit_id"
    ).parquet(blocks_dir)
    # fully-emptied units: remove the stale partition directories dynamic
    # overwrite could not touch — BEFORE the rollup read-back, so stale
    # blocks can never re-enter the lineage
    for u in affected:
        if u not in survivors:
            shutil.rmtree(
                os.path.join(blocks_dir, f"unit_id={u}"), ignore_errors=True
            )
    if survivors:
        # r06: driver-side rollup twin over the freshly written files
        # (read-what-was-written attestation preserved — same parquet
        # bytes, pyarrow reader); Spark fallback above the file threshold
        meta_rows = _unit_rollup_local(blocks_dir, survivors)
        if meta_rows is None:
            written = spark.read.parquet(blocks_dir).filter(
                F.col("unit_id").isin(sorted(survivors))
            )
            meta_rows = [
                r.asDict()
                for r in written.groupBy("unit_id")
                .agg(*_unit_rollup_aggs())
                .collect()
            ]
    else:
        meta_rows = []
    shutil.rmtree(tmpdir, ignore_errors=True)

    # manifest consolidate-replace, driver-side (KB-scale — repo ground
    # rule: lineage rows never ride a Spark write job)
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mdir = os.path.join(path, "manifest")
    old = pq.read_table(mdir).cast(_manifest_schema())
    aff_arr = pa.array(affected, type=pa.int32())
    was = old.filter(pc.is_in(old.column("unit_id"), value_set=aff_arr))
    rows_before = int(pc.sum(was.column("n_rows")).as_py() or 0)
    keep_tbl = old.filter(
        pc.invert(pc.is_in(old.column("unit_id"), value_set=aff_arr))
    )
    new_tbl = pa.Table.from_pylist(meta_rows, schema=_manifest_schema())
    merged = pa.concat_tables([keep_tbl, new_tbl])
    os.makedirs(mdir + ".new")
    pq.write_table(
        merged,
        os.path.join(mdir + ".new", f"manifest-{uuid.uuid4().hex}.parquet"),
    )
    os.rename(mdir, mdir + ".old")
    os.rename(mdir + ".new", mdir)
    shutil.rmtree(mdir + ".old")

    # pending tombstones of the rewritten units were folded by the callers
    # (their kept rows are anti-joined) — clear the folded partitions. A
    # crash between the swap and here leaves them pending: reads then
    # anti-join ids that are already physically gone (harmless), and a
    # replay of the same mutation clears them (documented crash window —
    # an upsert-re-inserted id is hidden until the replay).
    tombstones.clear_units(path, affected)

    # Bloom-index refresh LAST (data + lineage are already consistent):
    # rebuild only the surviving affected units — O(affected units), the
    # same order as the rewrite itself. Emptied units stay absent from the
    # index (nothing to prune — they have no blocks).
    refresh = sorted(u for u in affected if u in survivors)
    for column in bloomidx.list_indexes(path):
        bloomidx.build_bloom_index(spark, path, column, units=refresh)

    rows_after = int(sum(r["n_rows"] for r in meta_rows))
    return rows_before, rows_after


@with_dataset_lease
def delete_rows(ids: DataFrame, path: str, id_col: str = "doc_id") -> dict:
    """Row-level delete on an encoded dataset — the right-to-be-forgotten /
    post-hoc curation pass. At 10^12-sequence scale a deletion batch must
    never rewrite the whole dataset: unit placement is a pure function of
    the id (``pmod(murmur3(id), n_units)``, the resume invariant), so the
    units holding the doomed rows are computed from the ids ALONE, and only
    those ``blocks/unit_id=<u>`` partitions are decoded, filtered, and
    re-encoded (dynamic partition overwrite — the idempotent sink the
    resume path already uses). Every other unit's files are untouched
    bytes. Reference analog: the reference's whole-run rebuild is its only
    update path (/root/reference/src/xml_parser.rs:934-936); a partitioned
    dataset can do strictly better.

    Crash contract (same discipline as resume): blocks partitions are
    rewritten FIRST, the manifest table is swapped LAST (consolidate into
    ``manifest.new`` -> rename away ``manifest`` -> rename ``manifest.new``
    in -> drop the old). A crash anywhere leaves the data rows correct and
    at worst the lineage counts stale or the manifest mid-swap; RE-RUNNING
    the same delete repairs both (replay-idempotent, pinned by test), and a
    torn swap is healed on entry. A concurrent encode_dataset resume during
    a delete is out of contract (documented here, as for compaction).

    Returns ``{"affected_units", "rows_before", "rows_after",
    "rows_deleted"}``; a delete of absent ids is a no-op with
    ``rows_deleted == 0``.
    """
    spark = ids.sparkSession
    _heal_torn_swap(path)
    manifest, ddl, n_units, presort = _load_sidecar(path)

    ids = ids.select(id_col).distinct()
    affected = sorted(
        r["unit_id"]
        for r in plan_units(ids, n_units, id_col)
        .select("unit_id")
        .distinct()
        .collect()  # bounded by n_units — metadata-scale
    )
    if not affected:
        return {
            "affected_units": 0, "rows_before": 0,
            "rows_after": 0, "rows_deleted": 0,
        }

    blocks_dir = os.path.join(path, "blocks")
    # partition-pruned scan: only the affected unit directories are read
    blocks = spark.read.parquet(blocks_dir).filter(
        F.col("unit_id").isin(affected)
    )
    decoded = decode_table(blocks, ddl)
    kept = decoded.join(F.broadcast(ids), id_col, "left_anti")
    # fold the affected units' pending tombstones in the same rewrite (the
    # units are being re-encoded anyway); _rewrite_units clears the folded
    # partitions after its manifest swap
    tomb = tombstones.tombstones_df(spark, path, id_col, units=affected)
    if tomb is not None:
        kept = kept.join(tomb, id_col, "left_anti")
    rows_before, rows_after = _rewrite_units(
        spark, path, manifest, n_units, id_col, affected, kept, presort
    )
    return {
        "affected_units": len(affected),
        "rows_before": rows_before,
        "rows_after": rows_after,
        "rows_deleted": rows_before - rows_after,
    }


@with_dataset_lease
def upsert_rows(rows: DataFrame, path: str, id_col: str = "doc_id") -> dict:
    """Merge a batch of rows into an encoded dataset — replace-by-id for ids
    already present, insert for new ids (MERGE INTO semantics, the
    continuous-curation twin of :func:`delete_rows`). At 10^12-sequence
    scale an update batch must never rewrite the whole dataset: unit
    placement is a pure function of the id, so the units the batch touches
    are computed from the incoming ids ALONE; only those
    ``blocks/unit_id=<u>`` partitions are decoded, anti-joined against the
    incoming ids (dropping the superseded row versions), unioned with the
    batch, and re-encoded with the exact codecs of the original run. Every
    other unit's files are untouched bytes. Reference analog: the
    reference's whole-run rebuild is its only update path
    (/root/reference/src/xml_parser.rs:934-936).

    Crash contract — identical to delete_rows (blocks first, manifest swap
    last, torn swap healed on entry): re-running the SAME batch repairs any
    crash window, because replace-by-id is idempotent.

    The batch must carry every encoded column (checked against the dataset
    sidecar) and at most one row per id — two rows for the same id in one
    batch have no defined winner, so that is refused rather than resolved
    silently (resolve upstream with an explicit latest-wins rule, e.g.
    pipeline/dedup.py's epoch pattern).

    The anti-join is deliberately UNHINTED: a curation batch is usually
    tiny next to the decoded units (AQE broadcasts it), but a bulk backfill
    can be arbitrarily large and must degrade to a shuffled join instead of
    OOMing the driver.

    Returns ``{"affected_units", "rows_in_batch", "rows_replaced",
    "rows_inserted", "rows_before", "rows_after"}``; an empty batch is a
    no-op.
    """
    spark = rows.sparkSession
    _heal_torn_swap(path)
    manifest, ddl, n_units, presort = _load_sidecar(path)

    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.operators.encode import split_schema_ddl

    by_name = split_schema_ddl(ddl)  # decimal(p,0)-safe
    missing = set(by_name) - set(rows.columns)
    if missing:
        raise ManifestError(
            f"upsert batch lacks encoded column(s) {sorted(missing)}; "
            f"the dataset at {path!r} encodes [{ddl}]"
        )
    incoming = rows.select(*by_name)  # sidecar column order
    got_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in incoming.schema.fields
    )
    if got_ddl != ddl:
        raise ManifestError(
            f"upsert batch schema [{got_ddl}] does not match the dataset's "
            f"encoded schema [{ddl}] — cast upstream; silent coercion here "
            f"would break bit-identity"
        )

    # ONE batch scan answers everything the mutation needs up front: the
    # affected units AND the contract checks (empty / duplicate / NULL id).
    # Per-unit count_distinct sums to the global distinct because an id
    # maps to exactly one unit (placement is a pure function of the id).
    per_unit = (
        plan_units(incoming.select(id_col), n_units, id_col)
        .groupBy("unit_id")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(id_col).alias("d"),
            F.count_if(F.col(id_col).isNull()).alias("z"),
        )
        .collect()  # bounded by n_units — metadata-scale
    )
    n_in = sum(r["n"] for r in per_unit)
    n_ids = sum(r["d"] for r in per_unit)
    n_null = sum(r["z"] for r in per_unit)
    if n_null:
        # a NULL id has no identity: the superseded-row anti-join could
        # never drop its old version (NULL joins nothing), so replace-by-id
        # silently degrades to append — refuse instead
        raise ValueError(
            f"upsert batch has {n_null} NULL {id_col} row(s); ids must be "
            f"non-null for replace-by-id semantics"
        )
    if n_in == 0:
        return {
            "affected_units": 0, "rows_in_batch": 0, "rows_replaced": 0,
            "rows_inserted": 0, "rows_before": 0, "rows_after": 0,
        }
    if n_ids != n_in:
        raise ValueError(
            f"upsert batch has {n_in - n_ids} duplicate {id_col} row(s): "
            f"no defined winner inside one batch — resolve upstream "
            f"(latest-wins epochs) before upserting"
        )

    ids = incoming.select(id_col)
    affected = sorted(r["unit_id"] for r in per_unit)
    blocks_dir = os.path.join(path, "blocks")
    # partition-pruned scan: only the touched unit directories are decoded
    blocks = spark.read.parquet(blocks_dir).filter(
        F.col("unit_id").isin(affected)
    )
    decoded = decode_table(blocks, ddl)
    kept = decoded.join(ids, id_col, "left_anti")
    # fold pending tombstones of the affected units into this rewrite —
    # on KEPT rows only: the incoming batch is NEW content, so an upsert
    # re-inserting a tombstoned id makes the new version visible (the
    # tombstone applied to the old version, which this rewrite removes)
    tomb = tombstones.tombstones_df(spark, path, id_col, units=affected)
    if tomb is not None:
        kept = kept.join(tomb, id_col, "left_anti")
    rows_before, rows_after = _rewrite_units(
        spark, path, manifest, n_units, id_col, affected,
        kept.unionByName(incoming), presort,
    )
    # rows_after = kept + batch and kept = rows_before - replaced, so both
    # split counts fall out of the two lineage totals — no extra jobs
    kept_n = rows_after - int(n_in)
    replaced = rows_before - kept_n
    return {
        "affected_units": len(affected),
        "rows_in_batch": int(n_in),
        "rows_replaced": replaced,
        "rows_inserted": int(n_in) - replaced,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


LOOKUP_PRUNE_MAX_IDS = 4096


def lookup_rows(
    ids: DataFrame,
    path: str,
    id_col: str = "doc_id",
    columns: list[str] | None = None,
) -> DataFrame:
    """Point reads from an encoded dataset, pruned at FOUR granularities
    (unit partitions, id zone maps, Bloom filters, in-kernel row selection):

    1. unit: only the ``blocks/unit_id=<u>`` directories the ids hash into
       are scanned (partition pruning — the read twin of the mutation
       pruning above); a k-id lookup touches ≤ min(k, n_units) units.
    2. block: within those units, blocks whose per-block id zone bounds
       contain NONE of the requested ids are skipped before any decode
       kernel runs (disjunctive zone prune,
       :func:`~xml2arrow_spark.operators.encode.prune_blocks_any`). This
       bites when the dataset was written with ``presort=[id_col]`` —
       clustered blocks have tight id ranges, so a point read decodes a
       handful of blocks instead of the whole unit; on unclustered data it
       keeps everything (conservative superset, still correct). Applied
       only when the batch is ≤ LOOKUP_PRUNE_MAX_IDS ids (the values ride a
       literal array evaluated per block row).

    ``columns`` may name COLUMN-FAMILY columns: families share the base's
    unit placement, so the SAME unit + block pruning applies to their
    blocks before the per-id values are left-joined on (read_encoded_
    dataset semantics: uncovered ids read NULL).

    Absent ids simply return no row. The final semi-join is broadcast: a
    lookup batch is ids-only and small by construction (bulk retrieval is
    read_encoded_dataset's job)."""
    from xml2arrow_spark.operators.encode import prune_blocks_any

    spark = ids.sparkSession
    _, _ddl, n_units, _presort = _load_sidecar(path)
    columns, base_cols, base_want, fams, fam_want = _resolve_columns(
        path, columns, id_col
    )
    ids = ids.select(id_col).distinct()
    # one job yields BOTH pruning inputs (point reads are latency-bound:
    # every extra Spark job is a fixed cost the batch can't amortize)
    id_rows = plan_units(ids, n_units, id_col).limit(
        LOOKUP_PRUNE_MAX_IDS + 1
    ).collect()
    if len(id_rows) <= LOOKUP_PRUNE_MAX_IDS:
        id_values = [r[id_col] for r in id_rows]
        affected = sorted({r["unit_id"] for r in id_rows})
    else:  # oversized batch: unit pruning only, units from their own agg
        id_values = None
        affected = sorted(
            r["unit_id"]
            for r in plan_units(ids, n_units, id_col)
            .select("unit_id")
            .distinct()
            .collect()  # bounded by n_units — metadata-scale
        )

    def _pruned(blocks_dir: str):
        b = spark.read.parquet(blocks_dir).filter(
            F.col("unit_id").isin(affected)
        )
        if id_values is not None:
            b = prune_blocks_any(b, id_col, id_values)
            # third granularity: per-block Bloom filters (built with
            # build_bloom_index) prune by exact membership — the only prune
            # that bites on UNCLUSTERED data. Probed driver-side (the
            # affected units' filter partitions are metadata-scale);
            # conservative when the index is absent or mid-invalidation.
            bexpr = bloomidx.bloom_filter_expr(
                os.path.dirname(blocks_dir), id_col, id_values, affected
            )
            if bexpr is not None:
                b = b.filter(bexpr)
        return b

    # fourth granularity (row-level, inside the kernel): the id column is
    # decoded first per surviving block; zero-match blocks — zone/Bloom
    # false positives — skip every other kernel, and matching blocks emit
    # ONLY the matching rows, so KB cross the Arrow boundary, not blocks
    rf = (id_col, id_values) if id_values is not None else None
    base_sel = ([id_col] if id_col not in base_want else []) + base_want
    ddl = ", ".join(base_cols[c] for c in base_sel)
    out = decode_table(
        _pruned(os.path.join(path, "blocks")), ddl, row_filter=rf
    ).join(F.broadcast(ids), id_col, "left_semi")
    # merge-on-read: a tombstoned id must read as absent; the tombstone
    # scan partition-prunes to the units this batch touches
    tomb = tombstones.tombstones_df(spark, path, id_col, units=affected)
    if tomb is not None:
        out = out.join(tomb, id_col, "left_anti")
    for fam, cols in fam_want.items():
        fddl = ", ".join([fams[fam][id_col]] + [fams[fam][c] for c in cols])
        fdec = decode_table(
            _pruned(os.path.join(path, "families", fam, "blocks")),
            fddl,
            row_filter=rf,
        ).join(F.broadcast(ids), id_col, "left_semi")
        out = out.join(fdec, id_col, "left")
    return out.select(*columns)


def list_families(path: str) -> dict[str, dict[str, str]]:
    """Column families of an encoded dataset: ``{family: {col: "col type"}}``
    (the id column included), in sorted family order — the deterministic
    projection order read_encoded_dataset uses for ``columns=None``."""
    from xml2arrow_spark.operators.encode import split_schema_ddl

    fdir = os.path.join(path, "families")
    out: dict[str, dict[str, str]] = {}
    if os.path.isdir(fdir):
        for name in sorted(os.listdir(fdir)):
            spath = os.path.join(fdir, name, MANIFEST_SIDEVAR)
            if os.path.exists(spath):
                side = read_sidecar(os.path.join(fdir, name))
                out[name] = split_schema_ddl(side["schema_ddl"])
    return out


def add_columns(
    vals: DataFrame,
    path: str,
    family: str,
    id_col: str = "doc_id",
    manifest: CodecManifest | None = None,
) -> dict:
    """Schema evolution without rewriting: attach new columns to an encoded
    dataset as a COLUMN FAMILY — its own encoded blocks/manifest tree under
    ``families/<family>/``, built with the SAME unit placement as the base
    (so every maintenance op prunes identically) and never touching a byte
    of the existing payload. At 10^12 sequences this is the difference
    between backfilling a quality-score column as a metadata-scale job and
    rewriting 100 TB of token payload. The reference can only express this
    as a full re-parse with a wider config (/root/reference/src/config.rs
    table mappings are fixed at parse time); a partitioned columnar store
    can do strictly better.

    ``vals`` carries ``id_col`` plus the new columns, at most one row per
    id (duplicate ids are refused — no defined winner); ids need not cover
    the base (uncovered rows read as NULL) and ids unknown to the base are
    stored but never surface (the read path left-joins FROM the base).
    Codecs are auto-selected from the family's own sampled stats unless a
    ``manifest`` is given. Delegates storage to :func:`encode_dataset`, so
    families inherit resume, lineage, and the idempotent sink; re-running
    the same add_columns after a crash completes it.

    Returns encode_dataset's run metrics."""
    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.operators.encode import split_schema_ddl
    from xml2arrow_spark.plans.selector import resolve_manifest

    import re

    if not re.fullmatch(r"[A-Za-z0-9_]+", family):
        raise ManifestError(
            f"family name {family!r} must be [A-Za-z0-9_]+ (it becomes a "
            f"directory name)"
        )
    _, ddl, n_units, _presort = _load_sidecar(path)
    base_cols = split_schema_ddl(ddl)
    if id_col not in base_cols:
        raise ManifestError(
            f"id column {id_col!r} is not an encoded base column of "
            f"{path!r} ([{ddl}]) — family rows could never be joined back"
        )
    fams = list_families(path)
    if family in fams:
        raise ManifestError(
            f"family {family!r} already exists at {path!r}; drop_family() "
            f"first or pick a new name (families are immutable-by-name so "
            f"readers can never see a half-replaced family)"
        )
    new_cols = [c for c in vals.columns if c != id_col]
    if id_col not in vals.columns or not new_cols:
        raise ManifestError(
            f"add_columns needs [{id_col!r} + at least one new column]; "
            f"got {vals.columns}"
        )
    taken = set(base_cols) | {
        c for cols in fams.values() for c in cols if c != id_col
    }
    clash = taken & set(new_cols)
    if clash:
        raise ManifestError(
            f"new column(s) {sorted(clash)} collide with existing "
            f"base/family columns of {path!r}"
        )
    vals = vals.select(id_col, *new_cols)
    n_in, n_ids, n_null = vals.agg(
        F.count("*").alias("n"),
        F.count_distinct(id_col).alias("d"),
        F.count_if(F.col(id_col).isNull()).alias("z"),
    ).collect()[0]
    if n_null:
        raise ValueError(
            f"family batch has {n_null} NULL {id_col} row(s); family values "
            f"join back by id, so a NULL id could never surface"
        )
    if n_ids != n_in:
        raise ValueError(
            f"family batch has {n_in - n_ids} duplicate {id_col} row(s): "
            f"no defined winner — resolve upstream before attaching"
        )
    fam_path = os.path.join(path, "families", family)
    man = manifest or resolve_manifest(vals, CodecManifest.auto_for(vals.schema))
    return encode_dataset(vals, fam_path, man, n_units=n_units, id_col=id_col)


def drop_family(path: str, family: str) -> bool:
    """Remove a column family (directory tree delete — family blocks are
    self-contained, nothing in the base references them). Returns whether
    it existed."""
    import shutil

    fam_path = os.path.join(path, "families", family)
    existed = os.path.isdir(fam_path)
    shutil.rmtree(fam_path, ignore_errors=True)
    return existed


def audit_dataset(
    spark: SparkSession, path: str, deep: bool = False
) -> dict:
    """Integrity audit (fsck) of an encoded dataset: reconcile what is ON
    DISK against what the lineage manifest CLAIMS, per unit, base and every
    column family. At 10^12 sequences storage drifts — a crashed mutation
    leaves an unmanifested partition (the resume path repairs it), an
    operator rmtree's the wrong directory, media rots — and the audit is
    how drift is found before a training run reads garbage.

    Metadata-only by default: the blocks scan reads lineage columns only
    (parquet column pruning keeps payload bytes on disk) and recomputes the
    per-unit rollup `_unit_rollup_aggs` writes, so a mismatch in ANY of
    n_blocks / n_rows / n_values / out_bytes / checksum is caught without
    decoding a value. ``deep=True`` additionally decodes every block —
    running each codec kernel and the stored CRC-32 check, so silent
    payload corruption surfaces as BlockCorruptionError — and verifies the
    decoded row count against the manifest total.

    Returns per-tree findings::

        {"<tree>": {
            "units_ok": int,
            "mismatched": [unit_id...],   # both sides present, rollup differs
            "unmanifested": [unit_id...], # blocks on disk, no manifest row
                                          # (the encode crash window; resume
                                          # repairs it)
            "missing_blocks": [unit_id...], # manifest row, no blocks on disk
            "deep_rows": int | None,      # decoded rows (deep only)
            "ok": bool,
        }, ...}

    where ``<tree>`` is ``"base"`` or ``"family:<name>"``. Bloom indexes
    get their own entries under ``"<tree>:bloom:<column>"``
    (:func:`xml2arrow_spark.operators.bloomidx.audit_index`): metadata
    checks stored key sets against on-disk blocks; deep recomputes the
    filter bytes from decoded values.
    """
    def _audit_tree(tree_path: str, ddl: str) -> dict:
        blocks_dir = os.path.join(tree_path, "blocks")
        try:
            blocks = spark.read.parquet(blocks_dir)
        except Exception:
            blocks = None
        manifest_df = completed_units(spark, tree_path)
        claimed = {
            r["unit_id"]: r.asDict() for r in manifest_df.collect()
        }  # one row per unit — metadata-scale
        actual = {}
        if blocks is not None:
            actual = {
                r["unit_id"]: r.asDict()
                for r in blocks.groupBy("unit_id").agg(*_unit_rollup_aggs()).collect()
            }
        fields = (
            "n_blocks", "n_rows", "n_values", "in_bytes", "out_bytes",
            "checksum",
        )
        mismatched = sorted(
            u
            for u in claimed.keys() & actual.keys()
            if any(claimed[u][f] != actual[u][f] for f in fields)
        )
        unmanifested = sorted(actual.keys() - claimed.keys())
        missing = sorted(claimed.keys() - actual.keys())
        deep_rows = None
        if deep and blocks is not None:
            # full decode: every kernel runs, every stored CRC is checked
            # (BlockCorruptionError propagates — corruption FAILS the audit
            # rather than appearing in a report it might never reach)
            deep_rows = decode_table(blocks, ddl).count()
        out = {
            "units_ok": len(claimed.keys() & actual.keys()) - len(mismatched),
            "mismatched": mismatched,
            "unmanifested": unmanifested,
            "missing_blocks": missing,
            "deep_rows": deep_rows,
        }
        claimed_rows = sum(r["n_rows"] for r in claimed.values())
        out["ok"] = (
            not mismatched
            and not unmanifested
            and not missing
            and (deep_rows is None or deep_rows == claimed_rows)
        )
        return out

    _, ddl, _n_units, _presort = _load_sidecar(path)
    report = {"base": _audit_tree(path, ddl)}
    for fam, cols in list_families(path).items():
        fam_path = os.path.join(path, "families", fam)
        report[f"family:{fam}"] = _audit_tree(fam_path, ", ".join(cols.values()))
    # Bloom indexes are part of the dataset's read correctness (a stale
    # filter silently DROPS rows from point lookups) — fsck them too:
    # metadata = stored key sets equal on-disk block key sets per indexed
    # unit; deep = stored bits byte-equal a recompute from decoded values.
    for tname, tree_path in [("base", path)] + [
        (f"family:{fam}", os.path.join(path, "families", fam))
        for fam in list_families(path)
    ]:
        for col in bloomidx.list_indexes(tree_path):
            report[f"{tname}:bloom:{col}"] = bloomidx.audit_index(
                spark, tree_path, col, deep=deep
            )
    # pending tombstones are healthy state (merge-on-read deletes awaiting
    # their fold), but an operator running fsck should SEE them — they gate
    # the metadata-accelerated aggregates until apply_tombstones folds them
    if tombstones.has_pending(path):
        report["tombstones"] = {
            "pending_units": tombstones.pending_units(path),
            "pending_ids": tombstones.pending_count(path),
            "ok": True,
        }
    return report


def column_stats(spark: SparkSession, path: str) -> DataFrame:
    """Exact per-column min/max of a row-level encoded dataset from zone
    maps alone — no payload decode (delegates to
    :func:`~xml2arrow_spark.operators.dataset.dataset_column_stats`, which
    reads the same nested block layout), extended across every column
    family: one row per (tree, column), ``tree`` = 'base' or
    'family:<name>'. The query-planning surface for 10^12-sequence scans:
    selectivity estimates and zone-filter bounds without touching payload
    bytes."""
    from xml2arrow_spark.operators.dataset import dataset_column_stats

    out = dataset_column_stats(spark, path).withColumn("tree", F.lit("base"))
    for fam in list_families(path):
        out = out.unionByName(
            dataset_column_stats(
                spark, os.path.join(path, "families", fam)
            ).withColumn("tree", F.lit(f"family:{fam}"))
        )
    return out


def materialize_bucketed(
    spark: SparkSession,
    path: str,
    table_prefix: str,
    buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Make repeated downstream id-joins exchange-free: decode the base and
    each column family ONCE into bucketed managed tables
    (``bucketBy(buckets, id)`` + in-bucket sort), then rebuild the family
    join FROM the bucketed tables — both sides hash the same key into the
    same bucket count, so Catalyst plans the join with ZERO shuffle
    exchanges (pinned by test). This is the executed form of the read
    path's "at 100 TB, bucketBy both sides" note: read_encoded_dataset
    joins pay one exchange per family per query; a corpus that will be
    joined many times (training-data assembly, repeated family probes)
    pays the shuffle once at materialization.

    Tables are named ``<table_prefix>_base`` and
    ``<table_prefix>_fam_<family>``; existing tables are replaced. Returns
    the joined DataFrame over the bucketed tables (same columns as
    ``read_encoded_dataset(spark, path)``)."""
    columns, base_cols, _bw, fams, fam_want = _resolve_columns(
        path, None, id_col
    )

    def _sink(df: DataFrame, table: str) -> DataFrame:
        import shutil
        from urllib.parse import urlparse

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # a crashed prior materialization can orphan the managed location
        # (table gone from the catalog, directory still on disk) — the
        # create then refuses with LOCATION_ALREADY_EXISTS; clear it
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        orphan = os.path.join(wh, table.split(".")[-1].lower())
        if os.path.exists(orphan):
            shutil.rmtree(orphan, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, id_col)
            .sortBy(id_col)
            .saveAsTable(table)
        )
        return spark.table(table)

    out = _sink(
        read_encoded_dataset(spark, path, columns=list(base_cols)),
        f"{table_prefix}_base",
    )
    for fam, cols in fam_want.items():
        fdf = decode_table(
            spark.read.parquet(os.path.join(path, "families", fam, "blocks")),
            ", ".join([fams[fam][id_col]] + [fams[fam][c] for c in cols]),
        )
        out = out.join(_sink(fdf, f"{table_prefix}_fam_{fam}"), id_col, "left")
    return out.select(*columns)
