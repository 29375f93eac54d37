"""Training-shard export: materialize a curated slice of a stored encoded
dataset as training-ready parquet shards with a verifiable manifest.

The engine's own sinks store ENCODED blocks; a training run wants plain
columnar shards in a deterministic pseudo-random order. ``export_slice``
composes the engine's pruned decode (zone maps -> in-kernel row selection,
storage-level column pruning) with the deterministic shuffle-order hash
(:func:`xml2arrow_spark.pipeline.sampling.shuffle_order`), writes one
directory per shard through the partitioned parquet sink, and records a
driver-side manifest (per-shard row counts + an order-invariant id
fingerprint) that :func:`verify_export` recomputes from the written files —
a partial or corrupted export is detectable BEFORE a training run consumes
it.

Scale shape (the parts that must survive 100 TB):

- one fused pruned decode of the slice (zone prune -> in-kernel row
  selection -> column-pruned payload read), one exchange on ``shard``, an
  in-partition sort for the training order — never a global sort;
- the fingerprint pass is a column-pruned scan of ONE int64 column of the
  OUTPUT (distributed aggregate, KB-scale collect: one row per shard);
  each hash term is pmod-bounded to 1e6 before summing so the per-shard
  sums stay far inside int64 at any corpus size (10^12 rows x 1e6 < 2^60);
- the manifest itself is KB-scale driver metadata, staged + renamed
  (crash debris is ignorable, repo ground rule — no Spark job for KB).

Pick ``n_shards`` well above the executor count: shards stay memory-sized,
the within-shard sorts parallelize, and a training loader streams each
shard independently. Shard assignment is a pure function of the id, so
re-exporting the same slice reproduces the same layout bit-for-bit.

Reference analog: none — the reference stops at in-memory RecordBatches
(/root/reference/src/lib.rs); the shard sink is the beyond-reference piece
a 10^12-sequence corpus needs between curation and the training loader.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from xml2arrow_spark.errors import EncodeTypeError

__all__ = ["export_slice", "verify_export", "read_export"]

MANIFEST_NAME = "_export_manifest.json"
_FP_MOD = 1_000_003  # per-term bound: 10^12 terms * 1e6 fits int64


def _fingerprint_col(id_col: str):
    """Order-invariant per-shard id fingerprint term: xxhash64 of the id,
    pmod-bounded BEFORE the sum (full-range terms overflow ANSI int64 sums
    on real row counts — repo ground rule)."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(_FP_MOD))


def _shard_stats(df, id_col: str, with_pos: bool):
    """One column-pruned distributed pass -> [{shard, n_rows, fp, ...}]."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_fingerprint_col(id_col)).alias("fp"),
    ]
    if with_pos:
        # contiguity witnesses: pos must be exactly 0..n-1 per shard
        aggs += [F.max("pos").alias("pos_max"), F.sum("pos").alias("pos_sum")]
    rows = df.groupBy("shard").agg(*aggs).collect()  # one row per shard: KB
    out = []
    for r in sorted(rows, key=lambda r: r["shard"]):
        d = {"shard": int(r["shard"]), "n_rows": int(r["n_rows"]),
             "fp": int(r["fp"])}
        if with_pos:
            d["pos_max"] = int(r["pos_max"])
            d["pos_sum"] = int(r["pos_sum"])
        out.append(d)
    return out


def export_slice(
    spark,
    dataset_path: str,
    dest: str,
    id_col: str,
    columns: list[str] | None = None,
    zone_filter=None,
    row_filter=None,
    n_shards: int = 16,
    order: bool = True,
    mode: str = "error",
    compression: str = "zstd",
    curated: bool = False,
) -> dict:
    """Decode a pruned slice of the stored dataset at ``dataset_path`` and
    write it to ``dest`` as ``shard=<i>/`` parquet directories plus a
    verifiable manifest. Returns the manifest dict.

    ``columns``/``zone_filter``/``row_filter`` have
    :func:`~xml2arrow_spark.operators.dataset.decode_dataset` semantics
    (the slice is pruned at the block level and selected inside the decode
    kernel — unqualified payload never crosses the Arrow boundary).
    ``id_col`` must be an integer or string column of the dataset; it is
    decoded even when not in ``columns`` (shard assignment and the
    fingerprint need it) and always present in the output. Integer ids
    shard through the oracle-portable shuffle hash
    (:func:`~xml2arrow_spark.pipeline.sampling.shuffle_order`); string
    ids (the curated corpus's doc_id) through xxhash64 — equally
    deterministic across runs and cluster sizes, just not reproducible in
    a SQL oracle.

    ``curated=True`` reads through :func:`~xml2arrow_spark.operators
    .checkpoint.read_encoded_dataset` instead — the row-level checkpoint
    dataset's curated view, so ``columns`` may name COLUMN-FAMILY columns
    (a backfilled quality score exports alongside the base payload;
    family-uncovered rows carry NULL) and row filters stay base-column
    exact.

    ``order=True`` adds the deterministic training order: ``pos`` is the
    dense 0-based rank within the shard by (shuffle-hash, id), and rows
    land in the shard files in ``pos`` order. ``order=False`` skips the
    within-shard sort (cheaper; shard membership still deterministic).

    ``mode="error"`` refuses a non-empty ``dest``; ``mode="overwrite"``
    replaces it. The write itself goes through Spark's partitioned sink —
    an interrupted export leaves no manifest, so :func:`verify_export`
    (and :func:`read_export`) refuse the debris.
    """
    from xml2arrow_spark.manifest import read_sidecar
    from xml2arrow_spark.operators.dataset import _column_type, decode_dataset
    from xml2arrow_spark.operators.encode import split_schema_ddl
    from xml2arrow_spark.pipeline.sampling import shuffle_order

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if mode not in ("error", "overwrite"):
        raise ValueError(f"mode must be 'error' or 'overwrite', got {mode!r}")
    if os.path.exists(dest) and os.listdir(dest):
        if mode == "error":
            raise FileExistsError(
                f"export destination {dest!r} is not empty; pass "
                f"mode='overwrite' to replace it"
            )
        shutil.rmtree(dest)

    side = read_sidecar(dataset_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    id_type = _column_type(by_name, id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint", "string"):
        raise EncodeTypeError(
            f"export_slice needs an integer or string id column for "
            f"deterministic shard assignment, got {id_col} {id_type}"
        )
    if columns is None:
        out_cols = list(by_name)
    else:
        out_cols = list(dict.fromkeys([*columns, id_col]))

    if curated:
        from xml2arrow_spark.operators.checkpoint import read_encoded_dataset

        df = read_encoded_dataset(
            spark, dataset_path,
            columns=None if columns is None else out_cols,
            zone_filter=zone_filter, row_filter=row_filter, id_col=id_col,
        )
        out_cols = list(df.columns)
    else:
        df = decode_dataset(
            spark, dataset_path, columns=out_cols,
            zone_filter=zone_filter, row_filter=row_filter,
        )
    if order:
        if id_type == "string":
            # xxhash-based twin of shuffle_order for string ids: same
            # plan shape (ONE exchange — the rank window's own), same
            # determinism; ties broken by the id itself
            from pyspark.sql import Window

            rh = F.xxhash64(F.col(id_col))
            w = Window.partitionBy("shard").orderBy("_rh", id_col)
            sharded = (
                df.withColumn("_rh", rh)
                .withColumn(
                    "shard",
                    F.pmod(F.col("_rh"), F.lit(int(n_shards))).cast("int"),
                )
                .withColumn(
                    "pos", (F.row_number().over(w) - F.lit(1)).cast("long")
                )
                .drop("_rh")
            )
        else:
            # shuffle_order's rank window already exchanges on `shard` and
            # leaves each partition sorted (shard, pos) — the partitioned
            # sink streams that order straight into the shard files, no
            # second exchange and no extra sort
            sharded = shuffle_order(df, n_shards=n_shards, id_col=id_col)
        data_cols = [*out_cols, "pos"]
    else:
        from xml2arrow_spark.pipeline import sqlgen as G

        if id_type == "string":
            rh = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_shards)))
            sharded = df.withColumn("shard", rh.cast("int")).repartition(
                n_shards, "shard"
            )
        else:
            rh = F.expr(G.shuffle_hash_expr(id_col, "spark"))
            sharded = df.withColumn(
                "shard", (rh % F.lit(int(n_shards))).cast("int")
            ).repartition(n_shards, "shard")
        data_cols = list(out_cols)

    (
        sharded.select(*data_cols, "shard")
        .write.mode("overwrite")
        .option("compression", compression)
        .partitionBy("shard")
        .parquet(dest)
    )

    # verification pass: one column-pruned scan of the OUTPUT (id [+ pos]),
    # so the manifest attests what was actually written, not what the
    # decode produced (an empty slice writes no shard dirs at all)
    if any(d.startswith("shard=") for d in os.listdir(dest)):
        written = spark.read.parquet(dest)
        shards = _shard_stats(
            written.select(id_col, "shard", *(["pos"] if order else [])),
            id_col, with_pos=order,
        )
    else:
        shards = []
    manifest = {
        "format": "xml2arrow_spark/export/v1",
        "source": os.path.abspath(dataset_path),
        "id_col": id_col,
        "columns": data_cols,
        "n_shards": int(n_shards),
        "ordered": bool(order),
        "zone_filter": repr(zone_filter) if zone_filter is not None else None,
        "row_filter": repr(row_filter) if row_filter is not None else None,
        "n_rows": sum(s["n_rows"] for s in shards),
        "fp_mod": _FP_MOD,
        "schema_ddl": ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.select(*out_cols).schema.fields
        ) + (", pos bigint" if order else ""),
        "shards": shards,
    }
    tmp = os.path.join(dest, f".{MANIFEST_NAME}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(dest, MANIFEST_NAME))
    return manifest


def _load_manifest(dest: str) -> dict:
    path = os.path.join(dest, MANIFEST_NAME)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"{dest!r} has no {MANIFEST_NAME} — not a completed export "
            f"(an interrupted export never writes one)"
        )
    with open(path) as f:
        return json.load(f)


def read_export(spark, dest: str):
    """Read a completed export back as a DataFrame (shard column included).
    Refuses directories without a manifest; an empty slice returns an
    empty frame with the manifest's schema."""
    man = _load_manifest(dest)
    if man["n_rows"] == 0:
        from pyspark.sql.types import IntegerType, StructType

        schema = StructType.fromDDL(man["schema_ddl"]).add("shard", IntegerType())
        return spark.createDataFrame([], schema)
    return spark.read.parquet(dest)


def verify_export(spark, dest: str) -> dict:
    """Recompute the manifest's per-shard evidence from the written files
    and compare: shard set, per-shard row counts, order-invariant id
    fingerprints, and (ordered exports) the pos-contiguity witnesses
    (max(pos) == n-1 and sum(pos) == n(n-1)/2 — pos is exactly 0..n-1).
    Returns ``{"ok": bool, "findings": [str, ...], "n_rows": int}``; a
    clean export returns ok=True with no findings."""
    man = _load_manifest(dest)
    findings: list[str] = []
    if man["n_rows"] == 0:
        dirs = [d for d in os.listdir(dest) if d.startswith("shard=")]
        if dirs:
            findings.append(f"manifest says 0 rows but shard dirs exist: {dirs}")
        return {"ok": not findings, "findings": findings, "n_rows": 0}

    got = _shard_stats(
        spark.read.parquet(dest).select(
            man["id_col"], "shard", *(["pos"] if man["ordered"] else [])
        ),
        man["id_col"], with_pos=man["ordered"],
    )
    want = {s["shard"]: s for s in man["shards"]}
    have = {s["shard"]: s for s in got}
    for sh in sorted(set(want) - set(have)):
        findings.append(f"shard {sh}: in manifest but missing on disk")
    for sh in sorted(set(have) - set(want)):
        findings.append(f"shard {sh}: on disk but not in manifest")
    for sh in sorted(set(want) & set(have)):
        w, h = want[sh], have[sh]
        if w["n_rows"] != h["n_rows"]:
            findings.append(
                f"shard {sh}: {h['n_rows']} rows on disk, manifest says "
                f"{w['n_rows']}"
            )
        elif w["fp"] != h["fp"]:
            findings.append(
                f"shard {sh}: id fingerprint mismatch "
                f"({h['fp']} != {w['fp']})"
            )
        if man["ordered"] and w["n_rows"] == h["n_rows"]:
            n = h["n_rows"]
            if h["pos_max"] != n - 1 or h["pos_sum"] != n * (n - 1) // 2:
                findings.append(
                    f"shard {sh}: pos is not the contiguous 0..{n - 1} "
                    f"training order"
                )
    n_rows = sum(s["n_rows"] for s in got)
    if n_rows != man["n_rows"]:
        findings.append(
            f"total rows {n_rows} != manifest {man['n_rows']}"
        )
    return {"ok": not findings, "findings": findings, "n_rows": n_rows}
