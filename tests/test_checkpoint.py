"""Checkpoint/resume — FIXTURES.md F4: a partially-completed run resumes by
encoding exactly the missing units (left-anti join), re-encoding nothing."""

import glob
import os

import pytest

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.checkpoint import (
    completed_units,
    encode_dataset,
    plan_units,
    read_encoded_dataset,
)
from xml2arrow_spark.operators.verify import verify_roundtrip
from xml2arrow_spark.sources import tokens_dataframe


def _data_files(path):
    return set(glob.glob(os.path.join(path, "blocks", "**", "*.parquet"), recursive=True))


def test_full_run_and_noop_resume(spark, tmp_path):
    path = str(tmp_path / "enc")
    df = tokens_dataframe(spark, 3000, variant="skewed_zipf", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)

    m1 = encode_dataset(df, path, man, n_units=8)
    assert m1["units"] == 8 and m1["rows"] == 3000
    assert verify_roundtrip(df, read_encoded_dataset(spark, path))["ok"]

    files_before = _data_files(path)
    m2 = encode_dataset(df, path, man, n_units=8)  # no-op resume
    assert m2["rows"] == 3000
    assert _data_files(path) == files_before  # nothing re-encoded
    assert read_encoded_dataset(spark, path).count() == 3000
    df.unpersist()


def test_partial_failure_resume(spark, tmp_path):
    path = str(tmp_path / "enc2")
    df = tokens_dataframe(spark, 3000, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)

    # simulate a run that died after 3 of 8 units
    units = plan_units(df, 8)
    partial = units.filter("unit_id < 3").drop("unit_id")
    m1 = encode_dataset(partial, path, man, n_units=8)
    assert m1["units"] == 3

    # resume with the full input: must complete the other 5 and nothing else
    files_before = _data_files(path)
    encode_dataset(df, path, man, n_units=8)
    done = completed_units(spark, path)
    assert done.select("unit_id").distinct().count() == 8
    new_files = _data_files(path) - files_before
    touched_units = {f.split("unit_id=")[1].split("/")[0] for f in new_files}
    assert touched_units.isdisjoint({"0", "1", "2"})  # completed units untouched
    assert verify_roundtrip(df, read_encoded_dataset(spark, path))["ok"]
    df.unpersist()


def test_crash_between_blocks_write_and_manifest_append(spark, tmp_path):
    """The REAL crash window (VERDICT r03 #1): a run dies after the blocks
    job commits a unit's partition but before the driver appends its
    manifest row. The unit is then absent from `done`, so the next run
    re-encodes it — and the sink must REPLACE the orphaned partition
    (dynamic partition overwrite), not append a second copy. Simulated
    exactly: snapshot the manifest dir, encode one extra unit, restore the
    snapshot (its blocks stay, its manifest row vanishes), resume."""
    import shutil

    path = str(tmp_path / "enc4")
    df = tokens_dataframe(spark, 3000, variant="skewed_zipf", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)

    encode_dataset(df, path, man, n_units=8, only_units=[0, 1, 2])
    # crash window: unit 3's blocks land on disk, its manifest append doesn't
    mdir = os.path.join(path, "manifest")
    snap = str(tmp_path / "manifest_snapshot")
    shutil.copytree(mdir, snap)
    encode_dataset(df, path, man, n_units=8, only_units=[3])
    shutil.rmtree(mdir)
    shutil.copytree(snap, mdir)
    assert completed_units(spark, path).count() == 3  # unit 3 unmanifested
    orphan = spark.read.parquet(os.path.join(path, "blocks")).filter(
        "unit_id = 3"
    )
    orphan_rows = orphan.agg({"n_rows": "sum"}).collect()[0][0]
    assert orphan_rows and orphan_rows > 0  # its blocks ARE on disk

    # resume: unit 3 re-encodes and must REPLACE its partition
    m = encode_dataset(df, path, man, n_units=8)
    assert m["units"] == 8 and m["rows"] == 3000  # rollup counts not doubled
    replayed = spark.read.parquet(os.path.join(path, "blocks")).filter(
        "unit_id = 3"
    )
    assert replayed.agg({"n_rows": "sum"}).collect()[0][0] == orphan_rows
    # decoded row multiset equals the input — duplicates would fail this
    assert verify_roundtrip(df, read_encoded_dataset(spark, path))["ok"]
    assert read_encoded_dataset(spark, path).count() == 3000
    df.unpersist()


def test_resume_refuses_unreadable_manifest(spark, tmp_path):
    """An existing manifest that cannot be read must fail the resume, not
    read as empty: that would re-encode every unit and append a second
    manifest row for each."""
    path = str(tmp_path / "enc_corrupt")
    df = tokens_dataframe(spark, 1500, variant="low_card", n_partitions=4)
    man = CodecManifest.auto_for(df.schema, block_rows=512)
    encode_dataset(df, path, man, n_units=4, only_units=[0, 1])
    mdir = os.path.join(path, "manifest")
    # sorts ahead of the manifest-<uuid> files: Spark infers the schema
    # from this unreadable footer
    with open(os.path.join(mdir, "a-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    spark.catalog.refreshByPath(mdir)
    before = sorted(os.listdir(mdir))
    with pytest.raises(Exception):
        encode_dataset(df, path, man, n_units=4)
    assert sorted(os.listdir(mdir)) == before  # nothing appended


def test_rollup_falls_back_to_spark_when_manifest_unreadable_locally(
    spark, tmp_path, monkeypatch
):
    """The post-write lineage rollup reads the manifest driver-side; if that
    read fails it must take the distributed anti-join rollup (which reads
    the manifest through Spark), never treat the manifest as empty."""
    from xml2arrow_spark.operators import checkpoint, metadata

    path = str(tmp_path / "enc_fallback")
    df = tokens_dataframe(spark, 1500, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)
    encode_dataset(df, path, man, n_units=4, only_units=[0, 1])

    def unreadable(mdir):
        raise OSError(f"cannot read {mdir}")

    def no_local_rollup(*args, **kwargs):
        raise AssertionError("local rollup must not run")

    monkeypatch.setattr(metadata, "read_unit_ids", unreadable)
    monkeypatch.setattr(checkpoint, "_unit_rollup_local", no_local_rollup)
    m = encode_dataset(df, path, man, n_units=4)
    assert m["units"] == 4 and m["rows"] == 1500
    ids = [r.unit_id for r in completed_units(spark, path).collect()]
    assert sorted(ids) == [0, 1, 2, 3]  # one manifest row per unit
    df.unpersist()


def test_manifest_sidecar_written(spark, tmp_path):
    path = str(tmp_path / "enc3")
    df = tokens_dataframe(spark, 500, n_partitions=2)
    encode_dataset(df, path, CodecManifest.auto_for(df.schema), n_units=2)
    assert os.path.exists(os.path.join(path, "_manifest.yaml"))
    meta = completed_units(spark, path)
    row = meta.agg({"in_bytes": "sum", "out_bytes": "sum"}).collect()[0]
    assert row[0] > 0 and row[1] > 0
    # subset decode + zone-filter pass-through on the row-level dataset
    sub = read_encoded_dataset(spark, path, columns=["doc_id", "n_tok"])
    assert sub.columns == ["doc_id", "n_tok"] and sub.count() == 500
    zf = read_encoded_dataset(
        spark, path, columns=["doc_id", "n_tok"],
        zone_filter=[("n_tok", 0, 10)],
    ).filter("n_tok <= 10")
    assert zf.count() == df.filter("n_tok <= 10").count()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lacks encoded column"):
        read_encoded_dataset(spark, path, columns=["nope"])


# -- delete_rows (row-level delete with unit-pruned re-encode, r05) ----------


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id string")


def test_delete_rows_rewrites_only_affected_units(spark, tmp_path):
    """Deletion must (a) leave the dataset equal to the anti-joined input,
    (b) rewrite ONLY the units the doomed ids hash into — every other
    unit's files are untouched bytes, (c) update the manifest rollup."""
    path = str(tmp_path / "del1")
    df = tokens_dataframe(spark, 3000, variant="skewed_zipf", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)
    encode_dataset(df, path, man, n_units=8)

    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import delete_rows

    doomed = [r["doc_id"] for r in df.select("doc_id").limit(40).collect()]
    victim_units = {
        r["unit_id"]
        for r in plan_units(_ids_df(spark, doomed), 8).select("unit_id").collect()
    }
    untouched = {
        f for f in _data_files(path)
        if int(f.split("unit_id=")[1].split("/")[0]) not in victim_units
    }
    before_mtimes = {f: os.path.getmtime(f) for f in untouched}

    m = delete_rows(_ids_df(spark, doomed), path)
    assert m["affected_units"] == len(victim_units)
    assert m["rows_deleted"] == 40
    assert m["rows_before"] - m["rows_after"] == 40

    # (a) content equality with the anti-joined input
    expect = df.join(_ids_df(spark, doomed), "doc_id", "left_anti")
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    # (b) untouched units: identical files, identical mtimes
    assert {f: os.path.getmtime(f) for f in untouched} == before_mtimes
    # (c) manifest agrees with the data and keeps one row per unit
    done = completed_units(spark, path)
    assert done.count() == done.select("unit_id").distinct().count()
    assert done.agg(F.sum("n_rows")).collect()[0][0] == 3000 - 40
    df.unpersist()


def test_delete_rows_empties_whole_unit_and_replays_idempotently(spark, tmp_path):
    """Deleting EVERY row of a unit must remove its blocks partition and its
    manifest row (dynamic overwrite alone cannot — it only touches written
    partitions); re-running the same delete is a no-op that reports 0."""
    path = str(tmp_path / "del2")
    df = tokens_dataframe(spark, 2000, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)
    encode_dataset(df, path, man, n_units=4)

    from xml2arrow_spark.operators.checkpoint import delete_rows

    unit0_ids = [
        r["doc_id"]
        for r in plan_units(df, 4).filter("unit_id = 0").select("doc_id").collect()
    ]
    assert unit0_ids  # the variant populates every unit at this size
    m = delete_rows(_ids_df(spark, unit0_ids), path)
    assert m["rows_deleted"] == len(unit0_ids)
    assert not os.path.exists(os.path.join(path, "blocks", "unit_id=0"))
    done = completed_units(spark, path)
    assert done.filter("unit_id = 0").count() == 0
    expect = df.join(_ids_df(spark, unit0_ids), "doc_id", "left_anti")
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]

    # replay: same ids again — affected unit is already gone from the data
    m2 = delete_rows(_ids_df(spark, unit0_ids), path)
    assert m2["rows_deleted"] == 0
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    # absent ids are a clean no-op too
    m3 = delete_rows(_ids_df(spark, ["no_such_doc"]), path)
    assert m3["rows_deleted"] == 0
    df.unpersist()


def test_delete_rows_crash_windows_repair_on_rerun(spark, tmp_path, monkeypatch):
    """The two crash windows: (1) died after the blocks rewrite but before
    any manifest work — data already correct, lineage stale; (2) died mid
    manifest swap — healed on entry. Re-running the SAME delete must repair
    both to the fully-committed state."""
    path = str(tmp_path / "del3")
    df = tokens_dataframe(spark, 1500, variant="uniform_vocab", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=256)
    encode_dataset(df, path, man, n_units=4)

    import xml2arrow_spark.operators.checkpoint as cp

    doomed = [r["doc_id"] for r in df.select("doc_id").limit(25).collect()]
    expect = df.join(_ids_df(spark, doomed), "doc_id", "left_anti")

    # window 1: crash right after the blocks overwrite
    real = cp._unit_rollup_local

    def boom(*_a, **_k):
        raise RuntimeError("injected crash after blocks rewrite")

    monkeypatch.setattr(cp, "_unit_rollup_local", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        cp.delete_rows(_ids_df(spark, doomed), path)
    monkeypatch.setattr(cp, "_unit_rollup_local", real)
    # data is already correct; the manifest still claims the old counts
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    m = cp.delete_rows(_ids_df(spark, doomed), path)  # repair run
    # rows_before is read from the (stale) manifest, so the repair run
    # reports the crashed run's work as its own — the lineage catch-up;
    # the data itself was already correct (verified above)
    assert m["rows_deleted"] == 25
    from pyspark.sql import functions as F

    assert (
        completed_units(spark, path).agg(F.sum("n_rows")).collect()[0][0]
        == 1500 - 25
    )

    # window 2: crash mid-swap (manifest renamed away, .new not yet in)
    mdir = os.path.join(path, "manifest")
    os.rename(mdir, mdir + ".old")
    m2 = cp.delete_rows(_ids_df(spark, doomed), path)  # heals, then no-ops
    assert m2["rows_deleted"] == 0
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    assert (
        completed_units(spark, path).agg(F.sum("n_rows")).collect()[0][0]
        == 1500 - 25
    )
    df.unpersist()


# -- upsert_rows / lookup_rows (merge + point reads, r05 continuation) --------


def test_upsert_rows_replaces_and_inserts_only_affected_units(spark, tmp_path):
    """Merge semantics: ids already present are replaced by the batch row,
    new ids are inserted; only the units the batch ids hash into are
    rewritten (every other unit's files keep their mtimes); the manifest
    rollup agrees with the data."""
    path = str(tmp_path / "ups1")
    df = tokens_dataframe(spark, 3000, variant="skewed_zipf", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=512)
    encode_dataset(df, path, man, n_units=8)

    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import upsert_rows

    # batch: 30 replaced docs (tokens truncated) + 10 brand-new docs
    replaced = (
        df.orderBy("doc_id").limit(30)
        .withColumn("tokens", F.expr("slice(tokens, 1, 8)"))
        .withColumn("n_tok", F.expr("CAST(size(slice(tokens, 1, 8)) AS INT)"))
    )
    inserted = (
        df.orderBy("doc_id").limit(10)
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("::new")))
    )
    batch = replaced.unionByName(inserted).cache()

    victim_units = {
        r["unit_id"]
        for r in plan_units(batch.select("doc_id"), 8).select("unit_id").collect()
    }
    untouched = {
        f for f in _data_files(path)
        if int(f.split("unit_id=")[1].split("/")[0]) not in victim_units
    }
    before_mtimes = {f: os.path.getmtime(f) for f in untouched}

    m = upsert_rows(batch, path)
    assert m["affected_units"] == len(victim_units)
    assert m["rows_in_batch"] == 40
    assert m["rows_replaced"] == 30
    assert m["rows_inserted"] == 10
    assert m["rows_after"] - m["rows_before"] == 10

    expect = df.join(batch.select("doc_id"), "doc_id", "left_anti").unionByName(batch)
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    assert {f: os.path.getmtime(f) for f in untouched} == before_mtimes
    done = completed_units(spark, path)
    assert done.count() == done.select("unit_id").distinct().count()
    from pyspark.sql import functions as F2

    assert done.agg(F2.sum("n_rows")).collect()[0][0] == 3000 + 10

    # replay the same batch: idempotent (replace-by-id), nothing inserted
    m2 = upsert_rows(batch, path)
    assert m2["rows_replaced"] == 40 and m2["rows_inserted"] == 0
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    batch.unpersist()
    df.unpersist()


def test_upsert_rows_refuses_bad_batches(spark, tmp_path):
    """Schema drift and in-batch duplicate ids are refused, not resolved
    silently; an empty batch is a clean no-op."""
    import pytest as _pytest

    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.operators.checkpoint import upsert_rows

    path = str(tmp_path / "ups2")
    df = tokens_dataframe(spark, 500, n_partitions=2).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema), n_units=4)

    with _pytest.raises(ManifestError, match="lacks encoded column"):
        upsert_rows(df.drop("source"), path)
    with _pytest.raises(ManifestError, match="does not match"):
        upsert_rows(df.withColumn("n_tok", df.n_tok.cast("long")), path)
    with _pytest.raises(ValueError, match="duplicate"):
        upsert_rows(df.orderBy("doc_id").limit(5).unionByName(df.orderBy("doc_id").limit(5)), path)
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError, match="NULL"):
        upsert_rows(
            df.limit(3).withColumn("doc_id", F.lit(None).cast("string")), path
        )
    m = upsert_rows(df.limit(0), path)
    assert m == {
        "affected_units": 0, "rows_in_batch": 0, "rows_replaced": 0,
        "rows_inserted": 0, "rows_before": 0, "rows_after": 0,
    }
    assert read_encoded_dataset(spark, path).count() == 500
    df.unpersist()


def test_upsert_rows_crash_windows_repair_on_rerun(spark, tmp_path, monkeypatch):
    """Same two crash windows as delete: (1) after the blocks rewrite,
    before manifest work — data correct, lineage stale; (2) mid manifest
    swap — healed on entry. Replaying the SAME batch repairs both."""
    import pytest as _pytest

    import xml2arrow_spark.operators.checkpoint as cp

    path = str(tmp_path / "ups3")
    df = tokens_dataframe(spark, 1500, variant="uniform_vocab", n_partitions=4).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=256), n_units=4)

    from pyspark.sql import functions as F

    batch = (
        df.orderBy("doc_id").limit(20)
        .withColumn("tokens", F.expr("slice(tokens, 1, 4)"))
        .withColumn("n_tok", F.expr("CAST(size(slice(tokens, 1, 4)) AS INT)"))
    ).cache()
    expect = df.join(batch.select("doc_id"), "doc_id", "left_anti").unionByName(batch)

    real = cp._unit_rollup_local

    def boom(*_a, **_k):
        raise RuntimeError("injected crash after blocks rewrite")

    monkeypatch.setattr(cp, "_unit_rollup_local", boom)
    with _pytest.raises(RuntimeError, match="injected"):
        cp.upsert_rows(batch, path)
    monkeypatch.setattr(cp, "_unit_rollup_local", real)
    # data already correct, lineage stale; replay repairs the lineage
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    m = cp.upsert_rows(batch, path)
    assert m["rows_inserted"] == 0 and m["rows_replaced"] == 20
    assert (
        completed_units(spark, path).agg(F.sum("n_rows")).collect()[0][0] == 1500
    )

    # window 2: crash mid-swap (manifest renamed away, .new not yet in)
    mdir = os.path.join(path, "manifest")
    os.rename(mdir, mdir + ".old")
    m2 = cp.upsert_rows(batch, path)  # heals, then replays cleanly
    assert m2["rows_inserted"] == 0 and m2["rows_replaced"] == 20
    assert verify_roundtrip(expect, read_encoded_dataset(spark, path))["ok"]
    batch.unpersist()
    df.unpersist()


def test_lookup_rows_prunes_to_affected_units(spark, tmp_path):
    """Point reads decode only the units the ids hash into: the executed
    plan's PartitionFilters must pin the pruning, results must equal the
    semi-joined input, and absent ids return no row."""
    path = str(tmp_path / "look1")
    df = tokens_dataframe(spark, 2000, variant="low_card", n_partitions=4).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=512), n_units=8)

    from xml2arrow_spark.operators.checkpoint import lookup_rows

    wanted = [r["doc_id"] for r in df.select("doc_id").limit(7).collect()]
    got = lookup_rows(_ids_df(spark, wanted + ["no_such_doc"]), path)
    expect = df.join(_ids_df(spark, wanted), "doc_id", "left_semi")
    assert verify_roundtrip(expect, got)["ok"]
    assert got.count() == 7

    # pruning pin: the unit filter must reach the scan's PartitionFilters
    # (df.inputFiles ignores pruning — round-4 gotcha — so read the plan)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "unit_id" in plan
    df.unpersist()


# -- add_columns / column families (schema evolution, r05 continuation) ------


def test_add_columns_family_roundtrip_and_null_fill(spark, tmp_path):
    """A family backfills new columns without touching a base byte: base
    block files keep their mtimes; covered rows read the family value,
    uncovered rows read NULL; a base-columns-only read never scans the
    family; ghost family rows (base row deleted later) never surface."""
    path = str(tmp_path / "fam1")
    df = tokens_dataframe(spark, 2000, variant="skewed_zipf", n_partitions=4).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=512), n_units=8)
    base_mtimes = {f: os.path.getmtime(f) for f in _data_files(path)}

    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import (
        add_columns,
        delete_rows,
        drop_family,
        list_families,
    )

    covered = df.orderBy("doc_id").limit(500)
    fam = covered.select(
        "doc_id", (F.col("n_tok") % F.lit(13)).cast("int").alias("q_score")
    )
    m = add_columns(fam, path, "quality")
    assert m["rows"] == 500
    assert base_mtimes == {f: os.path.getmtime(f) for f in _data_files(path)}
    assert list(list_families(path)) == ["quality"]

    out = read_encoded_dataset(spark, path)  # base + family columns
    assert out.columns == ["doc_id", "tokens", "n_tok", "source", "q_score"]
    assert out.filter("q_score IS NOT NULL").count() == 500
    assert out.filter("q_score IS NULL").count() == 1500
    expect = df.join(
        fam.withColumnRenamed("q_score", "e_score"), "doc_id", "left"
    )
    bad = (
        out.join(expect, "doc_id")
        .filter("q_score IS DISTINCT FROM e_score")
        .count()
    )
    assert bad == 0

    # subset read mixing sides keeps the requested order
    sub = read_encoded_dataset(spark, path, columns=["q_score", "n_tok"])
    assert sub.columns == ["q_score", "n_tok"]
    # base-only read: the family blocks are never scanned
    base_only = read_encoded_dataset(spark, path, columns=["doc_id", "n_tok"])
    plan = base_only._jdf.queryExecution().executedPlan().toString()
    assert "families" not in plan

    # ghosts: delete covered base rows; their family rows must not surface
    doomed = [r["doc_id"] for r in covered.select("doc_id").limit(30).collect()]
    delete_rows(_ids_df(spark, doomed), path)
    out2 = read_encoded_dataset(spark, path)
    assert out2.count() == 2000 - 30
    assert out2.filter("q_score IS NOT NULL").count() == 470

    assert drop_family(path, "quality") is True
    assert drop_family(path, "quality") is False
    assert read_encoded_dataset(spark, path).columns == [
        "doc_id", "tokens", "n_tok", "source",
    ]
    df.unpersist()


def test_add_columns_zone_filter_routes_to_family(spark, tmp_path):
    """A zone predicate on a family column prunes FAMILY blocks (superset
    semantics survive the left join: pruned rows surface NULL, which the
    caller's row filter drops exactly like an exact filter would)."""
    path = str(tmp_path / "fam2")
    df = tokens_dataframe(spark, 1500, variant="low_card", n_partitions=4).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=256), n_units=4)

    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import add_columns

    fam = df.select(
        "doc_id", (F.col("n_tok") % F.lit(100)).cast("int").alias("bucket")
    )
    add_columns(fam, path, "extras")

    got = read_encoded_dataset(
        spark, path, columns=["doc_id", "bucket"],
        zone_filter=[("bucket", 0, 5)],
    ).filter("bucket BETWEEN 0 AND 5")
    expect = fam.filter("bucket BETWEEN 0 AND 5")
    assert got.count() == expect.count()
    assert (
        got.alias("g").join(expect.alias("e"), "doc_id")
        .filter("g.bucket IS DISTINCT FROM e.bucket").count()
    ) == 0
    df.unpersist()


def test_add_columns_refusals(spark, tmp_path):
    """Name/collision/duplicate-id/coverage contracts are refused loudly."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.operators.checkpoint import add_columns

    path = str(tmp_path / "fam3")
    df = tokens_dataframe(spark, 400, n_partitions=2).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema), n_units=4)
    fam = df.select("doc_id", (F.col("n_tok") * 2).cast("int").alias("twice"))

    with _pytest.raises(ManifestError, match="must be"):
        add_columns(fam, path, "bad/name")
    with _pytest.raises(ManifestError, match="collide"):
        add_columns(df.select("doc_id", "n_tok"), path, "clash")
    with _pytest.raises(ManifestError, match="at least one new column"):
        add_columns(df.select("doc_id"), path, "empty")
    with _pytest.raises(ValueError, match="duplicate"):
        add_columns(fam.unionByName(fam), path, "dups")
    with _pytest.raises(ValueError, match="NULL"):
        add_columns(
            fam.limit(2).withColumn("doc_id", F.lit(None).cast("string")),
            path,
            "nulls",
        )
    add_columns(fam, path, "ok")
    with _pytest.raises(ManifestError, match="already exists"):
        add_columns(fam, path, "ok")
    # cross-family collision
    with _pytest.raises(ManifestError, match="collide"):
        add_columns(fam, path, "ok2")
    df.unpersist()


def test_lookup_rows_block_prunes_on_presorted_dataset(spark, tmp_path):
    """An id-presorted dataset records its clustering in the sidecar, point
    lookups prune at block granularity (strictly fewer blocks survive the
    zone prune than the affected units hold), mutations re-encode with the
    SAME clustering (pruning still bites after an upsert), and results
    always equal the semi-joined truth."""
    import yaml

    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import lookup_rows, upsert_rows
    from xml2arrow_spark.operators.encode import prune_blocks_any

    path = str(tmp_path / "look2")
    df = tokens_dataframe(spark, 3000, variant="low_card", n_partitions=4).cache()
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    encode_dataset(df, path, man, n_units=4, presort=["doc_id"])
    with open(os.path.join(path, "_manifest.yaml")) as f:
        assert yaml.safe_load(f.read())["presort"] == ["doc_id"]

    wanted = [r["doc_id"] for r in df.select("doc_id").limit(6).collect()]
    got = lookup_rows(_ids_df(spark, wanted), path)
    expect = df.join(_ids_df(spark, wanted), "doc_id", "left_semi")
    assert verify_roundtrip(expect, got)["ok"]

    blocks = spark.read.parquet(os.path.join(path, "blocks"))
    assert (
        prune_blocks_any(blocks, "doc_id", wanted).count() < blocks.count()
    )

    # upsert a batch; the rewrite must keep the recorded clustering so the
    # block prune still bites afterwards
    batch = (
        df.orderBy("doc_id").limit(25)
        .withColumn("tokens", F.expr("slice(tokens, 1, 4)"))
        .withColumn("n_tok", F.expr("CAST(size(tokens) AS INT)"))
    )
    upsert_rows(batch, path)
    blocks2 = spark.read.parquet(os.path.join(path, "blocks"))
    assert (
        prune_blocks_any(blocks2, "doc_id", wanted).count() < blocks2.count()
    )
    got2 = lookup_rows(_ids_df(spark, wanted), path)
    expect2 = (
        df.join(batch.select("doc_id"), "doc_id", "left_anti")
        .unionByName(batch)
        .join(_ids_df(spark, wanted), "doc_id", "left_semi")
    )
    assert verify_roundtrip(expect2, got2)["ok"]
    df.unpersist()


def test_audit_dataset_reconciles_disk_against_manifest(spark, tmp_path):
    """fsck: a clean dataset (base + family) audits ok; a vanished blocks
    partition reports missing_blocks; a unit whose manifest row was lost
    (the encode crash window) reports unmanifested; a single flipped
    payload byte is INVISIBLE to the metadata audit but fails the deep
    audit via the stored CRC."""
    import shutil

    import pyarrow.parquet as pq
    import pytest as _pytest

    from pyspark.sql import functions as F

    from xml2arrow_spark.errors import BlockCorruptionError
    from xml2arrow_spark.operators.checkpoint import add_columns, audit_dataset

    path = str(tmp_path / "fsck")
    df = tokens_dataframe(spark, 1200, variant="low_card", n_partitions=2).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=256), n_units=4)
    add_columns(
        df.select("doc_id", (F.col("n_tok") % F.lit(7)).cast("int").alias("s7")),
        path,
        "scores",
    )

    rep = audit_dataset(spark, path, deep=True)
    assert set(rep) == {"base", "family:scores"}
    assert all(t["ok"] for t in rep.values())
    assert rep["base"]["deep_rows"] == 1200

    # (1) lost manifest row -> unmanifested (blocks exist, lineage doesn't)
    mdir = os.path.join(path, "manifest")
    snap = str(tmp_path / "msnap")
    shutil.copytree(mdir, snap)
    import pyarrow as pa

    tbl = pq.read_table(mdir)
    mfile = [x for x in os.listdir(mdir) if x.endswith(".parquet")][0]
    pq.write_table(
        tbl.filter(pa.compute.not_equal(tbl.column("unit_id"), pa.scalar(2, pa.int32()))),
        os.path.join(mdir, mfile),
    )
    # a pyarrow rewrite invalidates the Hadoop .crc sidecar and Spark's
    # cached file size — clear both or the read fails at the WRONG layer
    for c in [os.path.join(mdir, "." + mfile + ".crc")]:
        if os.path.exists(c):
            os.remove(c)
    spark.catalog.refreshByPath(mdir)
    rep1 = audit_dataset(spark, path)
    assert rep1["base"]["unmanifested"] == [2] and not rep1["base"]["ok"]
    shutil.rmtree(mdir)
    shutil.copytree(snap, mdir)
    spark.catalog.refreshByPath(mdir)

    # (2) vanished partition -> missing_blocks
    shutil.rmtree(os.path.join(path, "blocks", "unit_id=1"))
    spark.catalog.refreshByPath(os.path.join(path, "blocks"))
    rep2 = audit_dataset(spark, path)
    assert rep2["base"]["missing_blocks"] == [1] and not rep2["base"]["ok"]

    # (3) bit rot inside a stored payload: metadata audit can't see it,
    # the deep audit refuses via CRC
    u0 = os.path.join(path, "blocks", "unit_id=0")
    fpath = os.path.join(u0, [f for f in os.listdir(u0) if f.endswith(".parquet")][0])
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    payload = bytearray(rows[0]["cols"][0]["data"])
    payload[len(payload) // 2] ^= 0x01
    rows[0]["cols"][0]["data"] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(u0, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(os.path.join(path, "blocks"))

    rep3 = audit_dataset(spark, path)
    assert rep3["base"]["mismatched"] == []  # lineage columns untouched
    with _pytest.raises(Exception) as ei:
        audit_dataset(spark, path, deep=True)
    assert "BlockCorruption" in str(ei.value) or isinstance(
        ei.value, BlockCorruptionError
    )
    df.unpersist()


def test_lookup_rows_with_family_columns_and_column_stats(spark, tmp_path):
    """Point reads may project family columns — the family blocks ride the
    SAME unit+block pruning (shared placement) and uncovered ids read
    NULL; column_stats reports zone-map extrema per tree without decoding
    payloads."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import (
        add_columns,
        column_stats,
        lookup_rows,
    )

    path = str(tmp_path / "famlook")
    df = tokens_dataframe(spark, 1500, variant="low_card", n_partitions=4).cache()
    encode_dataset(
        df, path, CodecManifest.auto_for(df.schema, block_rows=128),
        n_units=4, presort=["doc_id"],
    )
    covered = df.orderBy("doc_id").limit(400)
    add_columns(
        covered.select(
            "doc_id", (F.col("n_tok") % F.lit(11)).cast("int").alias("q11")
        ),
        path,
        "quality",
    )

    some_cov = [r["doc_id"] for r in covered.select("doc_id").limit(3).collect()]
    some_unc = [
        r["doc_id"]
        for r in df.join(covered, "doc_id", "left_anti")
        .select("doc_id").orderBy("doc_id").limit(2).collect()
    ]
    got = lookup_rows(
        _ids_df(spark, some_cov + some_unc), path,
        columns=["doc_id", "n_tok", "q11"],
    )
    assert got.columns == ["doc_id", "n_tok", "q11"]
    rows = {r["doc_id"]: r["q11"] for r in got.collect()}
    assert len(rows) == 5
    expect = {
        r["doc_id"]: r["n_tok"] % 11
        for r in covered.filter(F.col("doc_id").isin(some_cov)).collect()
    }
    for d in some_cov:
        assert rows[d] == expect[d]
    for d in some_unc:
        assert rows[d] is None

    stats = column_stats(spark, path)
    by_key = {(r["tree"], r["column"]): r for r in stats.collect()}
    assert ("base", "n_tok") in by_key and ("family:quality", "q11") in by_key
    q = by_key[("family:quality", "q11")]
    assert q["vmin_i"] == 0 and q["vmax_i"] <= 10
    n = by_key[("base", "n_tok")]
    real_min, real_max = df.agg(
        F.min("n_tok"), F.max("n_tok")
    ).collect()[0]
    assert n["vmin_i"] == real_min and n["vmax_i"] == real_max
    df.unpersist()


def test_materialize_bucketed_family_join_is_exchange_free(spark, tmp_path):
    """The executed form of the read path's bucketBy note: after one
    bucketed materialization, the base-family join plans with ZERO shuffle
    exchanges, and the result equals the direct (exchange-paying) read."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import (
        add_columns,
        materialize_bucketed,
    )

    path = str(tmp_path / "bkt")
    df = tokens_dataframe(spark, 1000, variant="low_card", n_partitions=2).cache()
    encode_dataset(df, path, CodecManifest.auto_for(df.schema, block_rows=256), n_units=4)
    add_columns(
        df.orderBy("doc_id").limit(300).select(
            "doc_id", (F.col("n_tok") % F.lit(9)).cast("int").alias("q9")
        ),
        path,
        "quality",
    )

    # disable broadcast: at toy scale the planner would broadcast the tiny
    # family table (its own Exchange) instead of using the buckets — the
    # claim under test is the 100 TB shape, where neither side broadcasts
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = materialize_bucketed(spark, path, "t_bkt", buckets=8)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # the whole point
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    direct = read_encoded_dataset(spark, path)
    assert joined.count() == 1000
    assert (
        joined.alias("a").join(direct.alias("b"), "doc_id")
        .filter(
            "a.q9 IS DISTINCT FROM b.q9 OR a.tokens IS DISTINCT FROM b.tokens"
        ).count() == 0
    )
    spark.sql("DROP TABLE IF EXISTS t_bkt_base")
    spark.sql("DROP TABLE IF EXISTS t_bkt_fam_quality")
    df.unpersist()


def test_xxh64_twin_matches_spark(spark):
    """xml2arrow_spark.xxh.xxh64 is Spark's xxhash64 bit-for-bit: random
    strings across every length class (empty, <4, <8, <32, >=32 bytes)
    including multi-byte UTF-8, plus the block-id shapes the lineage
    rollup hashes."""
    import random

    from pyspark.sql import functions as F

    from xml2arrow_spark.xxh import xxh64

    rng = random.Random(17)
    alphabet = "abz019-_.тока€😀"
    vals = ["", "0", "-1", str(2**62), "a" * 31, "b" * 32, "c" * 33]
    vals += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 90)))
        for _ in range(300)
    ]
    vals += [str(rng.randrange(-(2**40), 2**40)) for _ in range(100)]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxh64(r["s"].encode("utf-8")) == r["h"], r["s"]


def test_local_rollup_matches_spark_aggs(spark, tmp_path):
    """The r06 driver-side lineage rollup equals the Spark groupBy rollup
    on the same written blocks — every manifest field including the
    pmod-bounded xxhash64 checksum."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import (
        _unit_rollup_aggs,
        _unit_rollup_local,
    )

    df = tokens_dataframe(spark, 2000, variant="low_card", n_partitions=4)
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    path = str(tmp_path / "rl")
    encode_dataset(df, path, man, n_units=4)  # writes via the local rollup
    blocks_dir = os.path.join(path, "blocks")
    want = {
        r["unit_id"]: r.asDict()
        for r in spark.read.parquet(blocks_dir)
        .groupBy("unit_id")
        .agg(*_unit_rollup_aggs())
        .collect()
    }
    got = {d["unit_id"]: d for d in _unit_rollup_local(blocks_dir, want)}
    assert got == want
    # and the manifest the encode wrote carries exactly these rows
    stored = {
        r["unit_id"]: r.asDict()
        for r in spark.read.parquet(os.path.join(path, "manifest")).collect()
    }
    assert stored == want
