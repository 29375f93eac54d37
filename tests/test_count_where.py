"""Metadata-accelerated predicate count (count_where): interior blocks are
counted from zone stats + null counts alone, boundary blocks decode ONLY the
filter column, outside blocks prune — and the count is always EXACT, equal to
a raw-table filter count (the small-materialized-aggregates contract:
metadata can only skip work, never change results).

The no-decode claim is pinned the hard way: flipping a payload byte inside an
interior block (invisible to metadata, fatal to any decode via the block CRC)
must leave count_where's answer untouched while decode_dataset refuses.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.dataset import (
    count_where,
    decode_dataset,
    encode_parquet_dataset,
)

N = 900  # 3 files x 3 blocks x 100 rows, id-clustered


def _table(lo: int, hi: int) -> pa.Table:
    ids = np.arange(lo, hi, dtype=np.int64)
    qty = [None if i % 10 == 0 else int(i % 7) for i in ids]
    val = [
        None if i % 31 == 0 else (float("nan") if i % 50 == 0 else i * 0.5)
        for i in ids
    ]
    tag = ["aaa" if i < 450 else "zzz" for i in ids]
    longtag = ["p" * 70 + f"{i:010d}" for i in ids]
    toks = pa.array([[int(i), int(i + 1)] for i in ids], type=pa.list_(pa.int32()))
    return pa.table(
        {
            "id": pa.array(ids),
            "qty": pa.array(qty, type=pa.int64()),
            "val": pa.array(val, type=pa.float64()),
            "tag": pa.array(tag),
            "longtag": pa.array(longtag),
            "tokens": toks,
        }
    )


@pytest.fixture(scope="module", params=["nested", "wide"])
def ds(request, spark, tmp_path_factory):
    layout = request.param
    base = str(tmp_path_factory.mktemp(f"cw_{layout}"))
    src = os.path.join(base, "src")
    out = os.path.join(base, "ds")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(_table(300 * i, 300 * (i + 1)), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(pq.read_schema(os.path.join(src, "part-0.parquet"))),
        block_rows=100,
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)
    return out


def _one(df) -> dict:
    return df.collect()[0].asDict()


def test_int_interior_boundary_pruned(spark, ds):
    r = _one(count_where(spark, ds, ("id", 150, 749)))
    assert r["n_match"] == 600
    assert r["n_blocks"] == 9
    assert r["n_interior"] == 5  # [200..699] fully inside
    assert r["n_boundary"] == 2  # [100-199], [700-799]
    assert r["n_pruned"] == 2  # [0-99], [800-899]


def test_interior_subtracts_nulls(spark, ds):
    # qty spans [0,6] everywhere -> every block interior; nulls (every 10th
    # row) must come off the metadata count
    r = _one(count_where(spark, ds, ("qty", 0, 6)))
    assert r["n_interior"] == 9 and r["n_boundary"] == 0
    assert r["n_match"] == N - N // 10


def test_float_never_interior_and_excludes_nan_null(spark, ds):
    r = _one(count_where(spark, ds, ("val", 0.0, 1e9)))
    assert r["n_interior"] == 0  # floats always decode (NaN invisibility)
    expected = sum(
        1
        for i in range(N)
        if i % 31 != 0 and i % 50 != 0  # null and NaN rows fail BETWEEN
    )
    assert r["n_match"] == expected


def test_string_interior_and_pruned(spark, ds):
    # tag flips at 450 (a block boundary): bounds ['a','b'] keep the first
    # 4.5 blocks' worth interior? no -- block [400-499] mixes -> boundary
    r = _one(count_where(spark, ds, ("tag", "a", "b")))
    assert r["n_match"] == 450
    assert r["n_pruned"] == 4  # blocks entirely 'zzz'
    assert r["n_interior"] == 4  # blocks entirely 'aaa'
    assert r["n_boundary"] == 1  # the mixed [400-499] block


def test_truncated_string_bounds_stay_sound(spark, ds):
    # >64-char values: stored vmax is a bumped prefix -> interior fires only
    # when the bumped bound still sits under hi, boundary decode stays exact
    interior = _one(count_where(spark, ds, ("longtag", "a", "q")))
    assert interior["n_match"] == N and interior["n_interior"] == 9
    boundary = _one(count_where(spark, ds, ("longtag", "p", "p" * 80)))
    assert boundary["n_match"] == N and boundary["n_interior"] == 0


def test_multi_conjunct(spark, ds):
    r = _one(count_where(spark, ds, [("id", 150, 749), ("qty", 2, 5)]))
    expected = sum(
        1 for i in range(150, 750) if i % 10 != 0 and 2 <= i % 7 <= 5
    )
    assert r["n_match"] == expected
    # id-interior blocks are NOT interior overall: qty has nulls there, and
    # per-column null counts cannot reconstruct the union of null rows
    assert r["n_interior"] == 0
    assert r["n_pruned"] == 2


def test_matches_raw_filter_count(spark, ds):
    raw = spark.read.parquet(os.path.dirname(ds) + "/src")
    for pred, cond in [
        (("id", 123, 456), "id BETWEEN 123 AND 456"),
        (("qty", 1, 3), "qty BETWEEN 1 AND 3"),
        (("tag", "b", "zzz"), "tag BETWEEN 'b' AND 'zzz'"),
    ]:
        got = _one(count_where(spark, ds, pred))["n_match"]
        assert got == raw.filter(cond).count(), pred


def test_sum_same_column_uses_metadata_despite_nulls(spark, ds):
    # single predicate ON the sum column: its nulls leave both the match
    # set and the stored zsum, so interior blocks stay metadata-only
    r = _one(count_where(spark, ds, ("qty", 0, 6), agg_col="qty"))
    assert r["n_interior"] == 9 and r["n_boundary"] == 0
    assert r["n_sum"] == sum(i % 7 for i in range(N) if i % 10 != 0)
    assert r["n_min"] == 0 and r["n_max"] == 6  # zone extrema, no decode


def test_sum_other_column_needs_null_free_predicate(spark, ds):
    # qty has nulls in every block -> summing id from metadata would
    # wrongly include null-qty rows' ids; every block must decode
    r = _one(count_where(spark, ds, ("qty", 0, 6), agg_col="id"))
    assert r["n_interior"] == 0
    assert r["n_sum"] == sum(i for i in range(N) if i % 10 != 0)
    assert r["n_min"] == 1 and r["n_max"] == 899


def test_sum_null_free_predicate_metadata_fast_path(spark, ds):
    r = _one(count_where(spark, ds, ("id", 150, 749), agg_col="qty"))
    assert r["n_interior"] == 5  # id is null-free: interior stays provable
    assert r["n_sum"] == sum(i % 7 for i in range(150, 750) if i % 10 != 0)
    assert r["n_min"] == 0 and r["n_max"] == 6


def test_minmax_mixes_zone_extrema_and_boundary_decode(spark, ds):
    # interior blocks contribute their zone extrema, boundary blocks their
    # decoded masked extrema -- the fold must take the true min/max
    r = _one(count_where(spark, ds, ("id", 150, 749), agg_col="id"))
    assert r["n_interior"] == 5 and r["n_boundary"] == 2
    assert r["n_min"] == 150 and r["n_max"] == 749
    assert r["n_sum"] == sum(range(150, 750))


def test_sum_empty_match_is_null(spark, ds):
    r = _one(count_where(spark, ds, ("id", 10**9, 2 * 10**9), agg_col="qty"))
    assert r["n_match"] == 0 and r["n_sum"] is None
    assert r["n_min"] is None and r["n_max"] is None


def test_sum_all_null_values_is_null_not_zero(spark, tmp_path):
    # matched rows whose sum column is ENTIRELY null: SQL SUM is NULL; a
    # naive zsum roll-up (stored 0 for an all-null block) would say 0
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    os.makedirs(src)
    ids = pa.array(np.arange(100, dtype=np.int64))
    t = pa.table({"id": ids, "qty": pa.array([None] * 100, type=pa.int64())})
    pq.write_table(t, os.path.join(src, "part-0.parquet"))
    encode_parquet_dataset(spark, src, out)
    r = _one(count_where(spark, out, ("id", 0, 99), agg_col="qty"))
    assert r["n_match"] == 100 and r["n_interior"] == 1
    assert r["n_sum"] is None
    assert r["n_min"] is None and r["n_max"] is None


def test_sum_overflow_refuses_not_wraps(spark, tmp_path):
    # Arrow's int64 sum kernel wraps on overflow; the engine must refuse
    # (ANSI-style) on BOTH dispatch paths rather than misreport
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    os.makedirs(src)
    ids = pa.array(np.arange(8, dtype=np.int64))
    big = pa.array([2**62] * 8, type=pa.int64())
    pq.write_table(pa.table({"id": ids, "big": big}),
                   os.path.join(src, "part-0.parquet"))
    encode_parquet_dataset(spark, src, out)
    for lb in (128 << 20, 0):
        with pytest.raises(Exception, match="int64"):
            count_where(spark, out, ("id", 0, 7), agg_col="big",
                        local_bytes=lb).collect()
    # boundary-decode path too (predicate straddles)
    with pytest.raises(Exception, match="int64"):
        count_where(spark, out, ("id", 1, 7), agg_col="big").collect()

    # ONE int64 rule, on the TOTAL, on both paths: per-file sums that
    # leave int64 but cancel across files answer; per-file sums that fit
    # but overflow in total refuse with the engine's own text
    cancel = _files_store(spark, tmp_path / "cancel", [[2**62] * 4, [-(2**62)] * 4])
    local, dist = _both_paths(spark, cancel, ("id", 0, 7), agg_col="big")
    assert local == dist
    assert local[0]["n_sum"] == 0 and local[0]["n_match"] == 8
    over = _files_store(spark, tmp_path / "over", [[2**60] * 4] * 3)
    local, dist = _both_paths(spark, over, ("id", 0, 11), agg_col="big")
    assert local == dist and "outside int64" in local


def _files_store(spark, base, files) -> str:
    """A dataset encoded from one source file per ``files`` entry (one
    blocks file each): ``id`` counts up across files, ``big`` holds the
    entry's int64 values."""
    src, out = str(base / "src"), str(base / "ds")
    os.makedirs(src)
    lo = 0
    for j, vals in enumerate(files):
        ids = pa.array(np.arange(lo, lo + len(vals), dtype=np.int64))
        pq.write_table(pa.table({"id": ids, "big": pa.array(vals, type=pa.int64())}),
                       os.path.join(src, f"part-{j}.parquet"))
        lo += len(vals)
    encode_parquet_dataset(spark, src, out)
    return out


def _both_paths(spark, out, predicate, **kw) -> list:
    """count_where's rows, or its int64 refusal text, on the driver path
    and then the distributed path."""
    got = []
    for lb in (128 << 20, 0):
        try:
            got.append(count_where(spark, out, predicate, local_bytes=lb, **kw)
                       .collect())
        except ArithmeticError as e:
            got.append(str(e))
    return got


def test_sum_validation(spark, ds):
    with pytest.raises(ValueError, match="integer column"):
        count_where(spark, ds, ("id", 0, 1), agg_col="val")
    with pytest.raises(ValueError, match="integer column"):
        count_where(spark, ds, ("id", 0, 1), agg_col="tokens")
    with pytest.raises(ValueError, match="lacks encoded column"):
        count_where(spark, ds, ("id", 0, 1), agg_col="nope")


def test_open_ended_bounds(spark, ds):
    # (col, lo, None) = col >= lo; (col, None, hi) = col <= hi -- interior
    # and pruning only need the side that is actually bounded
    r = _one(count_where(spark, ds, ("id", 700, None)))
    assert r["n_match"] == 200
    assert r["n_interior"] == 2 and r["n_pruned"] == 7 and r["n_boundary"] == 0
    r2 = _one(count_where(spark, ds, ("id", None, 149)))
    assert r2["n_match"] == 150
    assert r2["n_interior"] == 1 and r2["n_boundary"] == 1 and r2["n_pruned"] == 7
    # open bound + aggregate + nulls in the agg column
    r3 = _one(count_where(spark, ds, ("qty", None, 3), agg_col="qty"))
    assert r3["n_match"] == sum(1 for i in range(N) if i % 10 != 0 and i % 7 <= 3)
    assert r3["n_sum"] == sum(i % 7 for i in range(N) if i % 10 != 0 and i % 7 <= 3)
    assert r3["n_min"] == 0 and r3["n_max"] == 3
    # floats and strings take open bounds through the decode path
    r4 = _one(count_where(spark, ds, ("val", 100.0, None)))
    assert r4["n_match"] == sum(
        1 for i in range(N) if i % 31 != 0 and i % 50 != 0 and i * 0.5 >= 100.0
    )
    r5 = _one(count_where(spark, ds, ("tag", None, "b")))
    assert r5["n_match"] == 450
    with pytest.raises(ValueError, match="at least one bound"):
        count_where(spark, ds, ("id", None, None))


def test_distributed_path_matches_driver_path(spark, ds):
    # local_bytes=0 forces the mapInArrow fan-out; both paths run the same
    # per-file routine, so every tally must agree exactly
    all_pruned = ("id", 10**9, None)
    for pred, sc in [
        (("id", 150, 749), "qty"),
        ([("tag", "a", "b"), ("qty", 0, 3)], None),
        (("val", 0.0, 100.0), None),
        (all_pruned, "qty"),
    ]:
        a = _one(count_where(spark, ds, pred, agg_col=sc))
        b = _one(count_where(spark, ds, pred, agg_col=sc, local_bytes=0))
        assert a == b, (pred, a, b)
        if pred is all_pruned:  # a count, never NULL, on both paths
            assert a["n_match"] == 0 and a["n_pruned"] == a["n_blocks"], a


def test_validation_errors(spark, ds):
    with pytest.raises(ValueError, match="lacks encoded column"):
        count_where(spark, ds, ("nope", 0, 1))
    with pytest.raises(ValueError, match="scalar column"):
        count_where(spark, ds, ("tokens", 0, 1))
    with pytest.raises(ValueError, match="must be int"):
        count_where(spark, ds, ("id", 0.5, 2.5))
    with pytest.raises(ValueError, match="must be str"):
        count_where(spark, ds, ("tag", 1, 2))
    with pytest.raises(ValueError, match="NaN"):
        count_where(spark, ds, ("val", float("nan"), 1.0))
    with pytest.raises(ValueError, match="at least one"):
        count_where(spark, ds, None)


def test_count_where_on_checkpoint_dataset_survives_mutations(spark, tmp_path):
    """count_where runs unchanged on the row-level (unit_id-partitioned)
    checkpoint dataset -- the mutation-capable corpus shape -- and stays
    exact through upsert and delete (the rewrites refresh block stats)."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.checkpoint import (
        delete_rows,
        encode_dataset,
        read_encoded_dataset,
        upsert_rows,
    )
    from xml2arrow_spark.sources import tokens_dataframe

    path = str(tmp_path / "enc")
    df = tokens_dataframe(spark, 2000, variant="uniform_vocab", n_partitions=4)
    man = CodecManifest.auto_for(df.schema, block_rows=256)
    encode_dataset(df, path, man, n_units=8)

    def check():
        live = read_encoded_dataset(spark, path)
        exp = live.filter("n_tok BETWEEN 100 AND 400").agg(
            F.count("*").alias("c"), F.sum("n_tok").alias("s")
        ).collect()[0]
        r = _one(count_where(spark, path, ("n_tok", 100, 400), agg_col="n_tok"))
        assert (r["n_match"], r["n_sum"]) == (exp["c"], exp["s"]), (r, exp)
        return r

    r0 = check()
    assert r0["n_match"] > 0

    # upsert: replace some rows with out-of-range n_tok + insert new ones
    batch = df.filter("doc_id LIKE '%3'").withColumn("n_tok", F.lit(999))
    upsert_rows(batch, path)
    check()

    # delete a slice; stats of the rewritten units must stay truthful
    delete_rows(df.select("doc_id").limit(50), path)
    check()


def test_randomized_against_python_truth(spark, tmp_path):
    """Seeded adversarial sweep: random value mixes (negatives, int64
    extremes, NaN/inf, nulls, >64-char strings), random block sizes and
    sort orders, random predicates (one-sided, inverted, multi-conjunct,
    bounds at extremes) -- every tally the engine can prove from metadata
    must equal the pure-python recount."""
    rng = np.random.default_rng(20260818)
    base = str(tmp_path / "rand")
    for trial in range(10):
        n = int(rng.integers(50, 400))
        ints = rng.choice(
            [int(rng.integers(-10**6, 10**6)) for _ in range(8)]
            + [0, -1, 2**62, -(2**62)],
            size=n,
        ).astype(np.int64)
        i_null = rng.random(n) < 0.15
        f_raw = rng.choice([-1e300, -2.5, 0.0, 3.75, 1e300, float("inf"),
                            float("-inf"), float("nan")], size=n)
        f_null = rng.random(n) < 0.1
        words = ["", "a", "zz", "m" * 80, "q" * 63 + "!", "neg", "päö"]
        strs = rng.choice(words, size=n)
        s_null = rng.random(n) < 0.1
        tbl = pa.table({
            "k": pa.array([None if i_null[j] else int(ints[j]) for j in range(n)],
                          type=pa.int64()),
            "f": pa.array([None if f_null[j] else float(f_raw[j]) for j in range(n)],
                          type=pa.float64()),
            "s": pa.array([None if s_null[j] else str(strs[j]) for j in range(n)]),
        })
        rows = tbl.to_pylist()
        if rng.random() < 0.5:  # clustered vs unclustered blocks
            rows.sort(key=lambda r: (r["k"] is None, r["k"]))
            tbl = pa.Table.from_pylist(rows, schema=tbl.schema)
        src = os.path.join(base, f"src{trial}")
        out = os.path.join(base, f"ds{trial}")
        os.makedirs(src)
        pq.write_table(tbl, os.path.join(src, "part-0.parquet"))
        manifest = CodecManifest.auto_for(
            from_arrow_schema(tbl.schema), block_rows=int(rng.integers(16, 120))
        )
        encode_parquet_dataset(spark, src, out, manifest=manifest)

        def truth(preds, agg):
            def ok(r):
                for pred in preds:
                    v = r[pred[0]]
                    if v is None:
                        return False
                    if isinstance(v, float) and v != v:  # NaN
                        return False
                    if len(pred) == 2:  # IN-list conjunct
                        if v not in pred[1]:
                            return False
                        continue
                    _c, lo, hi = pred
                    if lo is not None and not (v >= lo):
                        return False
                    if hi is not None and not (v <= hi):
                        return False
                return True
            m = [r for r in rows if ok(r)]
            vals = [r[agg] for r in m if r[agg] is not None] if agg else []
            return (len(m), sum(vals) if vals else None,
                    min(vals) if vals else None, max(vals) if vals else None)

        int_bounds = [-(2**63), -10**6, -1, 0, 1, 10**5, 2**62, 2**63 - 1, None]
        str_bounds = ["", "a", "m", "m" * 64, "q" * 64, "z", None]
        flt_bounds = [-1e300, -2.5, 0.0, 3.75, 1e300, None]
        for _ in range(6):
            if rng.random() < 0.3:  # IN-list conjunct on the int key
                k = int(rng.integers(1, 4))
                preds = [("k", sorted({
                    int(v) for v in rng.choice(
                        [0, -1, 2**62, -(2**62), int(rng.integers(-10**6, 10**6))],
                        size=k,
                    )
                }))]
            else:
                preds = [("k", rng.choice(int_bounds), rng.choice(int_bounds))]
            if rng.random() < 0.4:
                if rng.random() < 0.3:
                    preds.append(("s", [str(w) for w in rng.choice(
                        ["", "a", "zz", "m" * 80, "neg", "nope"],
                        size=int(rng.integers(1, 3)),
                    )]))
                else:
                    preds.append(("s", rng.choice(str_bounds), rng.choice(str_bounds)))
            if rng.random() < 0.4:
                if rng.random() < 0.3:
                    preds.append(("f", [float(v) for v in rng.choice(
                        [-1e300, -2.5, 0.0, 3.75, 1e300, float("inf")],
                        size=int(rng.integers(1, 3)),
                    )]))
                else:
                    preds.append(("f", rng.choice(flt_bounds), rng.choice(flt_bounds)))
            preds = [
                p if len(p) == 2 else
                (p[0],
                 None if p[1] is None else (float(p[1]) if p[0] == "f" else p[1]),
                 None if p[2] is None else (float(p[2]) if p[0] == "f" else p[2]))
                for p in preds
            ]
            preds = [
                p for p in preds
                if len(p) == 2 or not (p[1] is None and p[2] is None)
            ]
            if not preds:
                continue
            exp = truth(preds, "k")
            if exp[1] is not None and not (-(2**63) <= exp[1] < 2**63):
                # out-of-int64 totals must REFUSE, never wrap
                with pytest.raises(Exception, match="outside\\s+int64|int64"):
                    _one(count_where(spark, out, preds, agg_col="k"))
                continue
            r = _one(count_where(spark, out, preds, agg_col="k"))
            got = (r["n_match"], r["n_sum"], r["n_min"], r["n_max"])
            assert got == exp, (trial, preds, got, exp, r)


def test_interior_count_never_decodes(spark, tmp_path):
    """Flip a payload byte inside an interior block: the CRC makes ANY
    decode refuse, so a still-correct count proves the metadata path never
    touched the payload."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(_table(300 * i, 300 * (i + 1)), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(pq.read_schema(os.path.join(src, "part-0.parquet"))),
        block_rows=100,
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout="nested")

    # every longtag block shares the truncated bounds ('p'*64, 'p'*63+'q'),
    # so bounds ('a', 'q') make ALL blocks interior; tamper one block's
    # longtag payload (sequential ids compress into metadata -- strings
    # keep real payload bytes)
    bdir = os.path.join(out, "blocks")
    fpath = os.path.join(bdir, "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    ci = [c["name"] for c in rows[0]["cols"]].index("longtag")
    payload = bytearray(rows[0]["cols"][ci]["data"])
    assert len(payload) > 0
    payload[len(payload) // 2] ^= 0x01
    rows[0]["cols"][ci]["data"] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    # in-place rewrite: drop the Hadoop .crc sidecar + cached file status
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    r = _one(count_where(spark, out, ("longtag", "a", "q")))
    assert r["n_match"] == N
    assert r["n_boundary"] == 0 and r["n_interior"] == 9

    with pytest.raises(Exception):
        decode_dataset(spark, out).collect()

    # bounds that defeat the bumped upper bound force every block through
    # the decode path -- the tampered block must refuse loudly (CRC) rather
    # than return a wrong count
    with pytest.raises(Exception):
        count_where(spark, out, ("longtag", "p", "p" * 80)).collect()


# ---- group_count: exact GROUP BY counts on the codec streams ---------------


def test_group_count_string_matches_truth(spark, ds):
    from xml2arrow_spark.operators.dataset import group_count

    for lb in (128 << 20, 0):  # driver-local and distributed dispatch
        got = {
            (r["tag"], r["cnt"])
            for r in group_count(spark, ds, "tag", local_bytes=lb).collect()
        }
        assert got == {("aaa", 450), ("zzz", 450)}


def test_group_count_null_group_and_ints(spark, ds):
    from xml2arrow_spark.operators.dataset import group_count

    got = {
        (r["qty"], r["cnt"])
        for r in group_count(spark, ds, "qty", local_bytes=0).collect()
    }
    # truth recomputed independently of the engine
    truth: dict = {}
    for i in range(N):
        k = None if i % 10 == 0 else i % 7
        truth[k] = truth.get(k, 0) + 1
    assert got == set(truth.items())


def test_group_count_refusals(spark, ds):
    from xml2arrow_spark.operators.dataset import group_count

    with pytest.raises(ValueError, match="not portable"):
        group_count(spark, ds, "val")  # float key
    with pytest.raises(ValueError, match="not portable"):
        group_count(spark, ds, "tokens")  # list key
    with pytest.raises(ValueError, match="lacks encoded column"):
        group_count(spark, ds, "nope")


def test_group_count_equals_decode_groupby(spark, ds):
    """The codec-stream tallies must equal a full decode + SQL GROUP BY —
    the operator can only skip materialization, never change results."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_count

    truth = {
        (r["longtag"], r["count"])
        for r in decode_dataset(spark, ds, columns=["longtag"])
        .groupBy("longtag").count().collect()
    }
    got = {
        (r["longtag"], r["cnt"])
        for r in group_count(spark, ds, "longtag", local_bytes=0).collect()
    }
    assert got == truth


# ---- group_sum: exact grouped COUNT + SUM on the codec streams -------------


def test_group_sum_matches_decode_groupby(spark, ds):
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_sum

    truth = {
        (r["tag"], r["cnt"], r["nn"], r["s"], r["mn"], r["mx"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty"])
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("qty").alias("nn"),
            F.sum("qty").alias("s"),
            F.min("qty").alias("mn"),
            F.max("qty").alias("mx"),
        )
        .collect()
    }
    for lb in (128 << 20, 0):  # driver-local and distributed dispatch
        got = {
            (r["tag"], r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"],
             r["max_a"])
            for r in group_sum(spark, ds, "tag", "qty", local_bytes=lb).collect()
        }
        assert got == truth


def test_group_sum_null_key_group(spark, ds):
    """qty is NULL every 10th row: the NULL group must carry SQL COUNT(*)
    semantics, summing id over those rows."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_sum

    truth = {
        (r["qty"], r["cnt"], r["nn"], r["s"], r["mn"], r["mx"])
        for r in decode_dataset(spark, ds, columns=["qty", "id"])
        .groupBy("qty")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("id").alias("nn"),
            F.sum("id").alias("s"),
            F.min("id").alias("mn"),
            F.max("id").alias("mx"),
        )
        .collect()
    }
    got = {
        (r["qty"], r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"],
         r["max_a"])
        for r in group_sum(spark, ds, "qty", "id", local_bytes=0).collect()
    }
    assert got == truth
    assert any(k is None for k, *_ in got)


def test_group_sum_refusals(spark, ds):
    from xml2arrow_spark.operators.dataset import group_sum

    with pytest.raises(ValueError, match="not portable"):
        group_sum(spark, ds, "val", "id")  # float key
    with pytest.raises(ValueError, match="integer agg"):
        group_sum(spark, ds, "tag", "val")  # float agg
    with pytest.raises(ValueError, match="integer agg"):
        group_sum(spark, ds, "tag", "longtag")  # string agg
    with pytest.raises(ValueError, match="lacks encoded column"):
        group_sum(spark, ds, "nope", "id")


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_sum_metadata_path_never_decodes(spark, tmp_path, layout):
    """Key-clustered dataset: every block is single-valued in the key, so
    group_sum answers from zone metadata (n_rows, zsum_i) alone. Tampering
    BOTH columns' payloads in one block (fatal to any decode via the block
    CRC) must leave the answer exact while decode_dataset refuses."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_sum

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    n = 900
    srcs = ["web", "code", "books"]
    tbl = pa.table(
        {
            "src": pa.array([srcs[i // 300] for i in range(n)]),
            "tok": pa.array(
                [None if i % 50 == 7 else (i * 13) % 1000 for i in range(n)],
                type=pa.int64(),
            ),
        }
    )
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    truth = {}
    for s, t in zip(tbl.column("src").to_pylist(), tbl.column("tok").to_pylist()):
        c, nn, sm, mn, mx = truth.get(s, (0, 0, 0, None, None))
        if t is not None:
            mn = t if mn is None else min(mn, t)
            mx = t if mx is None else max(mx, t)
        truth[s] = (c + 1, nn + (t is not None), sm + (t or 0), mn, mx)

    # tamper one block's BOTH payloads in file u000001
    bdir = os.path.join(out, "blocks")
    fpath = os.path.join(bdir, "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    if layout == "nested":
        for ci in range(len(rows[0]["cols"])):
            payload = bytearray(rows[0]["cols"][ci]["data"])
            if payload:
                payload[len(payload) // 2] ^= 0x01
                rows[0]["cols"][ci]["data"] = bytes(payload)
    else:
        for col in ("c_src__data", "c_tok__data"):
            payload = bytearray(rows[0][col])
            if payload:
                payload[len(payload) // 2] ^= 0x01
                rows[0][col] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    for lb in (128 << 20, 0):  # both dispatch paths ride the claims
        got = {
            r["src"]: (r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"],
                       r["max_a"])
            for r in group_sum(spark, out, "src", "tok", local_bytes=lb).collect()
        }
        assert got == truth
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- group_sum(where=): filtered grouped aggregation on codec streams -------


def _gsum_where_truth(spark, ds, key, agg, cond, cols):
    from pyspark.sql import functions as F

    return {
        (r[key], r["cnt"], r["nn"], r["s"], r["mn"], r["mx"])
        for r in decode_dataset(spark, ds, columns=cols)
        .where(cond)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count(agg).alias("nn"),
            F.sum(agg).alias("s"),
            F.min(agg).alias("mn"),
            F.max(agg).alias("mx"),
        )
        .collect()
    }


def _gsum_where_got(spark, ds, key, agg, where, lb):
    from xml2arrow_spark.operators.dataset import group_sum

    return {
        (r[key], r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"], r["max_a"])
        for r in group_sum(
            spark, ds, key, agg, local_bytes=lb, where=where
        ).collect()
    }


def test_group_sum_where_int_predicate(spark, ds):
    """id is range-clustered: the predicate exercises pruned, interior, and
    boundary blocks; the result must equal decode + WHERE + GROUP BY."""
    from pyspark.sql import functions as F

    truth = _gsum_where_truth(
        spark, ds, "tag", "qty", F.col("id").between(150, 749),
        ["tag", "qty", "id"],
    )
    for lb in (128 << 20, 0):
        assert _gsum_where_got(
            spark, ds, "tag", "qty", ("id", 150, 749), lb
        ) == truth


def test_group_sum_where_conjunction_float_string(spark, ds):
    """String conjunct rides the codec-aware mask, float conjunct decodes
    and compares as float64; NULL and NaN filter rows fail (SQL WHERE).
    qty as the key carries a NULL group through the filter."""
    from pyspark.sql import functions as F

    cond = F.col("tag").between("a", "b") & F.col("val").between(0.0, 200.0)
    truth = _gsum_where_truth(
        spark, ds, "qty", "id", cond, ["qty", "id", "tag", "val"]
    )
    for lb in (128 << 20, 0):
        got = _gsum_where_got(
            spark, ds, "qty", "id",
            [("tag", "a", "b"), ("val", 0.0, 200.0)], lb,
        )
        assert got == truth
    assert any(k is None for k, *_ in got)  # the NULL key group survives


def test_group_sum_where_one_sided_and_empty(spark, ds):
    from pyspark.sql import functions as F

    truth = _gsum_where_truth(
        spark, ds, "tag", "id", F.col("id") >= 500, ["tag", "id"]
    )
    for lb in (128 << 20, 0):
        assert _gsum_where_got(
            spark, ds, "tag", "id", ("id", 500, None), lb
        ) == truth
        # a predicate matching nothing yields an EMPTY result, not zeros
        assert _gsum_where_got(
            spark, ds, "tag", "id", ("id", 5000, 6000), lb
        ) == set()


def test_group_sum_where_validation(spark, ds):
    from xml2arrow_spark.operators.dataset import group_sum

    with pytest.raises(ValueError, match="lacks encoded column"):
        group_sum(spark, ds, "tag", "id", where=("nope", 0, 1))
    with pytest.raises(ValueError, match="scalar column"):
        group_sum(spark, ds, "tag", "id", where=("tokens", 0, 1))
    with pytest.raises(ValueError, match="must be int"):
        group_sum(spark, ds, "tag", "id", where=("id", 0.5, 2.5))
    with pytest.raises(ValueError, match="at least one bound"):
        group_sum(spark, ds, "tag", "id", where=("id", None, None))


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_sum_where_skips_never_decode(spark, tmp_path, layout):
    """The two metadata skips under WHERE, pinned the hard way: tampering
    payloads inside (a) an INTERIOR block whose key is single-valued (the
    zone claim answers it) and (b) a PRUNED block (outside the predicate)
    must leave the filtered answer exact — those payloads are never
    decoded — while decode_dataset refuses via the block CRC."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_sum

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    n = 900
    srcs = ["web", "code", "books"]
    tbl = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "src": pa.array([srcs[i // 300] for i in range(n)]),
            "tok": pa.array(
                [None if i % 50 == 7 else (i * 13) % 1000 for i in range(n)],
                type=pa.int64(),
            ),
        }
    )
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    truth = {}
    for i in range(600):  # id BETWEEN 0 AND 599
        s, t = srcs[i // 300], (None if i % 50 == 7 else (i * 13) % 1000)
        c, nn, sm, mn, mx = truth.get(s, (0, 0, 0, None, None))
        if t is not None:
            mn = t if mn is None else min(mn, t)
            mx = t if mx is None else max(mx, t)
        truth[s] = (c + 1, nn + (t is not None), sm + (t or 0), mn, mx)

    def _tamper(unit, block_row):
        bdir = os.path.join(out, "blocks")
        fpath = os.path.join(bdir, f"blocks-u{unit:06d}.parquet")
        t0 = pq.read_table(fpath)
        rows = t0.to_pylist()
        if layout == "nested":
            for ci in range(len(rows[block_row]["cols"])):
                payload = bytearray(rows[block_row]["cols"][ci]["data"])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    rows[block_row]["cols"][ci]["data"] = bytes(payload)
        else:
            for col in ("c_id__data", "c_src__data", "c_tok__data"):
                payload = bytearray(rows[block_row][col])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    rows[block_row][col] = bytes(payload)
        pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
        crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        spark.catalog.refreshByPath(bdir)

    _tamper(0, 0)  # rows 0-99: interior under the predicate, key-claimable
    _tamper(2, 1)  # rows 700-799: pruned under the predicate

    for lb in (128 << 20, 0):
        got = {
            r["src"]: (r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"],
                       r["max_a"])
            for r in group_sum(
                spark, out, "src", "tok", local_bytes=lb,
                where=("id", 0, 599),
            ).collect()
        }
        assert got == truth
    # the same skip on the KERNEL path: tok as key is never single-valued,
    # so in-range blocks decode — pruning alone must skip the tampered
    # out-of-range block, and the interior-tampered block must also prune
    full = {}
    for i in range(100, 600):
        t = None if i % 50 == 7 else (i * 13) % 1000
        c, nn, sm, mn, mx = full.get(t, (0, 0, 0, None, None))
        full[t] = (c + 1, nn + 1, sm + i, i if mn is None else mn, i)
    for lb in (128 << 20, 0):
        got = {
            r["tok"]: (r["cnt"], r["n_nonnull"], r["sum_a"], r["min_a"],
                       r["max_a"])
            for r in group_sum(
                spark, out, "tok", "id", local_bytes=lb,
                where=("id", 100, 599),
            ).collect()
        }
        assert got == full
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- group_count(where=) + metadata claims ----------------------------------


def _gcount_truth(spark, ds, key, cond, cols):
    from pyspark.sql import functions as F

    df = decode_dataset(spark, ds, columns=cols)
    if cond is not None:
        df = df.where(cond)
    return {
        r[key]: r["cnt"]
        for r in df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }


def _gcount_got(spark, ds, key, where, lb):
    from xml2arrow_spark.operators.dataset import group_count

    return {
        r[key]: r["cnt"]
        for r in group_count(
            spark, ds, key, local_bytes=lb, where=where
        ).collect()
    }


def test_group_count_where_int_predicate(spark, ds):
    """id is range-clustered: the predicate exercises pruned, interior, and
    boundary blocks; the result must equal decode + WHERE + GROUP BY."""
    from pyspark.sql import functions as F

    truth = _gcount_truth(
        spark, ds, "tag", F.col("id").between(150, 749), ["tag", "id"]
    )
    for lb in (128 << 20, 0):
        assert _gcount_got(spark, ds, "tag", ("id", 150, 749), lb) == truth


def test_group_count_where_conjunction_float_string(spark, ds):
    """String conjunct rides the codec-aware mask, float conjunct decodes
    and compares as float64; NULL and NaN filter rows fail (SQL WHERE).
    qty as the key carries a NULL group through the filter."""
    from pyspark.sql import functions as F

    cond = F.col("tag").between("a", "b") & F.col("val").between(0.0, 200.0)
    truth = _gcount_truth(spark, ds, "qty", cond, ["qty", "tag", "val"])
    for lb in (128 << 20, 0):
        got = _gcount_got(
            spark, ds, "qty", [("tag", "a", "b"), ("val", 0.0, 200.0)], lb
        )
        assert got == truth
    assert any(k is None for k in got)  # the NULL key group survives


def test_group_count_where_one_sided_and_empty(spark, ds):
    from pyspark.sql import functions as F

    truth = _gcount_truth(spark, ds, "tag", F.col("id") >= 500, ["tag", "id"])
    for lb in (128 << 20, 0):
        assert _gcount_got(spark, ds, "tag", ("id", 500, None), lb) == truth
        # a predicate matching nothing yields an EMPTY result, not zeros
        assert _gcount_got(spark, ds, "tag", ("id", 5000, 6000), lb) == {}


def test_group_count_where_validation(spark, ds):
    from xml2arrow_spark.operators.dataset import group_count

    with pytest.raises(ValueError, match="lacks encoded column"):
        group_count(spark, ds, "tag", where=("nope", 0, 1))
    with pytest.raises(ValueError, match="scalar column"):
        group_count(spark, ds, "tag", where=("tokens", 0, 1))
    with pytest.raises(ValueError, match="must be int"):
        group_count(spark, ds, "tag", where=("id", 0.5, 2.5))
    with pytest.raises(ValueError, match="at least one bound"):
        group_count(spark, ds, "tag", where=("id", None, None))


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_count_metadata_claim_never_decodes(spark, tmp_path, layout):
    """Key-clustered dataset: every block is single-valued (or all-NULL)
    in the key, so group_count answers from zone metadata (n_rows, key
    bounds, null count) alone. Tampering a payload byte in one block
    (fatal to any decode via the block CRC) must leave the answer exact
    while decode_dataset refuses — both unfiltered and under a WHERE that
    claims the tampered block interior."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_count

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    n = 900
    srcs = ["web", "code", None]  # one file per value; file 2 is all-NULL
    tbl = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "src": pa.array([srcs[i // 300] for i in range(n)]),
        }
    )
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    # tamper the key payload of one block in file u000001 ("code" rows)
    bdir = os.path.join(out, "blocks")
    fpath = os.path.join(bdir, "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    if layout == "nested":
        ci = [c["name"] for c in rows[0]["cols"]].index("src")
        payload = bytearray(rows[0]["cols"][ci]["data"])
        payload[len(payload) // 2] ^= 0x01
        rows[0]["cols"][ci]["data"] = bytes(payload)
    else:
        payload = bytearray(rows[0]["c_src__data"])
        payload[len(payload) // 2] ^= 0x01
        rows[0]["c_src__data"] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    for lb in (128 << 20, 0):  # both dispatch paths ride the claims
        got = {
            r["src"]: r["cnt"]
            for r in group_count(spark, out, "src", local_bytes=lb).collect()
        }
        assert got == {"web": 300, "code": 300, None: 300}
        # WHERE on the id column: the tampered block [300..399] is interior
        # to the predicate and still claims from key metadata alone
        got = {
            r["src"]: r["cnt"]
            for r in group_count(
                spark, out, "src", local_bytes=lb, where=("id", 150, 749)
            ).collect()
        }
        assert got == {"web": 150, "code": 300, None: 150}
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- IN-list predicates ((column, values) conjuncts) -------------------------


def test_in_list_interior_pruned_boundary(spark, ds):
    """tag is value-clustered (aaa then zzz, 100-row blocks): IN ['aaa']
    claims single-valued blocks interior from metadata, prunes the zzz
    blocks, and decodes only the straddling block — with an exact count."""
    r = _one(count_where(spark, ds, ("tag", ["aaa"])))
    assert r["n_match"] == 450
    assert r["n_pruned"] >= 3  # pure-zzz blocks skip unread
    assert r["n_interior"] >= 4  # pure-aaa blocks claim from metadata
    assert r["n_interior"] + r["n_pruned"] + r["n_boundary"] == r["n_blocks"]
    # both values: every block claims or straddles, nothing prunes
    r = _one(count_where(spark, ds, ("tag", ["aaa", "zzz"])))
    assert r["n_match"] == 900 and r["n_pruned"] == 0
    # absent value inside the corpus range: the aaa/zzz-straddling block
    # cannot zone-disprove it and decodes to zero matches; the rest prune
    r = _one(count_where(spark, ds, ("tag", ["mmm"])))
    assert r["n_match"] == 0 and r["n_pruned"] == r["n_blocks"] - 1
    # absent value below every block's range: everything prunes unread
    r = _one(count_where(spark, ds, ("tag", ["AAA"])))
    assert r["n_match"] == 0 and r["n_pruned"] == r["n_blocks"]


def test_in_list_int_and_agg(spark, ds):
    """Int IN-list through the codec-aware mask, composed with the SUM/MIN/
    MAX pushdown; equals the raw-table filter aggregate."""
    from pyspark.sql import functions as F

    want = (
        decode_dataset(spark, ds, columns=["qty", "id"])
        .where(F.col("qty").isin(1, 3))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("id").alias("s"),
            F.min("id").alias("mn"),
            F.max("id").alias("mx"),
        )
        .collect()[0]
    )
    for lb in (128 << 20, 0):
        r = _one(count_where(spark, ds, ("qty", [1, 3]), agg_col="id",
                             local_bytes=lb))
        assert (r["n_match"], r["n_sum"], r["n_min"], r["n_max"]) == (
            want["c"], want["s"], want["mn"], want["mx"]
        )


def test_in_list_float_and_mixed_conjunction(spark, ds):
    """Float IN-list (IEEE equality, decode path — never claims interior)
    conjoined with an int range; NULL and NaN rows fail, matching SQL."""
    from pyspark.sql import functions as F

    want = (
        decode_dataset(spark, ds, columns=["val", "id"])
        .where(F.col("val").isin(100.0, 150.5) & F.col("id").between(100, 700))
        .count()
    )
    assert want > 0  # the fixture places these exact doubles
    r = _one(count_where(
        spark, ds, [("val", [100.0, 150.5]), ("id", 100, 700)]
    ))
    assert r["n_match"] == want and r["n_interior"] == 0


def test_in_list_group_aggregates(spark, ds):
    """group_sum/group_count accept IN-list conjuncts; results equal
    decode + WHERE IN + GROUP BY on both dispatch paths."""
    from pyspark.sql import functions as F

    cond = F.col("qty").isin(0, 2, 6)
    truth_sum = _gsum_where_truth(
        spark, ds, "tag", "id", cond, ["tag", "id", "qty"]
    )
    truth_cnt = _gcount_truth(spark, ds, "tag", cond, ["tag", "qty"])
    for lb in (128 << 20, 0):
        assert _gsum_where_got(
            spark, ds, "tag", "id", ("qty", [0, 2, 6]), lb
        ) == truth_sum
        assert _gcount_got(spark, ds, "tag", ("qty", [0, 2, 6]), lb) == truth_cnt


def test_in_list_validation(spark, ds):
    with pytest.raises(ValueError, match="at least one value"):
        count_where(spark, ds, ("id", []))
    with pytest.raises(ValueError, match="must be int"):
        count_where(spark, ds, ("id", [1.5]))
    with pytest.raises(ValueError, match="must be str"):
        count_where(spark, ds, ("tag", [7]))
    with pytest.raises(ValueError, match="NaN"):
        count_where(spark, ds, ("val", [float("nan")]))


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_in_list_interior_never_decodes(spark, tmp_path, layout):
    """The IN-list interior claim pinned the hard way: a value-clustered
    dataset where the matching blocks are single-valued on a set member —
    tampering their payloads must leave the count exact (metadata answers)
    while decode refuses."""
    from pyspark.sql import functions as F

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    srcs = ["web", "code", "books"]
    tbl = pa.table({
        "src": pa.array([srcs[i // 300] for i in range(900)]),
        "id": pa.array(np.arange(900, dtype=np.int64)),
    })
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    # tamper the src payload of every block in the "code" file
    bdir = os.path.join(out, "blocks")
    fpath = os.path.join(bdir, "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    for r in rows:
        if layout == "nested":
            ci = [c["name"] for c in r["cols"]].index("src")
            payload = bytearray(r["cols"][ci]["data"])
            payload[len(payload) // 2] ^= 0x01
            r["cols"][ci]["data"] = bytes(payload)
        else:
            payload = bytearray(r["c_src__data"])
            payload[len(payload) // 2] ^= 0x01
            r["c_src__data"] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    for lb in (128 << 20, 0):
        r = _one(count_where(spark, out, ("src", ["code", "books"]),
                             local_bytes=lb))
        assert r["n_match"] == 600
        assert r["n_boundary"] == 0  # every block claimed or pruned
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- top_k: ORDER BY ... LIMIT pushdown with zone-ordered early stop --------


def test_top_k_matches_order_by_limit(spark, ds):
    """Both directions, both dispatch paths, duplicates kept with
    multiplicity; equals decode + orderBy + limit."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import top_k

    base = decode_dataset(spark, ds, columns=["qty"]).where(
        F.col("qty").isNotNull()
    )
    want_desc = [r["qty"] for r in base.orderBy(F.desc("qty")).limit(9).collect()]
    want_asc = [r["qty"] for r in base.orderBy(F.asc("qty")).limit(9).collect()]
    for lb in (128 << 20, 0):
        got = [r["qty"] for r in top_k(spark, ds, "qty", 9, local_bytes=lb).collect()]
        assert got == want_desc
        got = [r["qty"] for r in top_k(
            spark, ds, "qty", 9, descending=False, local_bytes=lb
        ).collect()]
        assert got == want_asc


def test_top_k_strings_and_overshoot(spark, ds):
    from xml2arrow_spark.operators.dataset import top_k

    for lb in (128 << 20, 0):
        got = [r["tag"] for r in top_k(spark, ds, "tag", 3, local_bytes=lb).collect()]
        assert got == ["zzz", "zzz", "zzz"]
        got = [r["tag"] for r in top_k(
            spark, ds, "tag", 2, descending=False, local_bytes=lb
        ).collect()]
        assert got == ["aaa", "aaa"]
        # k beyond the population returns every non-null value
        got = top_k(spark, ds, "id", 10**6, local_bytes=lb).count()
        assert got == 900


def test_top_k_validation(spark, ds):
    from xml2arrow_spark.operators.dataset import top_k

    with pytest.raises(ValueError, match="k >= 1"):
        top_k(spark, ds, "id", 0)
    with pytest.raises(ValueError, match="NaN"):
        top_k(spark, ds, "val", 3)  # float column refused
    with pytest.raises(ValueError, match="scalar"):
        top_k(spark, ds, "tokens", 3)
    with pytest.raises(ValueError, match="lacks encoded column"):
        top_k(spark, ds, "nope", 3)


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_top_k_early_stop_never_decodes(spark, tmp_path, layout):
    """Value-clustered dataset: top-k desc reads only the top blocks.
    Tampering every payload OUTSIDE the top blocks (fatal to any decode
    via the block CRC) must leave the answer exact while a full decode
    refuses — the early-termination skip is real, not cosmetic."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import top_k

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    # clustered: block i holds exactly [100i, 100i+99], shuffled WITHIN the
    # block so delta cannot fold the payload into metadata (a perfect
    # arithmetic progression encodes to 0 payload bytes — untamperable)
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.permutation(np.arange(100 * i, 100 * (i + 1), dtype=np.int64))
        for i in range(9)
    ])
    tbl = pa.table({"v": pa.array(vals)})
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    # tamper every block of the two LOWER files (values 0..599)
    bdir = os.path.join(out, "blocks")
    for unit in ("u000000", "u000001"):
        fpath = os.path.join(bdir, f"blocks-{unit}.parquet")
        t0 = pq.read_table(fpath)
        rows = t0.to_pylist()
        for r in rows:
            if layout == "nested":
                payload = bytearray(r["cols"][0]["data"])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r["cols"][0]["data"] = bytes(payload)
            else:
                payload = bytearray(r["c_v__data"])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r["c_v__data"] = bytes(payload)
        pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
        crc = os.path.join(bdir, f".blocks-{unit}.parquet.crc")
        if os.path.exists(crc):
            os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    want = list(range(899, 889, -1))
    for lb in (128 << 20, 0):
        got = [r["v"] for r in top_k(spark, out, "v", 10, local_bytes=lb).collect()]
        assert got == want
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- top_k_rows: RANK() <= k row retrieval ----------------------------------


def test_top_k_rows_rank_semantics_with_ties(spark, ds):
    """qty cycles 0..6 with heavy ties: the result must be the exact
    RANK() <= k row SET (ties included — deterministic, unlike LIMIT),
    on both directions and both dispatch paths."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from xml2arrow_spark.operators.dataset import top_k_rows

    raw = decode_dataset(spark, ds, columns=["qty", "id"])
    for desc in (True, False):
        w = Window.orderBy(F.desc("qty") if desc else F.asc("qty"))
        want = {
            (r["qty"], r["id"])
            for r in raw.where(F.col("qty").isNotNull())
            .withColumn("r", F.rank().over(w))
            .where(F.col("r") <= 5)
            .select("qty", "id")
            .collect()
        }
        for lb in (128 << 20, 0):
            got = {
                (r["qty"], r["id"])
                for r in top_k_rows(
                    spark, ds, "qty", 5, columns=["id"],
                    descending=desc, local_bytes=lb,
                ).collect()
            }
            assert got == want, (desc, lb)
    assert len(want) > 5  # the fixture really does tie across the k-th rank


def test_top_k_rows_includes_filter_column_and_small_corpus(spark, ds):
    from xml2arrow_spark.operators.dataset import top_k_rows

    df = top_k_rows(spark, ds, "id", 3, columns=["tag"])
    assert set(df.columns) == {"id", "tag"}
    assert sorted(r["id"] for r in df.collect()) == [897, 898, 899]
    # k beyond the population: every non-null row qualifies (RANK <= k)
    assert top_k_rows(spark, ds, "id", 10**6).count() == 900

# ---- exact_quantiles: discrete quantiles on the codec streams ----------------


def _quant_truth(spark, ds, col, q):
    xs = sorted(
        r[col]
        for r in decode_dataset(spark, ds, columns=[col]).collect()
        if r[col] is not None
    )
    rank = max(1, (q * len(xs) + 999) // 1000)
    return xs[rank - 1]


def test_exact_quantiles_int_and_string(spark, ds):
    """Milli-quantile ranks are integer-exact (ceil division): q=0 is the
    min, q=1000 the max, every value occurs in the data; both dispatch
    paths; nulls never rank."""
    from xml2arrow_spark.operators.dataset import exact_quantiles

    qs = [0, 1, 100, 500, 900, 999, 1000]
    for col in ("qty", "tag", "id"):
        want = {q: _quant_truth(spark, ds, col, q) for q in qs}
        for lb in (128 << 20, 0):
            got = {
                r["q_milli"]: r["value"]
                for r in exact_quantiles(
                    spark, ds, col, qs, local_bytes=lb
                ).collect()
            }
            assert got == want, (col, lb)


def test_exact_quantiles_validation_and_empty(spark, ds, tmp_path):
    from xml2arrow_spark.operators.dataset import exact_quantiles

    with pytest.raises(ValueError, match="at least one"):
        exact_quantiles(spark, ds, "id", [])
    with pytest.raises(ValueError, match=r"\[0, 1000\]"):
        exact_quantiles(spark, ds, "id", [1001])
    with pytest.raises(ValueError, match=r"\[0, 1000\]"):
        exact_quantiles(spark, ds, "id", [0.5])
    with pytest.raises(ValueError, match="not portable"):
        exact_quantiles(spark, ds, "val", [500])  # float refused
    # an all-null column quantiles to zero rows
    src = str(tmp_path / "src")
    out = str(tmp_path / "dsq")
    os.makedirs(src)
    t = pa.table({
        "a": pa.array([None] * 50, type=pa.int64()),
        "b": pa.array(np.arange(50, dtype=np.int64)),
    })
    pq.write_table(t, os.path.join(src, "part-0.parquet"))
    encode_parquet_dataset(spark, src, out)
    assert exact_quantiles(spark, out, "a", [500]).count() == 0

# ---- group_aggs: several agg columns in one pass -----------------------------


def test_group_aggs_two_columns_matches_decode(spark, ds):
    """One pass over (key stream + 2 agg streams) must equal two separate
    decode+groupBy aggregates, NULL groups and all, on both paths."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    truth = {
        (r["tag"], r["cnt"], r["nn_qty"], r["s_qty"], r["mn_qty"], r["mx_qty"],
         r["nn_id"], r["s_id"], r["mn_id"], r["mx_id"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("qty").alias("nn_qty"),
            F.sum("qty").alias("s_qty"),
            F.min("qty").alias("mn_qty"),
            F.max("qty").alias("mx_qty"),
            F.count("id").alias("nn_id"),
            F.sum("id").alias("s_id"),
            F.min("id").alias("mn_id"),
            F.max("id").alias("mx_id"),
        )
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["cnt"], r["nn_qty"], r["sum_qty"], r["min_qty"],
             r["max_qty"], r["nn_id"], r["sum_id"], r["min_id"], r["max_id"])
            for r in group_aggs(
                spark, ds, "tag", ["qty", "id"], local_bytes=lb
            ).collect()
        }
        assert got == truth


def test_group_aggs_where_and_validation(spark, ds):
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    truth = {
        (r["tag"], r["cnt"], r["s_qty"], r["s_id"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .where(F.col("id").between(150, 749))
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("qty").alias("s_qty"),
            F.sum("id").alias("s_id"),
        )
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["cnt"], r["sum_qty"], r["sum_id"])
            for r in group_aggs(
                spark, ds, "tag", ["qty", "id"],
                where=("id", 150, 749), local_bytes=lb,
            ).collect()
        }
        assert got == truth
    with pytest.raises(ValueError, match="at least one agg"):
        group_aggs(spark, ds, "tag", [])
    with pytest.raises(ValueError, match="integer agg"):
        group_aggs(spark, ds, "tag", ["qty", "val"])


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_aggs_metadata_claim_all_columns_or_kernel(spark, tmp_path, layout):
    """Key-clustered + BOTH agg columns' stats stated: the claim answers
    from metadata (tampered payloads stay untouched). One agg column
    missing its stats would downgrade to the kernel — covered by the
    all-null-extrema rule in _claim; here we pin the happy path hard."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    n = 900
    srcs = ["web", "code", "books"]
    tbl = pa.table({
        "src": pa.array([srcs[i // 300] for i in range(n)]),
        "tok": pa.array(
            [None if i % 50 == 7 else (i * 13) % 1000 for i in range(n)],
            type=pa.int64(),
        ),
        "chars": pa.array([(i * 7) % 500 for i in range(n)], type=pa.int64()),
    })
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300), os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    truth = {}
    for s, t, ch in zip(
        tbl.column("src").to_pylist(),
        tbl.column("tok").to_pylist(),
        tbl.column("chars").to_pylist(),
    ):
        c, nt, st_, nc, sc = truth.get(s, (0, 0, 0, 0, 0))
        truth[s] = (
            c + 1, nt + (t is not None), st_ + (t or 0), nc + 1, sc + ch,
        )

    # tamper EVERY payload in one unit: claims must still answer
    bdir = os.path.join(out, "blocks")
    fpath = os.path.join(bdir, "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    for r in rows:
        if layout == "nested":
            for ci in range(len(r["cols"])):
                payload = bytearray(r["cols"][ci]["data"])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r["cols"][ci]["data"] = bytes(payload)
        else:
            for col in ("c_src__data", "c_tok__data", "c_chars__data"):
                payload = bytearray(r[col])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r[col] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    for lb in (128 << 20, 0):
        got = {
            r["src"]: (r["cnt"], r["nn_tok"], r["sum_tok"], r["nn_chars"],
                       r["sum_chars"])
            for r in group_aggs(
                spark, out, "src", ["tok", "chars"], local_bytes=lb
            ).collect()
        }
        assert got == truth
    with pytest.raises(Exception):
        decode_dataset(spark, out).agg(F.count(F.lit(1))).collect()

# ---- group_aggs(with_sum_sq=): exact variance support -------------------------


def test_group_aggs_sum_sq_matches_decode(spark, ds):
    """sumsq_<c> must equal SUM(c*c) over non-null values per group (NULL
    for all-NULL groups), on both dispatch paths, alongside the untouched
    linear aggregates; where= composes."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    def truth(cond=None):
        df = decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        if cond is not None:
            df = df.filter(cond)
        return {
            (r["tag"], r["cnt"], r["s_qty"], r["ss_qty"], r["ss_id"])
            for r in df.groupBy("tag").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("qty").alias("s_qty"),
                F.sum(F.col("qty") * F.col("qty")).alias("ss_qty"),
                F.sum(F.col("id") * F.col("id")).alias("ss_id"),
            ).collect()
        }

    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["cnt"], r["sum_qty"], r["sumsq_qty"], r["sumsq_id"])
            for r in group_aggs(
                spark, ds, "tag", ["qty", "id"], local_bytes=lb,
                with_sum_sq=True,
            ).collect()
        }
        assert got == truth()
    from pyspark.sql import functions as F2

    got_w = {
        (r["tag"], r["cnt"], r["sum_qty"], r["sumsq_qty"], r["sumsq_id"])
        for r in group_aggs(
            spark, ds, "tag", ["qty", "id"], where=("id", 300, 700),
            with_sum_sq=True,
        ).collect()
    }
    assert got_w == truth((F2.col("id") >= 300) & (F2.col("id") <= 700))


def test_group_aggs_sum_sq_composite_and_variance(spark, ds):
    """Composite keys carry sumsq through the shared fold; variance
    derived from (nn, sum, sumsq) equals Spark's var_pop exactly on
    integer data (both are exact rational arithmetic here)."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    got = {
        (r["tag"], r["qty"]): (r["cnt"], r["sumsq_id"])
        for r in group_aggs(
            spark, ds, ["tag", "qty"], ["id"], with_sum_sq=True
        ).collect()
    }
    truth = {
        (r["tag"], r["qty"]): (r["cnt"], r["ss"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .groupBy("tag", "qty")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("id") * F.col("id")).alias("ss"),
        )
        .collect()
    }
    assert got == truth
    # exact variance: nn*sumsq - sum^2 == var_pop * nn^2 (integer identity)
    rows = group_aggs(spark, ds, "tag", ["id"], with_sum_sq=True).collect()
    vp = {
        r["tag"]: r["v"]
        for r in decode_dataset(spark, ds, columns=["tag", "id"])
        .groupBy("tag").agg(F.var_pop("id").alias("v")).collect()
    }
    for r in rows:
        nn, s, ss = r["nn_id"], r["sum_id"], r["sumsq_id"]
        if nn and vp[r["tag"]] is not None:
            assert abs((nn * ss - s * s) / (nn * nn) - vp[r["tag"]]) < 1e-6


def test_group_aggs_sum_sq_refuses_big_magnitudes(spark, tmp_path):
    """|value| > floor(sqrt(2^63-1)) cannot square inside int64: both
    dispatch paths must REFUSE, never wrap (the linear sum of the same
    data still answers)."""
    from xml2arrow_spark.operators.dataset import group_aggs

    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    os.makedirs(src)
    tbl = pa.table({
        "k": pa.array(["a"] * 4),
        "v": pa.array([1, 2, 3_037_000_500, 4], type=pa.int64()),
    })
    pq.write_table(tbl, os.path.join(src, "part-0.parquet"))
    encode_parquet_dataset(spark, src, out)
    for lb in (128 << 20, 0):
        with pytest.raises(Exception, match="sum-of-squares|ANSI|Arithmetic"):
            group_aggs(
                spark, out, "k", ["v"], local_bytes=lb, with_sum_sq=True
            ).collect()
    got = group_aggs(spark, out, "k", ["v"], local_bytes=0).collect()
    assert got[0]["sum_v"] == 1 + 2 + 3_037_000_500 + 4


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_group_aggs_sum_sq_disables_metadata_claim(spark, tmp_path, layout):
    """No block stat stores a sum of squares, so with_sum_sq must force
    the kernel even on claimable blocks: the SAME tamper that the claim
    path survives (test above) must make the flagged call refuse via the
    block CRC — proof it reads payload, never a stale claim."""
    from xml2arrow_spark.operators.dataset import group_aggs

    src = str(tmp_path / f"src_{layout}")
    out = str(tmp_path / f"ds_{layout}")
    os.makedirs(src)
    n = 300
    tbl = pa.table({
        "src": pa.array(["web"] * n),
        "tok": pa.array([(i * 13) % 1000 for i in range(n)], type=pa.int64()),
    })
    pq.write_table(tbl, os.path.join(src, "part-0.parquet"))
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=100
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    # unflagged: answers from metadata claims (sanity)
    base = group_aggs(spark, out, "src", ["tok"]).collect()
    assert base[0]["sum_tok"] == sum((i * 13) % 1000 for i in range(n))

    bdir = os.path.join(out, "blocks")
    fpath = sorted(
        os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")
    )[0]
    t0 = pq.read_table(fpath)
    rows = t0.to_pylist()
    for r in rows:
        if layout == "nested":
            for ci in range(len(r["cols"])):
                payload = bytearray(r["cols"][ci]["data"])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r["cols"][ci]["data"] = bytes(payload)
        else:
            for col in ("c_src__data", "c_tok__data"):
                payload = bytearray(r[col])
                if payload:
                    payload[len(payload) // 2] ^= 0x01
                    r[col] = bytes(payload)
    pq.write_table(pa.Table.from_pylist(rows, schema=t0.schema), fpath)
    crc = os.path.join(bdir, "." + os.path.basename(fpath) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.refreshByPath(bdir)

    # claims still answer the unflagged call after the tamper...
    again = group_aggs(spark, out, "src", ["tok"]).collect()
    assert again[0]["sum_tok"] == base[0]["sum_tok"]
    # ...but the flagged call must hit the kernel and refuse via CRC
    with pytest.raises(Exception):
        group_aggs(spark, out, "src", ["tok"], with_sum_sq=True).collect()


# ---- top_k(where=): filtered rank queries ------------------------------------


def test_top_k_where_matches_filtered_order_by(spark, ds):
    """Range + IN-list predicates compose with the rank walk: equals
    decode + WHERE + orderBy + limit on both directions and paths."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import top_k

    raw = decode_dataset(spark, ds, columns=["qty", "id", "tag"])
    cases = [
        (("id", 150, 749), F.col("id").between(150, 749)),
        (("tag", ["zzz"]), F.col("tag").isin("zzz")),
        ([("id", 300, None), ("qty", 1, 5)],
         (F.col("id") >= 300) & F.col("qty").between(1, 5)),
    ]
    for where, cond in cases:
        base = raw.where(cond & F.col("qty").isNotNull())
        for desc in (True, False):
            want = [
                r["qty"]
                for r in base.orderBy(
                    F.desc("qty") if desc else F.asc("qty")
                ).limit(6).collect()
            ]
            for lb in (128 << 20, 0):
                got = [r["qty"] for r in top_k(
                    spark, ds, "qty", 6,
                    descending=desc, local_bytes=lb, where=where,
                ).collect()]
                assert got == want, (where, desc, lb)


def test_top_k_where_empty_and_rank_column_is_filter_column(spark, ds):
    from xml2arrow_spark.operators.dataset import top_k

    for lb in (128 << 20, 0):
        assert top_k(
            spark, ds, "qty", 3, local_bytes=lb, where=("id", 10**9, None)
        ).count() == 0
        # ranking the filter column itself: the boundary mask and the
        # tally run over the same stream
        got = [r["id"] for r in top_k(
            spark, ds, "id", 4, local_bytes=lb, where=("id", None, 500)
        ).collect()]
        assert got == [500, 499, 498, 497]

# ---- value_histogram + filtered quantiles ------------------------------------


def test_value_histogram_matches_python_truth(spark, ds):
    from xml2arrow_spark.operators.dataset import value_histogram

    xs = [
        r["id"]
        for r in decode_dataset(spark, ds, columns=["id"]).collect()
    ]
    lo, hi = min(xs), max(xs)
    want: dict = {}
    for v in xs:
        b = (v - lo) * 7 // (hi - lo + 1)
        want[b] = want.get(b, 0) + 1
    for lb in (128 << 20, 0):
        got = {
            r["bin"]: r["cnt"]
            for r in value_histogram(
                spark, ds, "id", 7, local_bytes=lb
            ).collect()
        }
        assert got == want
    # explicit bounds exclude out-of-range rows; empty bins absent
    got = {
        r["bin"]: r["cnt"]
        for r in value_histogram(spark, ds, "id", 4, lo=100, hi=499).collect()
    }
    want2: dict = {}
    for v in xs:
        if 100 <= v <= 499:
            b = (v - 100) * 4 // 400
            want2[b] = want2.get(b, 0) + 1
    assert got == want2


def test_value_histogram_where_and_validation(spark, ds):
    from xml2arrow_spark.operators.dataset import value_histogram

    xs = [
        r["id"]
        for r in decode_dataset(spark, ds, columns=["id", "tag"])
        .where("tag = 'zzz'")
        .collect()
    ]
    lo, hi = min(xs), max(xs)
    want: dict = {}
    for v in xs:
        b = (v - lo) * 5 // (hi - lo + 1)
        want[b] = want.get(b, 0) + 1
    got = {
        r["bin"]: r["cnt"]
        for r in value_histogram(
            spark, ds, "id", 5, where=("tag", ["zzz"])
        ).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="n_bins >= 1"):
        value_histogram(spark, ds, "id", 0)
    with pytest.raises(ValueError, match="integer column"):
        value_histogram(spark, ds, "tag", 4)
    with pytest.raises(ValueError, match="integer column"):
        value_histogram(spark, ds, "val", 4)
    # empty selection: zero rows, not an error
    assert value_histogram(
        spark, ds, "id", 4, where=("id", 10**9, None)
    ).count() == 0


def test_exact_quantiles_where(spark, ds):
    from xml2arrow_spark.operators.dataset import exact_quantiles

    xs = sorted(
        r["qty"]
        for r in decode_dataset(spark, ds, columns=["qty", "id"])
        .where("id BETWEEN 150 AND 749")
        .collect()
        if r["qty"] is not None
    )
    qs = [0, 500, 1000]
    want = {
        q: xs[max(1, (q * len(xs) + 999) // 1000) - 1] for q in qs
    }
    for lb in (128 << 20, 0):
        got = {
            r["q_milli"]: r["value"]
            for r in exact_quantiles(
                spark, ds, "qty", qs, where=("id", 150, 749), local_bytes=lb
            ).collect()
        }
        assert got == want

# ---- top_k_rows(where=) + conjunctive selective decode ------------------------


def test_top_k_rows_where_matches_filtered_rank(spark, ds):
    """RANK() <= k within the filtered slice, ties included — equals the
    Spark window over the filtered rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from xml2arrow_spark.operators.dataset import top_k_rows

    raw = decode_dataset(spark, ds, columns=["qty", "id", "tag"])
    for where, cond in [
        (("tag", ["zzz"]), F.col("tag").isin("zzz")),
        ([("id", 100, 600), ("tag", "a", "b")],
         F.col("id").between(100, 600) & F.col("tag").between("a", "b")),
    ]:
        w = Window.orderBy(F.desc("qty"))
        want = {
            (r["qty"], r["id"])
            for r in raw.where(cond & F.col("qty").isNotNull())
            .withColumn("r", F.rank().over(w))
            .where(F.col("r") <= 4)
            .select("qty", "id")
            .collect()
        }
        got = {
            (r["qty"], r["id"])
            for r in top_k_rows(
                spark, ds, "qty", 4, columns=["id"], where=where
            ).collect()
        }
        assert got == want, where

# ---- composite-key GROUP BY COUNT ---------------------------------------------


def test_group_count_composite_matches_decode(spark, ds):
    """Two-key GROUP BY on the mixed-radix code stream; every NULL
    combination is its own group; both dispatch paths."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_count

    truth = {
        (r["tag"], r["qty"]): r["cnt"]
        for r in decode_dataset(spark, ds, columns=["tag", "qty"])
        .groupBy("tag", "qty")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["qty"]): r["cnt"]
            for r in group_count(
                spark, ds, ["tag", "qty"], local_bytes=lb
            ).collect()
        }
        assert got == truth
    assert any(q is None for _t, q in got)  # NULL component groups survive


def test_group_count_composite_where_and_validation(spark, ds):
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_count

    truth = {
        (r["tag"], r["qty"]): r["cnt"]
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .where(F.col("id").between(150, 749))
        .groupBy("tag", "qty")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["qty"]): r["cnt"]
            for r in group_count(
                spark, ds, ["tag", "qty"],
                where=("id", 150, 749), local_bytes=lb,
            ).collect()
        }
        assert got == truth
    with pytest.raises(ValueError, match="scalar int/string"):
        group_count(spark, ds, ["tag", "val"])  # float key component
    with pytest.raises(ValueError, match="lacks encoded column"):
        group_count(spark, ds, ["tag", "nope"])
    # a single-entry list is exactly the single-key path
    a = {r["tag"]: r["cnt"] for r in group_count(spark, ds, ["tag"]).collect()}
    b = {r["tag"]: r["cnt"] for r in group_count(spark, ds, "tag").collect()}
    assert a == b


def test_composite_value_counts_kernel_equivalence():
    """The mixed-radix kernel (group_codes, counted by fold_group_aggs
    with no aggregates) must equal a decode + python tuple count for
    every key codec mix, nulls included, unmasked and masked; every row's
    slot decodes to its own key tuple."""
    import itertools
    import json

    import pyarrow as pa2

    from xml2arrow_spark.operators.blocks import (
        decode_column,
        fold_group_aggs,
        group_codes,
    )
    from xml2arrow_spark.operators.encode import encode_column

    # the tail makes pdict escape rows; the bool key decodes (auto)
    a = pa2.array([1, 1, 2, None, 2, 1] * 40 + [7, 8, 9], type=pa2.int64())
    b = pa2.array(["x", None, "y", "y", "x", "x"] * 40 + ["z", "x", None])
    c = pa2.array([True, False, None, True, True, False] * 40 + [None] * 3)
    n = len(a)
    masks = [None, np.arange(n) % 3 != 1, np.zeros(n, dtype=bool)]
    for acodec, bcodec in itertools.product(
        ["plain", "dict", "rle", "pdict"], ["plain_str", "dict_str"]
    ):
        pairs = []
        for arr, codec in [(a, acodec), (b, bcodec), (c, "auto")]:
            _, meta, data = encode_column(arr, codec)
            pairs.append((meta, data))
        if acodec == "pdict":
            assert json.loads(pairs[0][0])["values_meta"]["n_exc"] > 0
        rows = list(zip(*(decode_column(m, d).to_pylist() for m, d in pairs)))
        keys, codes = group_codes(pairs)
        assert [keys[g] for g in codes] == rows
        for mask in masks:
            got = {
                kt: row[0]
                for kt, row in fold_group_aggs(pairs, [], mask=mask).items()
            }
            want: dict = {}
            for i, kt in enumerate(rows):
                if mask is None or mask[i]:
                    want[kt] = want.get(kt, 0) + 1
            assert got == want, (acodec, bcodec)
    # five keys of 8,192 distinct values each: the radix product
    # (8,193^5) passes int64, so the combine must compact after every key
    rng = np.random.default_rng(0)
    pairs = [encode_column(pa2.array(rng.permutation(8192)), "plain")[1:]
             for _ in range(5)]
    rows = list(zip(*(decode_column(m, d).to_pylist() for m, d in pairs)))
    keys, codes = group_codes(pairs)
    assert [keys[g] for g in codes] == rows


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_composite_key_claims_constant_blocks(spark, tmp_path, monkeypatch,
                                              layout):
    """A store presorted by both keys, whose blocks are single-valued (or
    all-null) in both: every such block folds from metadata and reads no
    payload; only the one mixed block does. Answers are equal on the
    driver-local path and above the valve."""
    from xml2arrow_spark.operators import encode as enc
    from xml2arrow_spark.operators.dataset import group_aggs, group_count

    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    k1, k2 = [], []
    for x, y in [(1, "a"), (1, "b"), (2, "a"), (2, None), (3, "b")]:
        k1 += [x] * 100
        k2 += [y] * 100
    k1 += [i % 3 for i in range(100)]  # the last block mixes both keys
    k2 += ["a" if i % 2 else None for i in range(100)]
    v = [None if i % 9 == 0 else i * 7 - 300 for i in range(600)]
    tbl = pa.table({"k1": pa.array(k1, pa.int64()), "k2": pa.array(k2),
                    "v": pa.array(v, pa.int64())})
    pq.write_table(tbl, os.path.join(src, "p.parquet"))
    manifest = CodecManifest.auto_for(from_arrow_schema(tbl.schema),
                                      block_rows=100)
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    counts: dict = {}
    sums: dict = {}
    for x, y, w in zip(k1, k2, v):
        counts[(x, y)] = counts.get((x, y), 0) + 1
        c, nn, sm = sums.get((x, y), (0, 0, 0))
        sums[(x, y)] = (c + 1, nn + (w is not None), sm + (w or 0))

    read = []
    payload = enc.BlockStats.payload

    def spy(self, col, i):
        read.append(i)
        return payload(self, col, i)

    monkeypatch.setattr(enc.BlockStats, "payload", spy)
    for lb in (128 << 20, 0):
        read.clear()
        got = {(r["k1"], r["k2"]): r["cnt"]
               for r in group_count(spark, out, ["k1", "k2"],
                                    local_bytes=lb).collect()}
        assert got == counts
        got = {(r["k1"], r["k2"]): (r["cnt"], r["nn_v"], r["sum_v"] or 0)
               for r in group_aggs(spark, out, ["k1", "k2"], ["v"],
                                   local_bytes=lb).collect()}
        assert got == sums
        if lb:  # the driver-local walk: only the mixed block reads payload
            assert read and set(read) == {5}


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_keyed_claim_on_a_nullable_filter_column(spark, tmp_path, monkeypatch,
                                                 layout):
    """A single range conjunct whose zone lies inside its bounds but whose
    column has nulls matches exactly that column's non-null rows, so a
    key-constant block folds from metadata when its agg column IS the
    filter column: only the block whose ``qty`` leaves the range reads
    payload. Summing another column needs the decode. Answers equal a
    Python groupby of the source rows on both paths."""
    from xml2arrow_spark.operators import encode as enc
    from xml2arrow_spark.operators.dataset import group_aggs

    src, out = str(tmp_path / "src"), str(tmp_path / "ds")
    os.makedirs(src)
    k = [i // 100 for i in range(500)]  # presorted: one key per block
    qty = [None if i % 10 == 3 else i % 7 for i in range(500)]
    qty[450] = 40  # block 4 straddles the range
    ids = list(range(500))
    tbl = pa.table({"k": pa.array(k, pa.int64()),
                    "qty": pa.array(qty, pa.int64()),
                    "id": pa.array(ids, pa.int64())})
    pq.write_table(tbl, os.path.join(src, "p.parquet"))
    manifest = CodecManifest.auto_for(from_arrow_schema(tbl.schema),
                                      block_rows=100)
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)

    def truth(agg):
        got: dict = {}
        for kk, q, v in zip(k, qty, agg):
            if q is None or not 0 <= q <= 6:
                continue
            c, nn, sm, mn, mx = got.get(kk, (0, 0, 0, None, None))
            got[kk] = (c + 1, nn + 1, sm + v, v if mn is None else min(mn, v),
                       v if mx is None else max(mx, v))
        return got

    read = []
    payload = enc.BlockStats.payload

    def spy(self, col, i):
        read.append(i)
        return payload(self, col, i)

    monkeypatch.setattr(enc.BlockStats, "payload", spy)
    for agg, name, claimed in ((qty, "qty", True), (ids, "id", False)):
        for lb in (128 << 20, 0):
            read.clear()
            got = {r["k"]: (r["cnt"], r[f"nn_{name}"], r[f"sum_{name}"],
                            r[f"min_{name}"], r[f"max_{name}"])
                   for r in group_aggs(spark, out, "k", [name], local_bytes=lb,
                                       where=("qty", 0, 6)).collect()}
            assert got == truth(agg), (name, lb)
            if lb:  # the driver-local walk
                assert set(read) == ({4} if claimed else {0, 1, 2, 3, 4})


# ---- composite-key group_aggs --------------------------------------------------


def test_group_aggs_composite_matches_decode(spark, ds):
    """Tokens+ids per (tag, qty) in one pass over the key code streams;
    equals decode + two-key groupBy, NULL combinations included."""
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    truth = {
        (r["tag"], r["qty"], r["cnt"], r["nn"], r["s"], r["mn"], r["mx"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .groupBy("tag", "qty")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("id").alias("nn"),
            F.sum("id").alias("s"),
            F.min("id").alias("mn"),
            F.max("id").alias("mx"),
        )
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["qty"], r["cnt"], r["nn_id"], r["sum_id"],
             r["min_id"], r["max_id"])
            for r in group_aggs(
                spark, ds, ["tag", "qty"], ["id"], local_bytes=lb
            ).collect()
        }
        assert got == truth


def test_group_aggs_composite_where_and_two_aggs(spark, ds):
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.dataset import group_aggs

    truth = {
        (r["tag"], r["qty"], r["cnt"], r["s_id"], r["s_q"])
        for r in decode_dataset(spark, ds, columns=["tag", "qty", "id"])
        .where(F.col("id").between(150, 749))
        .groupBy("tag", "qty")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("id").alias("s_id"),
            F.sum("qty").alias("s_q"),
        )
        .collect()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["tag"], r["qty"], r["cnt"], r["sum_id"], r["sum_qty"])
            for r in group_aggs(
                spark, ds, ["tag", "qty"], ["id", "qty"],
                where=("id", 150, 749), local_bytes=lb,
            ).collect()
        }
        assert got == truth
    with pytest.raises(ValueError, match="scalar int/string"):
        group_aggs(spark, ds, ["tag", "val"], ["id"])
    with pytest.raises(ValueError, match="integer agg"):
        group_aggs(spark, ds, ["tag", "qty"], ["val"])
    # 1-element key list delegates to the single-key path (claims intact)
    a = {
        (r["tag"], r["cnt"], r["sum_id"])
        for r in group_aggs(spark, ds, ["tag"], ["id"]).collect()
    }
    b = {
        (r["tag"], r["cnt"], r["sum_id"])
        for r in group_aggs(spark, ds, "tag", ["id"]).collect()
    }
    assert a == b
