"""group_distinct_est: per-group KMV distinct-count estimates computed on
a stored dataset's codec streams — the ESTIMATE itself is portable (the
numpy hash twin is bit-identical to the SQL expression), so an oracle can
pin it, which an HLL estimate never allows."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.dataset import encode_parquet_dataset
from xml2arrow_spark.pipeline import sqlgen as G
from xml2arrow_spark.pipeline.sketches import group_distinct_est, kmv_hash_np

N = 9000


def _table() -> pa.Table:
    rng = np.random.default_rng(2)
    return pa.table({
        "src": pa.array(
            [None if i % 97 == 0 else f"s{i % 4}" for i in range(N)]
        ),
        "tok": pa.array(
            [
                None if i % 50 == 3 else int(x)
                for i, x in enumerate(rng.integers(0, 5000, size=N))
            ],
            type=pa.int64(),
        ),
        "id": pa.array(np.arange(N, dtype=np.int64)),
    })


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.register("t", _table())
    yield con
    con.close()


def _oracle(duck, k, cond="TRUE"):
    return {
        r[0]: r[1]
        for r in duck.execute(f"""
            WITH pairs AS (
              SELECT DISTINCT src, {G.kmv_hash_expr('tok', 'duckdb')} AS h
              FROM t WHERE tok IS NOT NULL AND {cond}),
            ranked AS (
              SELECT src, h,
                     row_number() OVER (PARTITION BY src ORDER BY h) AS rn
              FROM pairs),
            sk AS (
              SELECT src, count(*) AS n_h, max(h) AS h_k
              FROM ranked WHERE rn <= {k} GROUP BY src)
            SELECT src, {G.kmv_estimate_expr('n_h', 'h_k', k, 'duckdb')}
            FROM sk""").fetchall()
    }


def test_kmv_hash_np_bit_identical_to_sql():
    """The numpy twin must equal the SQL hash for EVERY int64 — including
    negatives (SQL truncating %% + nonneg fold == numpy floor %%) and the
    2^31/2^62 boundary cases."""
    import duckdb

    rng = np.random.default_rng(1)
    vals = np.concatenate([
        rng.integers(-(2 ** 62), 2 ** 62, size=5000),
        np.arange(-100, 100),
        np.array([
            0, 1, -1, 2 ** 62, -(2 ** 62), 2 ** 31 - 1, -(2 ** 31 - 1),
            2 ** 31, -(2 ** 31), 2 ** 63 - 1, -(2 ** 63) + 1,
        ]),
    ]).astype(np.int64)
    con = duckdb.connect()
    con.register("tv", pa.table({"v": vals}))
    want = (
        con.execute(f"SELECT {G.kmv_hash_expr('v', 'duckdb')} FROM tv")
        .df().iloc[:, 0].to_numpy().astype(np.int64)
    )
    assert np.array_equal(kmv_hash_np(vals), want)


@pytest.fixture(scope="module", params=["nested", "wide"])
def ds(request, spark, tmp_path_factory):
    layout = request.param
    base = str(tmp_path_factory.mktemp(f"gkmv_{layout}"))
    src = os.path.join(base, "src")
    out = os.path.join(base, "ds")
    os.makedirs(src)
    tbl = _table()
    for i in range(3):
        pq.write_table(
            tbl.slice(3000 * i, 3000), os.path.join(src, f"part-{i}.parquet")
        )
    manifest = CodecManifest.auto_for(
        from_arrow_schema(tbl.schema), block_rows=512
    )
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)
    return out


def test_estimate_matches_oracle_both_paths(spark, ds, duck):
    for k in (64, 256):
        want = _oracle(duck, k)
        for lb in (128 << 20, 0):
            got = {
                r["src"]: r["n_distinct_est"]
                for r in group_distinct_est(
                    spark, ds, "src", "tok", k=k, local_bytes=lb
                ).collect()
            }
            assert got == want, (k, lb)
    assert None in got  # the NULL key is its own group


def test_exact_below_k_and_error_band(spark, ds, duck):
    exact = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT src, count(DISTINCT tok) FROM t GROUP BY src"
        ).fetchall()
    }
    # k above every group's cardinality: the sketch never fills -> exact
    got = {
        r["src"]: r["n_distinct_est"]
        for r in group_distinct_est(spark, ds, "src", "tok", k=10 ** 5).collect()
    }
    assert got == exact
    # k=256: inside a few sigma of the 1/sqrt(k) band
    got = {
        r["src"]: r["n_distinct_est"]
        for r in group_distinct_est(spark, ds, "src", "tok", k=256).collect()
    }
    for kk, truth in exact.items():
        assert abs(got[kk] - truth) / truth < 0.25, (kk, got[kk], truth)


def test_where_and_validation(spark, ds, duck):
    want = _oracle(duck, 64, "id BETWEEN 2000 AND 7000")
    for lb in (128 << 20, 0):
        got = {
            r["src"]: r["n_distinct_est"]
            for r in group_distinct_est(
                spark, ds, "src", "tok", k=64,
                where=("id", 2000, 7000), local_bytes=lb,
            ).collect()
        }
        assert got == want
    with pytest.raises(ValueError, match="k >= 1"):
        group_distinct_est(spark, ds, "src", "tok", k=0)
    with pytest.raises(ValueError, match="integer value"):
        group_distinct_est(spark, ds, "src", "src")
    with pytest.raises(ValueError, match="lacks encoded column"):
        group_distinct_est(spark, ds, "src", "nope")
    # a predicate matching nothing yields an empty result
    assert group_distinct_est(
        spark, ds, "src", "tok", where=("id", 10 ** 9, None)
    ).count() == 0


def test_group_distinct_exact_both_paths(spark, ds, duck):
    from xml2arrow_spark.pipeline.sketches import group_distinct

    exact = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT src, count(DISTINCT tok) FROM t GROUP BY src"
        ).fetchall()
    }
    for lb in (128 << 20, 0):
        got = {
            r["src"]: r["n_distinct"]
            for r in group_distinct(
                spark, ds, "src", "tok", local_bytes=lb
            ).collect()
        }
        assert got == exact, lb
    assert None in got  # the NULL key is its own group


def test_group_distinct_where_or(spark, ds, duck):
    from xml2arrow_spark.operators.predicates import any_of
    from xml2arrow_spark.pipeline.sketches import group_distinct

    exact = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT src, count(DISTINCT tok) FROM t "
            "WHERE id <= 1500 OR id >= 7500 GROUP BY src"
        ).fetchall()
    }
    for lb in (128 << 20, 0):
        got = {
            r["src"]: r["n_distinct"]
            for r in group_distinct(
                spark, ds, "src", "tok", local_bytes=lb,
                where=any_of(("id", None, 1500), ("id", 7500, None)),
            ).collect()
        }
        assert got == exact, lb


def test_group_distinct_cap_refuses(spark, ds, duck):
    from xml2arrow_spark.pipeline.sketches import group_distinct

    for lb in (128 << 20, 0):
        with pytest.raises(Exception, match="max_pairs=100 .* one file's tally"):
            group_distinct(
                spark, ds, "src", "tok", local_bytes=lb, max_pairs=100
            ).collect()
    # every file's tally fits, the driver's merged tally does not
    per_file = max(
        duck.execute(
            "SELECT count(*) FROM (SELECT DISTINCT src, tok FROM t "
            f"WHERE tok IS NOT NULL AND id // 3000 = {i})"
        ).fetchone()[0]
        for i in range(3)
    )
    with pytest.raises(ValueError, match="merged tally across files"):
        group_distinct(spark, ds, "src", "tok", max_pairs=per_file)
    with pytest.raises(ValueError, match="max_pairs"):
        group_distinct(spark, ds, "src", "tok", max_pairs=0)


def test_distinct_ops_refuse_pending_tombstones(spark, tmp_path):
    """Both distinct operators are stats-answering aggregates: counting
    soft-deleted rows would silently misreport, so pending tombstones
    must refuse (the operators/dataset.py contract)."""
    from xml2arrow_spark.operators.checkpoint import encode_dataset
    from xml2arrow_spark.operators.tombstones import tombstone_rows
    from xml2arrow_spark.pipeline.sketches import group_distinct, group_distinct_est
    from xml2arrow_spark.sources import tokens_dataframe

    out = str(tmp_path / "ds")
    df = tokens_dataframe(spark, 400, n_partitions=2)
    man = CodecManifest.auto_for(df.schema, block_rows=128)
    encode_dataset(df, out, man, n_units=4)
    doomed = [r["doc_id"] for r in df.select("doc_id").limit(3).collect()]
    tombstone_rows(
        spark.createDataFrame([(i,) for i in doomed], "doc_id string"), out
    )
    with pytest.raises(ValueError, match="tombstone"):
        group_distinct_est(spark, out, "source", "n_tok")
    with pytest.raises(ValueError, match="tombstone"):
        group_distinct(spark, out, "source", "n_tok")


def test_group_distinct_composite_key(spark, ds, duck):
    """COMPOSITE key through the mixed-radix code stream: exact distinct
    ids per (src, tok), NULL components included, both dispatch paths."""
    from xml2arrow_spark.pipeline.sketches import group_distinct

    exact = {
        (r[0], r[1]): r[2]
        for r in duck.execute(
            "SELECT src, tok, count(DISTINCT id) FROM t GROUP BY src, tok"
        ).fetchall()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["src"], r["tok"]): r["n_distinct"]
            for r in group_distinct(
                spark, ds, ["src", "tok"], "id", local_bytes=lb
            ).collect()
        }
        assert got == exact, lb
    assert any(k[0] is None for k in got)  # NULL key component survives
    assert any(k[1] is None for k in got)


def test_group_distinct_est_composite_key(spark, ds, duck):
    """The estimator under a composite key: the oracle reproduces the
    portable hash + per-(src,tok-bucket) k-min window bit-for-bit."""
    from xml2arrow_spark.pipeline.sketches import group_distinct_est

    # k above every composite group's cardinality (the largest are the
    # NULL-tok groups, ~90 distinct ids): the sketch never fills, so the
    # estimate is EXACT by construction and comparable to count(DISTINCT)
    exact = {
        (r[0], r[1]): r[2]
        for r in duck.execute(
            "SELECT src, tok, count(DISTINCT id) FROM t GROUP BY src, tok"
        ).fetchall()
    }
    for lb in (128 << 20, 0):
        got = {
            (r["src"], r["tok"]): r["n_distinct_est"]
            for r in group_distinct_est(
                spark, ds, ["src", "tok"], "id", k=512, local_bytes=lb
            ).collect()
        }
        assert got == exact, lb


def test_group_distinct_string_values(spark, ds, duck):
    """String value columns ride the dict_str CODE stream: distinct
    (group, value-code) pairs per block, dictionary-mapped after. Keyed
    on tok (int), counting distinct src strings, NULLs excluded."""
    from xml2arrow_spark.pipeline.sketches import group_distinct

    # both distinct operators group the NON-NULL (key, value) pair
    # stream -- SQL's WHERE value IS NOT NULL before GROUP BY -- so a
    # group whose values are all NULL does not appear (the estimator's
    # long-pinned semantics; the exact twin matches it)
    exact = {
        r[0]: r[1]
        for r in duck.execute(
            "SELECT tok, count(DISTINCT src) FROM t "
            "WHERE src IS NOT NULL GROUP BY tok"
        ).fetchall()
    }
    for lb in (128 << 20, 0):
        got = {
            r["tok"]: r["n_distinct"]
            for r in group_distinct(
                spark, ds, "tok", "src", local_bytes=lb
            ).collect()
        }
        assert got == exact, lb
