"""The blocks-format read side: ``operators/encode.py::BlockStats``.

Every metadata aggregate reads a blocks file through this one view, so
the two layouts (nested ``cols`` struct, wide ``c_<col>__<field>``
columns) must answer alike, fail alike on a column a file lacks, and keep
the wide layout's laziness: a block answered from metadata never reads a
payload column off disk.
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
    encode_parquet_dataset,
    group_aggs,
    group_count,
    group_sum,
    time_bucket_count,
    top_k,
)
from xml2arrow_spark.operators.encode import BlockStats, zone_col
from xml2arrow_spark.pipeline.sketches import group_distinct

N = 900  # 3 files x 3 blocks x 100 rows; id-clustered, one src per file
SRCS = ["web", "code", "books"]


def _table() -> pa.Table:
    return pa.table({
        "id": pa.array(np.arange(N, dtype=np.int64)),
        "src": pa.array([SRCS[i // 300] for i in range(N)]),
        "tok": pa.array(
            [None if i % 40 == 3 else (i * 7) % 500 for i in range(N)],
            type=pa.int64(),
        ),
    })


def _store(spark, base, layout) -> str:
    src = os.path.join(base, f"src_{layout}")
    out = os.path.join(base, f"ds_{layout}")
    os.makedirs(src)
    tbl = _table()
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300),
                       os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(from_arrow_schema(tbl.schema),
                                      block_rows=100)
    encode_parquet_dataset(spark, src, out, manifest=manifest, layout=layout)
    return out


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("block_stats"))
    return {lay: _store(spark, base, lay) for lay in ("nested", "wide")}


def _rewrite(fpath, tbl):
    pq.write_table(tbl, fpath)
    crc = os.path.join(os.path.dirname(fpath), f".{os.path.basename(fpath)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _view_rows(view, cols):
    return [
        (
            view.n_rows(i),
            view.zone("id", i, "i"),
            view.zone("src", i, "s"),
            view.stat("tok", "zsum_i", i),
            [view.payload(c, i) for c in cols],
        )
        for i in range(len(view))
    ]


def test_both_layouts_read_alike(stores):
    cols = ["id", "src", "tok"]
    got = {
        lay: _view_rows(BlockStats(
            os.path.join(out, "blocks", "blocks-u000001.parquet"), pq, cols
        ), cols)
        for lay, out in stores.items()
    }
    assert got["nested"] == got["wide"]
    rows = got["nested"]
    assert [r[0] for r in rows] == [100, 100, 100]
    assert [r[1] for r in rows] == [(300, 399, 0), (400, 499, 0), (500, 599, 0)]
    assert {r[2] for r in rows} == {("code", "code", 0)}


def test_zone_col_reads_both_layouts_alike(spark, stores):
    """The Spark twin: one stat Column per layout, the same values, and
    None for a stat the table does not store."""
    got = {}
    for lay, out in stores.items():
        df = spark.read.parquet(os.path.join(out, "blocks"))
        assert zone_col(df, "id", "vmin_x") is None
        got[lay] = sorted(
            tuple(r) for r in df.select(
                zone_col(df, "id", "vmin_i"), zone_col(df, "src", "vmax_s"),
                zone_col(df, "tok", "n_null"),
            ).collect()
        )
    assert got["nested"] == got["wide"]
    assert [r[0] for r in got["nested"]] == list(range(0, N, 100))


def test_unstored_stat_field_reads_none(stores, tmp_path):
    """A stat field a file does not store (older blocks) reads as None on
    both layouts; the column itself is present, so nothing raises."""
    for lay, out in stores.items():
        fpath = str(tmp_path / f"{lay}.parquet")
        t0 = pq.read_table(os.path.join(out, "blocks", "blocks-u000000.parquet"))
        if lay == "nested":
            ci = t0.schema.get_field_index("cols")
            entry = t0.schema.field(ci).type.value_type
            schema = t0.schema.set(ci, pa.field("cols", pa.list_(pa.struct(
                [f for f in entry if f.name != "zsum_i"]
            ))))
            rows = t0.to_pylist()
            for r in rows:
                for e in r["cols"]:
                    del e["zsum_i"]
            _rewrite(fpath, pa.Table.from_pylist(rows, schema=schema))
        else:
            _rewrite(fpath, t0.drop_columns(["c_tok__zsum_i"]))
        view = BlockStats(fpath, pq, ["tok"])
        assert [view.stat("tok", "zsum_i", i) for i in range(len(view))] == [
            None, None, None
        ]
        assert view.zone("tok", 0, "i")[2] == 3  # n_null still stated


def _drop_src(out, layout):
    """Remove the ``src`` column from every block of one file."""
    fpath = os.path.join(out, "blocks", "blocks-u000001.parquet")
    t0 = pq.read_table(fpath)
    if layout == "nested":
        rows = t0.to_pylist()
        for r in rows:
            r["cols"] = [e for e in r["cols"] if e["name"] != "src"]
        _rewrite(fpath, pa.Table.from_pylist(rows, schema=t0.schema))
    else:
        _rewrite(fpath, t0.drop_columns(
            [n for n in t0.column_names if n.startswith("c_src__")]
        ))


_MISSING_SRC_OPS = {
    "count_where": lambda s, o: count_where(s, o, ("src", ["web"])),
    "group_count": lambda s, o: group_count(s, o, "src"),
    "group_aggs": lambda s, o: group_aggs(s, o, "src", ["tok"]),
    "time_bucket_count": lambda s, o: time_bucket_count(
        s, o, "id", 100, where=("src", ["web"])
    ),
    "top_k": lambda s, o: top_k(s, o, "id", 5, where=("src", ["web"])),
    "group_distinct": lambda s, o: group_distinct(s, o, "src", "tok"),
}


@pytest.mark.parametrize("layout", ["nested", "wide"])
@pytest.mark.parametrize("op", sorted(_MISSING_SRC_OPS))
def test_missing_column_raises_one_text(spark, tmp_path, layout, op):
    """A filter or key column absent from a blocks file fails with the one
    sidecar-disagreement text on both layouts, whatever the block's zone
    verdict would have been."""
    out = _store(spark, str(tmp_path), layout)
    _drop_src(out, layout)
    with pytest.raises(ValueError, match="block lacks an entry for 'src'"):
        _MISSING_SRC_OPS[op](spark, out).collect()


def test_wide_claims_never_read_payload(spark, stores, monkeypatch):
    """On the wide layout, blocks that are pruned or answered from
    metadata read no payload column: every ``read_table`` (and
    ``ParquetFile.read``) names its columns, and none is a ``c_*__data``
    column."""
    out = stores["wide"]
    calls = []
    real_table, real_read = pq.read_table, pq.ParquetFile.read

    def spy_table(source, *args, columns=None, **kwargs):
        calls.append(columns)
        return real_table(source, *args, columns=columns, **kwargs)

    def spy_read(self, columns=None, *args, **kwargs):
        calls.append(columns)
        return real_read(self, columns, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy_table)
    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)
    tbl = _table()
    ids = tbl.column("id").to_pylist()
    toks = tbl.column("tok").to_pylist()
    inside = [t for i, t in zip(ids, toks) if 100 <= i <= 499]
    rng = ("id", 100, 499)  # blocks [100, 500) interior, the rest pruned

    r = count_where(spark, out, rng, agg_col="tok").collect()[0]
    assert (r["n_match"], r["n_interior"], r["n_boundary"]) == (400, 4, 0)
    assert r["n_sum"] == sum(t for t in inside if t is not None)
    assert {tuple(x) for x in group_count(spark, out, "src").collect()} == {
        ("web", 300), ("code", 300), ("books", 300)
    }
    assert {tuple(x) for x in group_count(
        spark, out, "src", where=rng
    ).collect()} == {("web", 200), ("code", 200)}
    got = {x["src"]: (x["cnt"], x["sum_a"])
           for x in group_sum(spark, out, "src", "tok", where=rng).collect()}
    assert got["web"][0] == 200 and got["code"][0] == 200
    assert got["web"][1] + got["code"][1] == sum(
        t for t in inside if t is not None
    )

    assert calls  # the spy really saw the block reads
    assert all(c is not None for c in calls)
    assert [n for c in calls for n in c if n.endswith("__data")] == []
