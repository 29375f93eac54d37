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
import yaml
from pyspark.sql.pandas.types import from_arrow_schema

from xml2arrow_spark.manifest import CodecManifest
from xml2arrow_spark.operators.dataset import (
    compact_dataset,
    count_where,
    dataset_column_stats,
    decode_dataset,
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


def _store(spark, base, layout, zone_maps=True) -> str:
    src = os.path.join(base, f"src_{layout}_{zone_maps}")
    out = os.path.join(base, f"ds_{layout}_{zone_maps}")
    os.makedirs(src)
    tbl = _table()
    for i in range(3):
        pq.write_table(tbl.slice(300 * i, 300),
                       os.path.join(src, f"part-{i}.parquet"))
    manifest = CodecManifest.auto_for(from_arrow_schema(tbl.schema),
                                      block_rows=100, zone_maps=zone_maps)
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


def test_view_reads_stats_only_of_stats_columns(stores, monkeypatch):
    """A view opened for the payload of some columns and the stats of
    another judges only that one's stats: the rest read as None on both
    layouts. On the wide layout the up-front read names no other stat
    column, and the payload comes in one read per parquet row group."""
    calls = []
    real_read, real_group = pq.ParquetFile.read, pq.ParquetFile.read_row_group

    def spy_read(self, columns=None, *args, **kwargs):
        calls.append(("read", columns))
        return real_read(self, columns, *args, **kwargs)

    def spy_group(self, i, columns=None, *args, **kwargs):
        calls.append(("group", i, columns))
        return real_group(self, i, columns, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)
    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy_group)
    got = {}
    for lay, out in stores.items():
        calls.clear()
        view = BlockStats(os.path.join(out, "blocks", "blocks-u000001.parquet"),
                          pq, ["src", "tok"], ["id"])
        got[lay] = [
            (view.zone("id", i, "i"), view.stat("tok", "n_null", i),
             view.payload("src", i), view.payload("tok", i))
            for i in range(len(view))
        ]
        if lay == "wide":
            assert calls == [
                ("read", ["n_rows"] + [f"c_id__{f}" for f in (
                    "vmin_i", "vmax_i", "vmin_d", "vmax_d", "vmin_s",
                    "vmax_s", "n_null", "zsum_i",
                )]),
                ("group", 0, ["c_src__meta", "c_src__data",
                              "c_tok__meta", "c_tok__data"]),
            ]
    assert got["nested"] == got["wide"]
    assert [r[0] for r in got["wide"]] == [
        (300, 399, 0), (400, 499, 0), (500, 599, 0)
    ]
    assert {r[1] for r in got["wide"]} == {None}


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
    "decode_dataset": lambda s, o: decode_dataset(s, o, columns=["src"]),
    "decode_dataset_row_filter": lambda s, o: decode_dataset(
        s, o, columns=["id"], row_filter=("src", ["web"])
    ),
    # every block of the file lacking src is pruned: the driver's file
    # elimination must not drop the file silently
    "decode_dataset_zone_pruned": lambda s, o: decode_dataset(
        s, o, columns=["src"], zone_filter=("id", 0, 99)
    ),
}


@pytest.mark.parametrize("layout", ["nested", "wide"])
@pytest.mark.parametrize("op", sorted(_MISSING_SRC_OPS))
def test_missing_column_raises_one_text(spark, tmp_path, layout, op):
    """A filter or key column absent from a blocks file fails with the one
    sidecar-disagreement text on both layouts, whatever the block's zone
    verdict would have been. A decode raises inside a Spark task, which
    re-raises it under its own type: there only the text is matched."""
    out = _store(spark, str(tmp_path), layout)
    _drop_src(out, layout)
    err = Exception if op.startswith("decode_dataset") else ValueError
    with pytest.raises(err, match="block lacks an entry for 'src'"):
        _MISSING_SRC_OPS[op](spark, out).collect()


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_decode_unknown_zone_column_refused(spark, stores, layout):
    """An unknown zone-filter column is refused up front, like an unknown
    row-filter column, instead of being ignored (nested) or failing
    inside a task (wide)."""
    with pytest.raises(ValueError, match="dataset lacks encoded column 'nope'"):
        decode_dataset(spark, stores[layout], zone_filter=("nope", 1, 2))


def test_zone_maps_off_stores_no_stats_and_answers_alike(spark, tmp_path):
    """A dataset encoded with ``zone_maps=False`` stores no block stats
    (its sidecar says so) and every reader still answers as on the
    default store, from payload instead of metadata."""
    base = str(tmp_path)
    on, off = _store(spark, base, "nested"), _store(spark, base, "nested", False)
    with open(os.path.join(off, "_manifest.yaml")) as f:
        assert yaml.safe_load(f)["zone_maps"] is False
    stats = {r["column"]: r for r in dataset_column_stats(spark, off).collect()}
    assert {c: (r["n_blocks"], r["n_unstated"]) for c, r in stats.items()} == {
        c: (9, 9) for c in ("id", "src", "tok")
    }
    rng = ("id", 150, 420)

    def answers(out):
        cw = count_where(spark, out, rng, agg_col="tok").collect()[0]
        return (
            (cw["n_match"], cw["n_sum"]),
            sorted(tuple(r) for r in group_count(spark, out, "src", where=rng).collect()),
            [r[0] for r in top_k(spark, out, "tok", 5, where=rng).collect()],
            sorted(tuple(r) for r in decode_dataset(
                spark, out, zone_filter=rng, row_filter=rng
            ).collect()),
        )

    got_on, got_off = answers(on), answers(off)
    assert got_off == got_on
    assert len(got_on[3]) == 271


def test_wide_claims_never_read_payload(spark, stores, monkeypatch):
    """On the wide layout, blocks that are pruned or answered from
    metadata read no payload column: every ``read_table`` (and
    ``ParquetFile.read`` / ``read_row_group(s)``) names its columns, and
    none is a ``c_*__data`` column."""
    out = stores["wide"]
    calls = []
    real_table, real_read = pq.read_table, pq.ParquetFile.read

    def spy_table(source, *args, columns=None, **kwargs):
        calls.append(columns)
        return real_table(source, *args, columns=columns, **kwargs)

    def spy_read(self, columns=None, *args, **kwargs):
        calls.append(columns)
        return real_read(self, columns, *args, **kwargs)

    real_group, real_groups = (pq.ParquetFile.read_row_group,
                               pq.ParquetFile.read_row_groups)

    def spy_group(self, i, columns=None, *args, **kwargs):
        calls.append(columns)
        return real_group(self, i, columns, *args, **kwargs)

    def spy_groups(self, row_groups, columns=None, *args, **kwargs):
        calls.append(columns)
        return real_groups(self, row_groups, columns, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy_table)
    monkeypatch.setattr(pq.ParquetFile, "read", spy_read)
    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy_group)
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy_groups)
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
    # a boundary block does read payload, and the spy sees that read
    calls.clear()
    group_count(spark, out, "src", where=("id", 150, 160)).collect()
    assert any(n.endswith("__data") for c in calls for n in c)


def _corrupt_chunks(fpath, row_groups, suffix) -> int:
    """Overwrite, in place, every ``*<suffix>`` column chunk of the given
    parquet row groups with garbage; a reader that touches one fails."""
    md = pq.ParquetFile(fpath).metadata
    spans = []
    for k in row_groups:
        rg = md.row_group(k)
        for j in range(rg.num_columns):
            cc = rg.column(j)
            if cc.path_in_schema.endswith(suffix):
                start = (cc.dictionary_page_offset if cc.has_dictionary_page
                         else cc.data_page_offset)
                spans.append((start, cc.total_compressed_size))
    with open(fpath, "r+b") as f:
        for start, size in spans:
            f.seek(start)
            f.write(b"\xff" * size)
    return len(spans)


def test_wide_decode_skips_payload_of_pruned_row_groups(spark, tmp_path):
    """A compacted wide file holds one parquet row group per merged input.
    A zone-filtered ``decode_dataset`` that prunes every block of some
    inputs reads no payload of their row groups: those ``__data`` chunks
    are garbage here, and the decode still answers exactly. The decode
    runs in Python workers, out of reach of an in-process spy, so a read
    of a corrupt chunk failing the job is the witness."""
    out = _store(spark, str(tmp_path), "wide")
    compact_dataset(spark, out, target_files=1)
    (fpath,) = [os.path.join(out, "blocks", f)
                for f in os.listdir(os.path.join(out, "blocks"))
                if f.endswith(".parquet")]
    pf = pq.ParquetFile(fpath)
    assert pf.metadata.num_row_groups == 3
    lows = [min(pf.read_row_group(k, columns=["c_id__vmin_i"])
                .column(0).to_pylist()) for k in range(3)]
    keep_rg = lows.index(600)  # the row group of ids 600..899 stays intact
    assert _corrupt_chunks(fpath, [k for k in range(3) if k != keep_rg],
                           "__data") == 6
    with pytest.raises(Exception):  # the corruption is seen when read
        decode_dataset(spark, out, columns=["id"]).collect()
    rng = ("id", 650, 720)
    got = decode_dataset(spark, out, columns=["id", "tok"], zone_filter=rng)
    assert sorted(r["id"] for r in got.collect()) == list(range(600, 800))
