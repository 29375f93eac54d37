"""Round-3 additions: non-nullable enforcement, float32 dec_float,
embedding two-phase signature table, placement-identity guard, and
resume-encodes-nothing pins (VERDICT r02 items 3-7, ADVICE r02)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from xml2arrow_spark.errors import EncodeValueError, ManifestError
from xml2arrow_spark.manifest import CodecManifest, ColumnPolicy
from xml2arrow_spark.operators.encode import (
    _encode_block,
    _encode_plan,
    decode_table,
    encode_table,
)
from xml2arrow_spark.pipeline import dedup, similarity


# -- non-nullable enforcement (reference MissingRequiredField analog,
#    /root/reference/src/xml_parser.rs:327-338, 4777-4789) -------------------


def _required_manifest(col):
    return CodecManifest(columns={col: ColumnPolicy(codec="auto", nullable=False)})


@pytest.mark.parametrize(
    "arr",
    [
        pa.array([1, None, 3], type=pa.int64()),
        pa.array([1.5, None, 2.5], type=pa.float64()),
        pa.array([True, None], type=pa.bool_()),
        pa.array([[1, 2], None], type=pa.list_(pa.int32())),
    ],
    ids=["int", "float", "bool", "list_int"],
)
def test_null_in_non_nullable_column_raises(arr):
    block = pa.table({"c": arr})
    plan = _encode_plan(_required_manifest("c"), ["c"])
    with pytest.raises(EncodeValueError, match="nullable=False"):
        _encode_block(block, plan, 0, -1, 0)


def test_non_nullable_string_null_becomes_empty():
    """The reference's rule: a missing non-nullable Utf8 value is ``""``,
    not an error (/root/reference/src/xml_parser.rs:327-338)."""
    block = pa.table({"s": pa.array(["a", None, "c"])})
    enc = _encode_block(block, _encode_plan(_required_manifest("s"), ["s"]), 0, -1, 0)
    entry = enc.column(7)[0].as_py()[0]
    from xml2arrow_spark.operators.blocks import decode_column

    out = decode_column(entry["meta"], entry["data"])
    assert out.to_pylist() == ["a", "", "c"]
    assert out.null_count == 0


def test_nullable_enforcement_through_encode_table(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id bigint, v bigint"
    )
    man = CodecManifest(
        columns={
            "id": ColumnPolicy(codec="auto", nullable=False),
            "v": ColumnPolicy(codec="auto", nullable=False),
        },
        block_rows=8,
    )
    blocks = encode_table(df, man)
    with pytest.raises(Exception, match="nullable=False"):
        blocks.collect()
    # same data with v declared nullable encodes fine
    man_ok = CodecManifest.auto_for(df.schema, block_rows=8)
    decoded = decode_table(encode_table(df, man_ok), "id bigint, v bigint")
    assert sorted((r.id, r.v) for r in decoded.collect()) == [
        (1, 10), (2, None), (3, 30)
    ]


# -- float32 dec_float --------------------------------------------------------


def test_float32_dec_codec_roundtrip_and_size():
    from xml2arrow_spark.codecs.floats import (
        decode_dec_float,
        encode_dec_float,
        encode_plain_float,
    )

    v = (np.arange(4096, dtype=np.float32) * np.float32(0.25)) + np.float32(10.0)
    meta, blob = encode_dec_float(v)
    assert meta["dtype"] == "float32"
    out = decode_dec_float(meta, blob)
    assert out.dtype == np.float32
    assert np.array_equal(out.view(np.uint32), v.view(np.uint32))
    _, plain_blob = encode_plain_float(v)
    assert len(blob) < len(plain_blob) / 2  # the codec exists to WIN


@pytest.mark.parametrize(
    "vals",
    [
        np.array([np.float32(1) / 3, np.pi], dtype=np.float32),
        np.array([-0.0, 1.0], dtype=np.float32),
        np.array([np.nan, 1.0], dtype=np.float32),
        np.array([np.inf], dtype=np.float32),
    ],
    ids=["irrational", "neg_zero", "nan", "inf"],
)
def test_float32_non_decimal_falls_back(vals):
    from xml2arrow_spark.codecs.floats import choose_float_codec

    assert choose_float_codec(vals) == "plain_float"
    # and the block encoder round-trips bit-exactly via plain
    from xml2arrow_spark.operators.blocks import decode_column, encode_column

    arr = pa.array(vals)
    codec, meta, blob = encode_column(arr, "auto")
    assert codec == "plain_float"
    out = decode_column(meta, blob)
    assert np.array_equal(
        np.asarray(out).view(np.uint32), vals.view(np.uint32)
    )


# -- embedding_near_dup: two-phase signature table ---------------------------


def _emb_df(spark, n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    # make some near-dups
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(dim)
    vecs[7] = vecs[6] + 0.01 * rng.standard_normal(dim)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [[float(x) for x in v] for v in vecs],
        }
    )
    return spark.createDataFrame(pdf)


def test_embedding_two_phase_matches_persist(spark, tmp_path):
    df = _emb_df(spark)
    cached = similarity.embedding_near_dup(df, threshold=0.3)
    res_persist = sorted(map(str, cached.collect()))
    if cached._sig_cache is not None:
        cached._sig_cache.unpersist()
    two_phase = similarity.embedding_near_dup(
        df, threshold=0.3, sig_path=str(tmp_path / "esigs")
    )
    res_2p = sorted(map(str, two_phase.collect()))
    assert res_persist == res_2p
    assert len(res_2p) > 0
    # plan pin for BOTH pair generators' scale shape (VERDICT r02 #3): the
    # sig_path plan must contain no executor-storage cache
    plan = two_phase._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan


def test_band_union_carries_no_payload(spark, tmp_path):
    """VERDICT r02 #4: the band self-join must move (id, band_pos, band_key)
    only — the shingle/embedding payload is re-joined after pair dedup, so
    it never rides the 4-band union on either side."""
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog", "s", 44) for i in range(4)],
        "doc_id bigint, text string, source string, n_chars int",
    )
    # local_threshold_bytes=0 forces the DISTRIBUTED phase 2: the r06
    # small-store short-circuit returns a LocalRelation and would make
    # this plan pin vacuous
    pairs = dedup.lsh_near_dup_pairs(
        docs, sig_path=str(tmp_path / "s2"), local_threshold_bytes=0
    )
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # the Union node's output must not include the payload column
    union_lines = [l for l in plan.splitlines() if "Union" in l]
    assert union_lines, plan
    assert all("dtoks" not in l for l in union_lines), union_lines
    if pairs._sig_cache is not None:
        pairs._sig_cache.unpersist()


def test_max_cell_drops_only_degenerate_cells(spark):
    """The hot-cell cap: 30 identical boilerplate docs (one degenerate band
    cell -> 435 candidate pairs) are dropped at max_cell=8, while a small
    genuine near-dup pair elsewhere survives."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit", "s", 52)
              for i in range(30)]
    # 20 words differing only in the last -> shingle Jaccard 17/19 = 0.894
    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet empty gray town street"
    real = [
        (100, base + " today", "s", len(base) + 6),
        (101, base + " here", "s", len(base) + 5),
    ]
    docs = spark.createDataFrame(
        boiler + real, "doc_id bigint, text string, source string, n_chars int"
    )
    capped = dedup.lsh_near_dup_pairs(docs, max_cell=8)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(100, 101)}  # the boilerplate clique is gone, real pair kept
    if capped._sig_cache is not None:
        capped._sig_cache.unpersist()
    # default (max_cell=None) stays exact: the clique's pairs all appear
    exact = dedup.lsh_near_dup_pairs(docs)
    n_exact = exact.count()
    assert n_exact == 30 * 29 // 2 + 1
    if exact._sig_cache is not None:
        exact._sig_cache.unpersist()


# -- placement-identity guard (ADVICE r02) -----------------------------------


def _tok_df(spark, n=64):
    return spark.createDataFrame(
        [(f"d{i:04d}", [i % 7, i % 5, i], 3, f"s{i % 3}") for i in range(n)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def test_dataset_placement_guard(spark, tmp_path):
    from xml2arrow_spark.operators.checkpoint import encode_dataset

    df = _tok_df(spark)
    man = CodecManifest.auto_for(df.schema, block_rows=16)
    path = str(tmp_path / "ds")
    encode_dataset(df, path, man, n_units=4, only_units=[0, 1])
    # tamper: simulate a dataset written under a different placement hash
    import yaml

    spath = f"{path}/_manifest.yaml"
    side = open(spath).read().replace(
        "placement: murmur3_pmod_v1", "placement: xxhash64_pmod_v0"
    )
    open(spath, "w").write(side)
    with pytest.raises(ManifestError, match="placement"):
        encode_dataset(df, path, man, n_units=4)


def test_dataset_resume_encodes_only_missing_units(spark, tmp_path):
    """Two-call resume: call 2's manifest rows cover EXACTLY the units call
    1 left behind (re-encode-nothing), and the decoded dataset equals the
    input."""
    from xml2arrow_spark.operators.checkpoint import (
        completed_units,
        encode_dataset,
        read_encoded_dataset,
    )

    df = _tok_df(spark)
    man = CodecManifest.auto_for(df.schema, block_rows=16)
    path = str(tmp_path / "ds")
    encode_dataset(df, path, man, n_units=4, only_units=[0, 1])
    m1 = {r.unit_id for r in completed_units(spark, path).collect()}
    assert m1 == {0, 1}
    encode_dataset(df, path, man, n_units=4)
    rows = completed_units(spark, path).collect()
    assert sorted(r.unit_id for r in rows) == [0, 1, 2, 3]  # one row per unit
    decoded = read_encoded_dataset(spark, path)
    assert sorted(r.doc_id for r in decoded.collect()) == sorted(
        r.doc_id for r in df.collect()
    )
    assert decoded.count() == df.count()


# -- nested decode: explicit missing-column error (ADVICE r02) ----------------


def test_nested_decode_missing_column_is_descriptive(spark):
    df = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    man = CodecManifest.auto_for(df.schema, block_rows=8)
    blocks = encode_table(df, man)
    bad = decode_table(blocks, "a bigint, zz bigint")
    with pytest.raises(Exception, match="block lacks an entry for 'zz'"):
        bad.collect()


# -- wide dataset layout ------------------------------------------------------


def _write_tok_parquet(spark, path, n=64):
    _tok_df(spark, n).repartition(4).write.mode("overwrite").parquet(path)


def test_wide_dataset_roundtrip_and_column_pruning(spark, tmp_path):
    from xml2arrow_spark.operators.dataset import (
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "wide_ds")
    _write_tok_parquet(spark, src)
    m = encode_parquet_dataset(spark, src, out, layout="wide")
    assert m["rows"] == 64
    full = decode_dataset(spark, out)
    assert sorted(r.doc_id for r in full.collect()) == sorted(
        f"d{i:04d}" for i in range(64)
    )
    # subset decode: schema is exactly the requested columns
    sub = decode_dataset(spark, out, columns=["doc_id", "n_tok"])
    assert [f.name for f in sub.schema.fields] == ["doc_id", "n_tok"]
    assert sub.count() == 64
    with pytest.raises(ValueError, match="lacks encoded column"):
        decode_dataset(spark, out, columns=["nope"])


def test_wide_dataset_layout_mismatch_refused(spark, tmp_path):
    from xml2arrow_spark.operators.dataset import encode_parquet_dataset

    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    _write_tok_parquet(spark, src)
    encode_parquet_dataset(spark, src, out, layout="wide")
    with pytest.raises(ManifestError, match="layout"):
        encode_parquet_dataset(spark, src, out, layout="nested")


def test_nested_dataset_subset_decode(spark, tmp_path):
    from xml2arrow_spark.operators.dataset import (
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "nested_ds")
    _write_tok_parquet(spark, src)
    encode_parquet_dataset(spark, src, out)
    sub = decode_dataset(spark, out, columns=["doc_id"])
    assert [f.name for f in sub.schema.fields] == ["doc_id"]
    assert sub.count() == 64


# -- incremental dedup against a persisted signature table --------------------


def test_incremental_pairs_match_full_run_restriction(spark, tmp_path):
    """The incremental contract: pairs(old+new) restricted to pairs touching
    the new batch == incremental(new, sig_table_of_old). Exercises both
    new x old and new x new pairs."""
    base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet empty gray town street"
    texts = {
        0: base + " one",
        1: base + " two",          # near-dup of 0 (old x old: NOT re-emitted)
        2: "completely different words fill this document with unrelated content here today",
        10: base + " three",       # new: near-dups 0, 1 (new x old)
        11: base + " four",        # new: near-dups 0, 1, 10 (new x new via 10)
        12: "another unrelated document that matches nothing else in the corpus at all",
    }
    rows = [(i, t, "s", len(t)) for i, t in texts.items()]
    ddl = "doc_id bigint, text string, source string, n_chars int"
    old = spark.createDataFrame([r for r in rows if r[0] < 10], ddl)
    new = spark.createDataFrame([r for r in rows if r[0] >= 10], ddl)
    both = spark.createDataFrame(rows, ddl)

    # ground truth: full run over old+new, keep pairs touching new ids
    full = dedup.lsh_near_dup_pairs(both, sig_path=str(tmp_path / "full_sigs"))
    want = {
        (r.doc_a, r.doc_b, r.inter_size, r.union_size)
        for r in full.collect()
        if r.doc_a >= 10 or r.doc_b >= 10
    }
    assert want  # the fixture must actually produce new-touching pairs

    # incremental: old run writes the signature table, new batch probes it
    sig = str(tmp_path / "inc_sigs")
    dedup.lsh_near_dup_pairs(old, sig_path=sig).collect()
    got = {
        (r.doc_a, r.doc_b, r.inter_size, r.union_size)
        for r in dedup.lsh_near_dup_pairs_incremental(new, sig).collect()
    }
    assert got == want
    # old x old pairs are never re-emitted
    assert all(a >= 10 or b >= 10 for a, b, _, _ in got)


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_dataset_zone_filter_prunes_blocks(spark, tmp_path, layout):
    """decode_dataset(zone_filter=): whole blocks are skipped before any
    kernel runs (superset semantics — row filter applies after), on both
    layouts; on wide the filter also rides parquet row-group stats."""
    from xml2arrow_spark.operators.dataset import (
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / f"{layout}_zds")
    # ids 0..255 sorted within files -> block zone maps have narrow ranges
    spark.createDataFrame(
        [(i, [i, i + 1], 2, "s") for i in range(256)],
        "doc_id bigint, tokens array<int>, n_tok int, source string",
    ).orderBy("doc_id").coalesce(2).write.mode("overwrite").parquet(src)
    man = CodecManifest.auto_for(
        spark.read.parquet(src).schema, block_rows=32
    )
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)
    pruned = decode_dataset(spark, out, zone_filter=("doc_id", 10, 40))
    n_pruned = pruned.count()
    assert n_pruned < 256          # whole blocks actually skipped
    assert n_pruned >= 31          # superset of the matching rows
    exact = pruned.filter("doc_id between 10 and 40")
    assert sorted(r.doc_id for r in exact.collect()) == list(range(10, 41))


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_compact_dataset_preserves_decode(spark, tmp_path, layout):
    """Compaction merges block files without touching payload; decode
    before == decode after, and the file count actually drops."""
    import os

    from xml2arrow_spark.operators.dataset import (
        compact_dataset,
        decode_dataset,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / f"c_{layout}")
    _tok_df(spark, 96).repartition(12).write.mode("overwrite").parquet(src)
    encode_parquet_dataset(spark, src, out, layout=layout)
    blocks_dir = f"{out}/blocks"
    n_before = len([f for f in os.listdir(blocks_dir) if f.endswith(".parquet")])
    assert n_before == 12  # one block file per input file
    before = sorted(r.doc_id for r in decode_dataset(spark, out).collect())
    stats = compact_dataset(spark, out, target_files=3)
    n_after = len([f for f in os.listdir(blocks_dir) if f.endswith(".parquet")])
    assert n_after < n_before and n_after <= 3
    assert stats["files_before"] == 12 and stats["files_after"] == n_after
    after = sorted(r.doc_id for r in decode_dataset(spark, out).collect())
    assert after == before
    # compaction is idempotent-safe: running again is a no-op
    stats2 = compact_dataset(spark, out, target_files=3)
    assert stats2["files_after"] == stats2["files_before"] == n_after


# -- multimodal frame-sampling / resize plumbing ------------------------------


def test_sample_frames_windows_and_stats(spark):
    from xml2arrow_spark.pipeline import multimodal

    docs = spark.createDataFrame(
        [(1, "abcdefgh", "s", 8), (2, "xyz", "s", 3), (3, "", "s", 0)],
        "doc_id bigint, text string, source string, n_chars int",
    )
    out = multimodal.sample_frames(
        multimodal.attach_binary_payload(docs), n_frames=4
    ).collect()
    rows = {(r.doc_id, r.frame_idx): r for r in out}
    assert len(rows) == 12  # 3 docs x 4 frames
    # doc 1: "abcdefgh" -> 4 frames of 2 bytes each
    assert rows[(1, 0)].frame_bytes == b"ab" and rows[(1, 3)].frame_bytes == b"gh"
    assert rows[(1, 0)].frame_sum == ord("a") + ord("b")
    # doc 2: n=3, k=4 -> windows [0,0),[0,1),[1,2),[2,3)
    assert [rows[(2, j)].frame_len for j in range(4)] == [0, 1, 1, 1]
    assert rows[(2, 1)].frame_bytes == b"x"
    # empty doc: all frames empty, sums zero (no nulls anywhere)
    assert all(rows[(3, j)].frame_len == 0 and rows[(3, j)].frame_sum == 0
               for j in range(4))


def test_resize_media_grid_gather(spark):
    from xml2arrow_spark.pipeline import multimodal

    docs = spark.createDataFrame(
        [(1, "abcd", "s", 4), (2, "", "s", 0)],
        "doc_id bigint, text string, source string, n_chars int",
    )
    out = {
        r.doc_id: r.resized
        for r in multimodal.resize_media(
            multimodal.attach_binary_payload(docs), out_w=2, out_h=2
        ).collect()
    }
    assert out[1] == b"abcd"  # 4 bytes -> 2x2 identity gather
    assert out[2] == bytes(4)  # empty payload -> zero cells
    # injected decoder path (the real-decoder slot)
    up = {
        r.doc_id: r.resized
        for r in multimodal.resize_media(
            multimodal.attach_binary_payload(docs.filter("doc_id = 1")),
            out_w=1, out_h=2,
            decoder=lambda b: np.frombuffer(b, dtype=np.uint8)[::-1],
        ).collect()
    }
    assert up[1] == b"db"  # decoder reverses to "dcba"; gather idx [0, 2]


# -- IVF ANN ------------------------------------------------------------------


def test_ivf_codebook_deterministic_and_recall(spark):
    df = _emb_df(spark, n=64, dim=8)
    c1 = similarity.ivf_train(df, n_cells=4, iters=2)
    c2 = similarity.ivf_train(df, n_cells=4, iters=2)
    assert c1 == c2  # integer-exact: training is bit-deterministic
    assert len(c1) == 4 and all(len(c) == 8 for c in c1)
    # a duplicate of the query vector quantizes identically -> same cell ->
    # guaranteed candidate -> cosine 1.0 at the top
    dup = df.filter("vec_id = 0").withColumn(
        "vec_id", pytest.importorskip("pyspark.sql.functions").lit(999).cast("bigint")
    )
    out = similarity.ivf_ann_topk(
        df.unionAll(dup), query_id=0, k=3, n_cells=4, iters=2
    ).collect()
    assert out[0].vec_id == 999 and abs(out[0].cosine - 1.0) < 1e-12
