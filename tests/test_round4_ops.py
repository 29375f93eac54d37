"""Round-4 hardening: compaction rerun/crash safety, idempotent row-level
sink (see test_checkpoint.py), vectorized IVF assignment, conjunctive zone
filters, band-partitioned signature storage, max_cell telemetry."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from xml2arrow_spark.operators.dataset import (
    compact_dataset,
    decode_dataset,
    encode_parquet_dataset,
)
from xml2arrow_spark.sources import tokens_dataframe


def _tok_df(spark, n):
    return tokens_dataframe(spark, n, variant="uniform_vocab", n_partitions=4)


def _blocks(out):
    d = os.path.join(out, "blocks")
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


# -- compaction rerun / crash safety (ADVICE r03 high) -------------------------


def test_recompact_shrink_preserves_rows(spark, tmp_path):
    """The previously-untested shrink path: compact to 6 files, then
    re-compact THOSE OUTPUTS to 2 — a second run whose inputs are compact
    files from an earlier generation. Generation-unique output names mean
    no new output path can collide with an input; row multiset invariant."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    _tok_df(spark, 96).repartition(12).write.mode("overwrite").parquet(src)
    encode_parquet_dataset(spark, src, out)
    before = sorted(r.doc_id for r in decode_dataset(spark, out).collect())

    s1 = compact_dataset(spark, out, target_files=6)
    assert s1["files_after"] <= 6
    gen1 = _blocks(out)
    assert all(f.startswith("compact-g0000-") for f in gen1)

    s2 = compact_dataset(spark, out, target_files=2)
    gen2 = _blocks(out)
    assert s2["files_after"] <= 2 and len(gen2) == s2["files_after"]
    assert all(f.startswith("compact-g0001-") for f in gen2)
    assert not (set(gen1) & set(gen2))  # outputs never reuse input names

    after = sorted(r.doc_id for r in decode_dataset(spark, out).collect())
    assert after == before
    # the compact log recorded both generations
    log = spark.read.parquet(os.path.join(out, "compact_log"))
    assert set(r.gen for r in log.select("gen").distinct().collect()) == {0, 1}


def test_compact_crash_leftover_swept(spark, tmp_path):
    """Crash window between rename and removal: a covered original left on
    disk must be swept (its rows already live in the compact file), not
    double-decoded — including TRANSITIVELY after another compaction
    generation consumed the covering file."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "ds")
    _tok_df(spark, 96).repartition(12).write.mode("overwrite").parquet(src)
    encode_parquet_dataset(spark, src, out)
    blocks_dir = os.path.join(out, "blocks")
    keep_copy = str(tmp_path / "keep.parquet")
    victim = os.path.join(blocks_dir, _blocks(out)[0])
    shutil.copy(victim, keep_copy)
    n_rows = decode_dataset(spark, out).count()

    compact_dataset(spark, out, target_files=4)
    # simulate the crash leftover: the original reappears next to the
    # compact file that already contains its rows
    shutil.copy(keep_copy, victim)
    assert decode_dataset(spark, out).count() > n_rows  # duplicated now

    compact_dataset(spark, out, target_files=2)  # sweep + next generation
    assert decode_dataset(spark, out).count() == n_rows

    # transitive case: leftover reappears AFTER its covering g-file was
    # itself compacted away into generation 2
    shutil.copy(keep_copy, victim)
    compact_dataset(spark, out, target_files=1)
    assert decode_dataset(spark, out).count() == n_rows


# -- partitioned signature store (VERDICT r03 #4, ADVICE latest-wins) ----------


BOILER = "the quick brown fox jumps over the lazy dog again and again today"


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "s", len(t)) for i, t in rows],
        "doc_id bigint, text string, source string, n_chars int",
    )


def test_stored_band_union_partition_pruned(spark, tmp_path):
    from xml2arrow_spark.pipeline import dedup
    from xml2arrow_spark.pipeline import sqlgen as G

    docs = _docs_df(spark, [(i, f"{BOILER} variant {i}") for i in range(20)])
    sig = str(tmp_path / "sigs")
    dedup.lsh_near_dup_pairs(docs, sig_path=sig).collect()
    union = dedup.stored_band_union(spark, sig, G.MINHASH_BANDS)
    plan = union._jdf.queryExecution().executedPlan().toString()
    # every branch's parquet scan carries a band_pos partition filter —
    # the probe reads 1/n_bands of the band rows, not the full table
    assert plan.count("PartitionFilters") >= G.MINHASH_BANDS
    assert "(band_pos" in plan
    # and the stored union equals the derived one exactly
    derived = dedup.band_union(
        dedup.minhash_signatures(docs).select(
            F.col("doc_id").alias("doc"),
            *[f"band{b}" for b in range(G.MINHASH_BANDS)],
        ),
        "doc",
        [f"band{b}" for b in range(G.MINHASH_BANDS)],
    )
    assert union.exceptAll(derived).count() == 0
    assert derived.exceptAll(union).count() == 0


def test_incremental_revision_latest_wins(spark, tmp_path):
    """A doc re-ingested with DIFFERENT content gets a defined winner: the
    latest batch. Its old signature and old band keys stop producing
    candidates; new docs match only the revised content."""
    from xml2arrow_spark.pipeline import dedup

    sig = str(tmp_path / "sigs")
    t_old = BOILER + " one two three four five six seven eight nine ten"
    t_new = "completely different content about spark partition pruning at scale"
    dedup.lsh_near_dup_pairs(
        _docs_df(spark, [(1, t_old), (3, "unrelated words entirely " * 4)]),
        sig_path=sig,
    ).collect()
    # batch 1: doc 2 duplicates doc 1's content -> pair (1,2)
    p1 = dedup.lsh_near_dup_pairs_incremental(
        _docs_df(spark, [(2, t_old)]), sig
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in p1} == {(1, 2)}
    # batch 2: doc 2 REVISED to new content -> no pair with doc 1 anymore
    p2 = dedup.lsh_near_dup_pairs_incremental(
        _docs_df(spark, [(2, t_new)]), sig
    ).collect()
    assert p2 == []
    # batch 3: doc 5 matches doc 2's REVISED content only
    p3 = dedup.lsh_near_dup_pairs_incremental(
        _docs_df(spark, [(5, t_new)]), sig
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in p3} == {(2, 5)}
    # and doc 5 against the OLD content of doc 2 must NOT pair
    p4 = dedup.lsh_near_dup_pairs_incremental(
        _docs_df(spark, [(6, t_old)]), sig
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in p4} == {(1, 6)}  # not (2, 6)


def test_local_bands_write_matches_spark(spark, tmp_path):
    """The r06 driver-side bands derivation writes the SAME table the
    Spark job writes (rows, dtypes), mixed batches included: batch 0 via
    the local path, batch 1 appended via the forced Spark path, then
    latest-wins reads resolve across both."""
    from pyspark.sql import functions as SF

    from xml2arrow_spark.pipeline import dedup
    from xml2arrow_spark.pipeline import sqlgen as G

    bands = [f"band{b}" for b in range(G.MINHASH_BANDS)]

    def sigs_of(rows):
        return dedup.with_minhash(_docs_df(spark, rows), "text").select(
            SF.col("doc_id").alias("doc"), "dtoks", *bands
        )

    rows0 = [(i, f"{BOILER} variant {i}") for i in range(6)] + [(99, "x")]
    for tag, kw in (
        ("loc", {"band_row_filter_local": dedup._dtoks_nonempty_local()}),
        ("spk", {"local_threshold_bytes": 0}),
    ):
        dedup.write_signatures(
            sigs_of(rows0), str(tmp_path / tag), "doc", bands, batch_id=0,
            mode="overwrite", band_row_filter=SF.size("dtoks") > 0, **kw,
        )
        dedup.write_signatures(
            sigs_of([(2, "replacement text for doc two entirely")]),
            str(tmp_path / tag), "doc", bands, batch_id=1, mode="append",
            band_row_filter=SF.size("dtoks") > 0,
            local_threshold_bytes=0,  # batch 1 always via the Spark path
        )
    got, want = (
        dedup.stored_band_union(spark, str(tmp_path / t), G.MINHASH_BANDS,
                                dedupe=True)
        for t in ("loc", "spk")
    )
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # raw tables match too (batch_id/row_hash carried identically)
    ga = spark.read.parquet(str(tmp_path / "loc" / "bands"))
    gb = spark.read.parquet(str(tmp_path / "spk" / "bands"))
    assert dict(ga.dtypes) == dict(gb.dtypes)
    assert sorted(map(tuple, ga.collect())) == sorted(map(tuple, gb.collect()))


def test_near_dup_pairs_local_matches_distributed(spark, tmp_path, sf_dir):
    """The r06 driver-local phase-2 short-circuit (small signature store)
    is an exact twin of the distributed band-join + verify: same rows,
    same schema, on the real fixture corpus and on a boilerplate clique,
    both with string and bigint ids."""
    import os

    from xml2arrow_spark.pipeline import dedup

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    a = dedup.lsh_near_dup_pairs(docs, sig_path=str(tmp_path / "sl"))
    b = dedup.lsh_near_dup_pairs(
        docs, sig_path=str(tmp_path / "sd"), local_threshold_bytes=0
    )
    assert a.schema == b.schema
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0
    clique = _docs_df(spark, [(i, BOILER) for i in range(8)])
    ca = dedup.lsh_near_dup_pairs(clique, sig_path=str(tmp_path / "cl"))
    cb = dedup.lsh_near_dup_pairs(
        clique, sig_path=str(tmp_path / "cd"), local_threshold_bytes=0
    )
    assert ca.schema == cb.schema
    assert sorted(map(tuple, ca.collect())) == sorted(map(tuple, cb.collect()))


def test_near_dup_local_valves_fall_through(spark, tmp_path):
    """The local phase-2 valves decline cleanly to the distributed path:
    (a) candidate blow-up — a boilerplate clique whose band cells exceed
    the pair cap still returns the exact pair set; (b) duplicate sig ids
    (two rows for one id in a single batch) — only the SQL join shape is
    faithful there, and both paths must agree."""
    from unittest import mock

    from xml2arrow_spark.pipeline import dedup

    # (a) a declined local helper (returns None) must fall through to the
    # distributed shape and still produce the exact 45 clique pairs
    clique = _docs_df(spark, [(i, BOILER) for i in range(10)])
    with mock.patch.object(
        dedup, "_near_dup_pairs_store_local", return_value=None
    ) as m:
        pairs = dedup.lsh_near_dup_pairs(
            clique, sig_path=str(tmp_path / "v1")
        )
        assert pairs.count() == 45
        assert m.called
    # (b) the real blow-up cap declines by itself: 4 cells x C(10,2)=45
    # candidates each exceeds a cap of 10
    dedup.lsh_near_dup_pairs(clique, sig_path=str(tmp_path / "v2")).count()
    loc = dedup._near_dup_pairs_store_local(
        spark, str(tmp_path / "v2"), "doc", 800, None, max_local_pairs=10
    )
    assert loc is None
    # (c) two sig rows for one id in one batch: the local twin declines
    # and the default call equals the forced-distributed result
    dup = _docs_df(spark, [(1, BOILER), (1, BOILER + " again"), (2, BOILER),
                           (3, BOILER + " today again")])
    got = dedup.lsh_near_dup_pairs(dup, sig_path=str(tmp_path / "v3"))
    got_rows = sorted(tuple(r) for r in got.collect())
    loc = dedup._near_dup_pairs_store_local(
        spark, str(tmp_path / "v3"), "doc", 800, None
    )
    assert loc is None
    want = dedup.lsh_near_dup_pairs(
        dup, sig_path=str(tmp_path / "v4"), local_threshold_bytes=0
    )
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert got_rows  # the duplicate id really pairs with its near-dups


def test_near_dup_local_valves_fail_closed_on_uri(spark, tmp_path):
    """A URI sig_path (here ``file://``) is not a local directory: the size
    probes read 0 bytes, so neither driver-local helper may run. Both go to
    Spark, and the result equals the plain-path one."""
    from unittest import mock

    from xml2arrow_spark.pipeline import dedup

    docs = _docs_df(spark, [(i, f"{BOILER} variant {i % 3}") for i in range(9)])
    want = dedup.lsh_near_dup_pairs(docs, sig_path=str(tmp_path / "plain"))
    boom = mock.Mock(side_effect=AssertionError("local twin ran on a URI"))
    with mock.patch.object(dedup, "_write_bands_local", boom), \
            mock.patch.object(dedup, "_near_dup_pairs_store_local", boom):
        got = dedup.lsh_near_dup_pairs(
            docs, sig_path=(tmp_path / "uri").as_uri()
        )
        got_rows = sorted(tuple(r) for r in got.collect())
    assert not boom.called
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert got_rows


def test_local_bands_write_crash_exposes_no_partial_batch(spark, tmp_path):
    """The driver-side bands write stages every band_pos file before it
    renames any: a crash mid-batch leaves no new visible band rows (a
    partial batch would generate candidates from only some bands)."""
    from unittest import mock

    import pyarrow.parquet as pq

    from xml2arrow_spark.pipeline import dedup
    from xml2arrow_spark.pipeline import sqlgen as G

    sp = str(tmp_path / "sigs")
    docs = _docs_df(spark, [(i, f"{BOILER} variant {i}") for i in range(6)])
    dedup.lsh_near_dup_pairs(docs, sig_path=sp)
    bands_dir = os.path.join(sp, dedup.BANDS_SUBDIR)

    def visible():
        return sorted(
            os.path.join(d, n) for d, _ds, names in os.walk(bands_dir)
            for n in names if not n.startswith((".", "_"))
        )

    before = visible()
    real_write, calls = pq.write_table, []

    def crash_on_third(*a, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise OSError("simulated crash")
        return real_write(*a, **kw)

    band_cols = [f"band{b}" for b in range(G.MINHASH_BANDS)]
    with mock.patch.object(pq, "write_table", crash_on_third), \
            pytest.raises(OSError, match="simulated crash"):
        dedup._write_bands_local(sp, "doc", band_cols, 0, "append", None)
    assert len(calls) == 3
    assert visible() == before


def test_max_cell_drop_telemetry(spark, tmp_path):
    """The skew valve is never silent: a boilerplate clique larger than
    max_cell reports exactly its dropped cells and band rows."""
    from xml2arrow_spark.pipeline import dedup
    from xml2arrow_spark.pipeline import sqlgen as G

    clique = _docs_df(spark, [(i, BOILER) for i in range(10)])
    # persist path
    pairs = dedup.lsh_near_dup_pairs(clique, max_cell=5)
    assert pairs.count() == 0  # every cell capped away
    d = pairs._drop_metrics.collect()[0]
    assert d["n_cells_dropped"] == G.MINHASH_BANDS  # one 10-doc cell per band
    assert d["n_rows_dropped"] == G.MINHASH_BANDS * 10
    pairs._sig_cache.unpersist()
    # stored two-phase path reports the same
    pairs2 = dedup.lsh_near_dup_pairs(
        clique, sig_path=str(tmp_path / "sigs"), max_cell=5
    )
    assert pairs2.count() == 0
    d2 = pairs2._drop_metrics.collect()[0]
    assert (d2["n_cells_dropped"], d2["n_rows_dropped"]) == (
        G.MINHASH_BANDS, G.MINHASH_BANDS * 10,
    )
    # uncapped run keeps the clique pairs and reports no drops
    pairs3 = dedup.lsh_near_dup_pairs(clique)
    assert pairs3.count() == 45  # C(10,2)
    assert pairs3._drop_metrics is None
    pairs3._sig_cache.unpersist()


# -- float-list (embedding) columns through the fused dataset path -------------


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_embeddings_dataset_roundtrip(spark, tmp_path, sf_dir, layout):
    src = str(tmp_path / "src")
    out = str(tmp_path / f"emb_{layout}")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb.repartition(4).write.mode("overwrite").parquet(src)
    encode_parquet_dataset(spark, src, out, layout=layout)
    dec = decode_dataset(spark, out)
    # bit-identical float32 vectors back (no NaNs in the fixture, so
    # exceptAll equality is exact)
    assert dec.exceptAll(emb).count() == 0
    assert emb.exceptAll(dec).count() == 0


# -- decontamination -------------------------------------------------------------


def test_decontamination_planted_leak(spark):
    from xml2arrow_spark.pipeline import dedup

    eval_passage = "what is the capital of france paris is the capital"
    train = _docs_df(spark, [
        (1, "totally innocent text about spark partitions and codecs here"),
        (2, f"a crawled page quoting: {eval_passage} end of quote material"),
        (3, "short"),  # < 3 words: no shingles, can never hit
    ])
    evals = _docs_df(spark, [(100, eval_passage)])
    hits = {r.doc_id: r.n_hits for r in
            dedup.contamination_hits(train, evals, min_overlap=2).collect()}
    assert 2 in hits and hits[2] >= 2  # the quoting page is flagged
    assert 1 not in hits and 3 not in hits
    kept = {r.doc_id for r in
            dedup.decontaminate(train, evals, min_overlap=2).collect()}
    assert kept == {1, 3}  # exactly the complement survives


# -- sequence packing / tf-idf --------------------------------------------------


def test_pack_sequences_boundaries(spark):
    from xml2arrow_spark.pipeline.textstats import pack_sequences

    rows = [
        ("a", "s1", 100),  # bins 0..0
        ("b", "s1", 150),  # offset 100, spans bin 0 -> bin 1 (straddles 128)
        ("c", "s1", 0),    # empty doc: occupies its start bin only
        ("d", "s1", 300),  # offset 250: bins 1..4 (tokens 250..549)
        ("e", "s2", 5),    # separate source: offsets restart at 0
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    got = {
        r.doc_id: (r.tok_offset, r.bin_start, r.bin_end)
        for r in pack_sequences(df, budget_tokens=128).collect()
    }
    assert got["a"] == (0, 0, 0)
    assert got["b"] == (100, 0, 1)   # straddles the 128-token boundary
    assert got["c"] == (250, 1, 1)   # empty: start bin only
    assert got["d"] == (250, 1, 4)   # long doc spans multiple bins
    assert got["e"] == (0, 0, 0)     # per-source stream, no cross-talk


def test_tfidf_topk_ranks_rare_tokens_first(spark):
    from xml2arrow_spark.pipeline.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "common common unique1 unique1 unique1", "s", 1),
            (2, "common words here", "s", 1),
            (3, "common words there", "s", 1),
        ],
        "doc_id bigint, text string, source string, n_chars int",
    )
    top = tfidf_topk(docs, k=1).collect()
    by_doc = {r.doc_id: r for r in top}
    # doc 1's top token is its high-tf doc-unique token, not 'common'
    from xml2arrow_spark.pipeline import sqlgen as G

    tok_expr = G.word_token("'unique1'", "spark")
    uniq_tok = spark.sql(f"SELECT {tok_expr} AS t").collect()[0]["t"]
    assert by_doc[1].token == uniq_tok
    assert by_doc[1].rank == 1
    # score surrogate: tf=3, N=3, df=1 -> 3*3*1000/1 = 9000
    assert by_doc[1].score_milli == 9000


# -- zone maps as table statistics ---------------------------------------------


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_dataset_column_stats_exact_and_flagged(spark, tmp_path, layout):
    """Zone-derived extrema are exact on both layouts; blocks that
    withheld stats are COUNTED (n_unstated flags estimates), never
    silently folded in."""
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.dataset import (
        dataset_column_stats,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / f"st_{layout}")
    spark.createDataFrame(
        [(i, float(i) / 7.0, None if i < 64 else i * 3) for i in range(256)],
        "a bigint, b double, c bigint",
    ).orderBy("a").coalesce(2).write.mode("overwrite").parquet(src)
    man = CodecManifest.auto_for(spark.read.parquet(src).schema, block_rows=64)
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)
    stats = {r.column: r for r in dataset_column_stats(spark, out).collect()}
    assert (stats["a"].vmin_i, stats["a"].vmax_i) == (0, 255)
    assert stats["a"].n_unstated == 0
    assert stats["b"].vmin_d == 0.0 and stats["b"].vmax_d == 255.0 / 7.0
    # column c: its first 64-row block is all-null -> stats withheld there
    assert (stats["c"].vmin_i, stats["c"].vmax_i) == (64 * 3, 255 * 3)
    assert stats["c"].n_unstated == 1


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_dataset_column_stats_string_bounds(spark, tmp_path, layout):
    """String columns report their (truncation-safe) zone bounds — exact
    here because every value is short — instead of reading as unstated."""
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.dataset import (
        dataset_column_stats,
        encode_parquet_dataset,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / f"ss_{layout}")
    spark.createDataFrame(
        [(i, f"k{i % 10}") for i in range(128)], "a bigint, s string"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    man = CodecManifest.auto_for(spark.read.parquet(src).schema, block_rows=32)
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)
    stats = {r.column: r for r in dataset_column_stats(spark, out).collect()}
    assert (stats["s"].vmin_s, stats["s"].vmax_s) == ("k0", "k9")
    assert stats["s"].n_unstated == 0  # fully stated, NOT flagged


# -- self-review fixes (round-4 review pass) -----------------------------------


def test_row_level_subset_decode_decimal_column(spark, tmp_path):
    """split_schema_ddl must not tear decimal(20,0) (the UInt64 widening
    type) on its inner comma — subset decode of such a dataset works."""
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.checkpoint import (
        encode_dataset,
        read_encoded_dataset,
    )

    df = spark.createDataFrame(
        [(f"d{i}", i) for i in range(200)], "doc_id string, v bigint"
    ).select(
        "doc_id",
        (F.col("v").cast("decimal(20,0)")
         + F.lit("9223372036854775808").cast("decimal(20,0)"))
        .cast("decimal(20,0)").alias("big"),
    )
    path = str(tmp_path / "decds")
    encode_dataset(df, path, CodecManifest.auto_for(df.schema), n_units=2)
    sub = read_encoded_dataset(spark, path, columns=["big"])
    assert sub.schema["big"].dataType.simpleString() == "decimal(20,0)"
    assert sub.count() == 200
    full = read_encoded_dataset(spark, path)
    assert full.exceptAll(df).count() == 0


def test_legacy_flat_sig_store_refused(spark, tmp_path):
    """A pre-partitioned-store flat signature table is refused loudly —
    resuming against it would silently drop the whole history."""
    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.pipeline import dedup

    legacy = str(tmp_path / "legacy")
    _docs_df(spark, [(1, BOILER)]).write.parquet(legacy)  # flat part files
    with pytest.raises(ManifestError, match="legacy flat layout"):
        dedup.next_batch_id(legacy)
    with pytest.raises(ManifestError, match="legacy flat layout"):
        dedup.lsh_near_dup_pairs_incremental(
            _docs_df(spark, [(2, BOILER)]), legacy
        )
    # second revision guard: a partitioned store WITHOUT row_hash (written
    # before the shared-tiebreak column) is refused, not silently mixed
    old = str(tmp_path / "prehash")
    _docs_df(spark, [(1, BOILER)]).selectExpr(
        "doc_id AS doc", "array(1L, 2L) AS dtoks",
        "1L AS band0", "2L AS band1", "3L AS band2", "4L AS band3",
        "0L AS batch_id",
    ).write.parquet(os.path.join(old, "sigs"))
    with pytest.raises(ManifestError, match="row_hash"):
        dedup.next_batch_id(old)
    with pytest.raises(ManifestError, match="row_hash"):
        dedup.read_signatures(spark, old, "doc")


def test_within_epoch_winner_consistent_across_tables(spark, tmp_path):
    """A batch pathologically carrying one id twice with different content
    must resolve to ONE version in BOTH store tables (no chimera: band
    keys from version A with the payload of version B)."""
    from pyspark.sql import functions as SF

    from xml2arrow_spark.pipeline import dedup
    from xml2arrow_spark.pipeline import sqlgen as G

    t_a = BOILER + " alpha beta gamma delta epsilon zeta eta theta"
    t_b = "utterly different words about columnar codecs " * 3
    dup = _docs_df(spark, [(7, t_a), (7, t_b), (8, "unrelated " * 8)])
    sig = str(tmp_path / "sigs")
    sigs_df = dedup.with_minhash(dup, "text").select(
        SF.col("doc_id").alias("doc"), "dtoks",
        *[f"band{b}" for b in range(G.MINHASH_BANDS)],
    )
    dedup.write_signatures(
        sigs_df, sig, "doc", [f"band{b}" for b in range(G.MINHASH_BANDS)],
        batch_id=0, mode="overwrite",
        band_row_filter=SF.size("dtoks") > 0,
    )
    win = dedup.read_signatures(spark, sig, "doc", dedupe=True).filter(
        "doc = 7"
    ).collect()
    assert len(win) == 1
    winner_keys = {b: win[0][f"band{b}"] for b in range(G.MINHASH_BANDS)}
    bands = dedup.stored_band_union(
        spark, sig, G.MINHASH_BANDS, dedupe=True
    ).filter("doc = 7").collect()
    got_keys = {r.band_pos: r.band_key for r in bands}
    assert got_keys == winner_keys  # same version end-to-end, never mixed


# -- general-entropy cascade ("+zstd" / "+lz4") --------------------------------


def test_general_cascade_roundtrip_all_kinds():
    import numpy as np
    import pyarrow as pa

    from xml2arrow_spark.operators.blocks import decode_column, encode_column

    rng = np.random.default_rng(7)
    cases = [
        pa.array(rng.integers(0, 50, 5000), type=pa.int64()),
        pa.array(
            ["doc-%04d" % (i % 37) for i in range(5000)], type=pa.string()
        ),
        pa.array(rng.integers(0, 100, 5000) / 100.0, type=pa.float64()),
        pa.array((rng.integers(0, 2, 5000) == 1)),
        pa.array(
            [list(range(i % 7)) for i in range(2000)], type=pa.list_(pa.int32())
        ),
        # nullable
        pa.array(
            [None if i % 11 == 0 else i % 13 for i in range(5000)],
            type=pa.int32(),
        ),
    ]
    for arr in cases:
        for g in ("zstd", "lz4"):
            resolved, meta, payload = encode_column(arr, f"auto+{g}")
            assert decode_column(meta, payload).equals(arr)
    # a cascaded block that benefits records the suffix and shrinks
    text = pa.array(["the same boilerplate sentence"] * 4000, type=pa.string())
    r_plain, m_plain, p_plain = encode_column(text, "plain_str")
    r_z, m_z, p_z = encode_column(text, "plain_str+zstd")
    assert r_z == "plain_str+zstd" and len(p_z) < len(p_plain)
    assert decode_column(m_z, p_z).equals(text)
    # a block that does NOT benefit stores the raw stream (suffix dropped)
    rand_ints = pa.array(rng.integers(0, 2**60, 200), type=pa.int64())
    r, m, p = encode_column(rand_ints, "plain+zstd")
    assert r == "plain"
    assert decode_column(m, p).equals(rand_ints)


def test_general_cascade_through_table_and_selector(spark):
    from xml2arrow_spark.manifest import CodecManifest, ColumnPolicy
    from xml2arrow_spark.operators.encode import decode_table, encode_table
    from xml2arrow_spark.plans.selector import resolve_manifest
    from xml2arrow_spark.sources import tokens_dataframe

    df = tokens_dataframe(spark, 2000, variant="skewed_zipf", n_partitions=2)
    man = CodecManifest(
        columns={c: ColumnPolicy(codec="auto+zstd") for c in
                 ("doc_id", "tokens", "n_tok", "source")},
        block_rows=512,
    )
    resolved = resolve_manifest(df, man)
    # the sample-resolved base codec keeps the cascade suffix
    assert all(p.codec.endswith("+zstd") for p in resolved.columns.values())
    blocks = encode_table(df, resolved)
    ddl = "doc_id string, tokens array<int>, n_tok int, source string"
    from xml2arrow_spark.operators.verify import verify_roundtrip

    assert verify_roundtrip(df, decode_table(blocks, ddl))["ok"]
    # cascade shrinks the stored bytes on this fixture
    plain_out = encode_table(df, resolve_manifest(df, CodecManifest.auto_for(
        df.schema, block_rows=512))).agg({"out_bytes": "sum"}).collect()[0][0]
    z_out = blocks.agg({"out_bytes": "sum"}).collect()[0][0]
    assert z_out < plain_out


def test_general_cascade_validation():
    import pytest as _pytest

    from xml2arrow_spark.errors import ManifestError
    from xml2arrow_spark.manifest import ColumnPolicy

    with _pytest.raises(ManifestError, match="general codec"):
        ColumnPolicy(codec="auto+gzip").validate("c", "bigint")
    with _pytest.raises(ManifestError, match="not valid for"):
        ColumnPolicy(codec="fsst+zstd").validate("c", "bigint")
    ColumnPolicy(codec="rle+lz4").validate("c", "bigint")  # ok


# -- deterministic sampling / splitting ----------------------------------------


def test_stratified_sample_monotone_and_deterministic(spark, sf_dir):
    from xml2arrow_spark.pipeline.sampling import stratified_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    small = {r.doc_id for r in stratified_sample(docs, {"src0": 200}).collect()}
    big = {r.doc_id for r in stratified_sample(docs, {"src0": 600}).collect()}
    again = {r.doc_id for r in stratified_sample(docs, {"src0": 200}).collect()}
    assert small == again  # deterministic
    assert small <= big  # raising the fraction grows the sample monotonically
    assert all(  # default 0: only the named stratum survives
        r.source == "src0"
        for r in stratified_sample(docs, {"src0": 200}).collect()
    )
    full = stratified_sample(docs, {}, default_milli=1000)
    assert full.count() == docs.count()


def test_deterministic_split_partitions_exactly(spark, sf_dir):
    from xml2arrow_spark.pipeline.sampling import deterministic_split

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = deterministic_split(docs, {"train": 800, "val": 100, "test": 100})
    # exhaustive + disjoint: every row in exactly one split
    assert out.count() == docs.count()
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
    # fractions sum < 1000 drops the tail bucket range (a holdout)
    hold = deterministic_split(docs, {"train": 500})
    assert 0 < hold.count() < docs.count()
    with pytest.raises(ValueError, match="> 1000"):
        deterministic_split(docs, {"a": 800, "b": 300})


def test_cosine_topk_batch_matches_single(spark, sf_dir):
    from xml2arrow_spark.pipeline import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    batch = similarity.cosine_topk_batch(emb, [0, 7], k=4).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: -r.cosine):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.cosine))
    for qid in (0, 7):
        single = [
            (r.vec_id, r.cosine)
            for r in similarity.cosine_topk(emb, query_id=qid, k=4).collect()
        ]
        assert by_q[qid] == single


# -- conjunctive + string zone filters (VERDICT r03 #6) ------------------------


def test_zone_str_bounds_truncation_safe():
    from xml2arrow_spark.operators.encode import _ZONE_STR_MAX, _zone_str_bounds

    lo, hi = _zone_str_bounds("abc", "xyz")
    assert (lo, hi) == ("abc", "xyz")  # short strings pass through
    long_lo, long_hi = "a" * 200, "m" * 200
    lo, hi = _zone_str_bounds(long_lo, long_hi)
    assert lo == "a" * _ZONE_STR_MAX and lo <= long_lo  # prefix = valid lower
    assert hi >= long_hi and len(hi) <= _ZONE_STR_MAX  # bumped upper bound
    # un-incrementable prefix -> no safe upper bound (kept, never pruned)
    top = chr(0x10FFFF) * 100
    lo, hi = _zone_str_bounds("a", top)
    assert hi is None
    # surrogate gap is skipped, never emitted
    lo, hi = _zone_str_bounds("a", "b" + chr(0xD7FF) * 100)
    assert hi is not None and all(not 0xD800 <= ord(c) <= 0xDFFF for c in hi)
    assert hi >= "b" + chr(0xD7FF) * 100


def test_multi_zone_filter_table(spark):
    """Conjunction of int + string predicates on an encoded TABLE: pruning
    is effective (blocks skipped) and invisible (exact rows after the
    row filter)."""
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.encode import decode_table, encode_table

    rows = [(i, float(i) / 10.0, chr(ord("A") + (i // 256) % 4)) for i in range(2048)]
    df = spark.createDataFrame(rows, "id bigint, v double, flag string").coalesce(1)
    man = CodecManifest.auto_for(df.schema, block_rows=256)
    blocks = encode_table(df, man)
    dec = decode_table(
        blocks, "id bigint, v double, flag string",
        zone_filter=[("id", 300, 700), ("flag", "B", "B")],
    )
    got = dec.collect()
    assert 0 < len(got) < 2048  # blocks actually pruned
    exact = sorted(
        r.id for r in dec.filter(
            "id between 300 and 700 and flag = 'B'"
        ).collect()
    )
    assert exact == list(range(300, 512))  # flag B = ids 256..511
    # superset semantics: every surviving block intersects BOTH predicates
    assert all(256 <= r.id <= 767 for r in got)


@pytest.mark.parametrize("layout", ["nested", "wide"])
def test_multi_zone_filter_dataset(spark, tmp_path, layout):
    """Conjunctive int + STRING zone filters on a stored dataset, both
    layouts (on wide, both conjuncts also ride parquet row-group stats)."""
    from xml2arrow_spark.manifest import CodecManifest

    src = str(tmp_path / "src")
    out = str(tmp_path / f"z_{layout}")
    # ids sorted within files; grp cycles every 64 ids -> narrow zone maps
    spark.createDataFrame(
        [(i, i % 7, chr(ord("a") + (i // 64) % 4)) for i in range(512)],
        "doc_id bigint, v int, grp string",
    ).orderBy("doc_id").coalesce(2).write.mode("overwrite").parquet(src)
    man = CodecManifest.auto_for(spark.read.parquet(src).schema, block_rows=32)
    encode_parquet_dataset(spark, src, out, manifest=man, layout=layout)
    pruned = decode_dataset(
        spark, out,
        zone_filter=[("doc_id", 100, 400), ("grp", "b", "b")],
    )
    n = pruned.count()
    assert 0 < n < 512  # both conjuncts prune whole blocks
    exact = pruned.filter("doc_id between 100 and 400 and grp = 'b'")
    want = [i for i in range(100, 401) if (i // 64) % 4 == 1]
    assert sorted(r.doc_id for r in exact.collect()) == want
    # every surviving block intersects BOTH predicates
    assert all(64 <= r.doc_id <= 447 for r in pruned.collect())


# -- vectorized IVF assignment (VERDICT r03 #2) --------------------------------


def test_ivf_assign_fast_matches_sql_spec(spark, sf_dir):
    """Element-exact pin of the numpy assignment twin against the
    _ivf_cell_expr SQL spec on the real float32 embeddings table — the
    fast_text.py pattern (SQL = oracle spec, numpy = runtime)."""
    from xml2arrow_spark.pipeline import similarity
    from xml2arrow_spark.pipeline.similarity import _ivf_cell_expr

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = similarity.ivf_train(emb, use_fast=False)
    sql_assign = (
        emb.selectExpr(
            "vec_id AS vid",
            similarity.G.ivf_quant_expr("embedding", "spark") + " AS qv",
        )
        .withColumn("cell", _ivf_cell_expr(cents))
        .select("vid", "qv", "cell")
    )
    fast_assign = similarity.ivf_assign_fast(emb, cents).withColumnRenamed(
        "vec_id", "vid"
    )
    assert fast_assign.exceptAll(sql_assign).count() == 0
    assert sql_assign.exceptAll(fast_assign).count() == 0


def test_ivf_clustered_store_partition_pruned_probe(spark, sf_dir, tmp_path):
    """VERDICT r03 #7: embeddings stored clustered by IVF cell; the probe
    scans ONLY the nprobe probed partitions (plan + file-count pin) and
    returns the same top-k as the unclustered probe."""
    from xml2arrow_spark.pipeline import similarity
    from xml2arrow_spark.pipeline import sqlgen as G

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = similarity.ivf_train(emb)
    store = str(tmp_path / "clustered")
    similarity.cluster_by_cell(emb, cents, store)
    qvec = emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    got = similarity.ivf_ann_topk_clustered(
        spark, store, cents, list(qvec), query_id=0, k=5
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # file-count pin: the probed relation reads only nprobe partitions
    import numpy as np

    qv = [
        int(x) for x in np.floor(
            (np.asarray(qvec, dtype=np.float32) * np.float32(G.IVF_SCALE))
            .astype(np.float64)
        )
    ]
    probe_cells = similarity._probe_cells_for(qv, cents, G.IVF_NPROBE)
    probed = spark.read.parquet(store).filter(F.col("cell").isin(probe_cells))
    # the store has more cell partitions than the probe touches...
    n_cells_on_disk = len([d for d in os.listdir(store) if d.startswith("cell=")])
    assert n_cells_on_disk > G.IVF_NPROBE
    # ...and the probe's scan carries the cell partition filter, so only
    # the nprobe partition directories are read
    plan2 = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan2
    assert "cell" in plan2.split("PartitionFilters")[1][:300]
    cells_read = {r.cell for r in probed.select("cell").distinct().collect()}
    assert cells_read <= set(probe_cells)
    # same answer as the unclustered probe
    want = [
        (r.vec_id, r.cosine)
        for r in similarity.ivf_ann_topk(emb, query_id=0, k=5).collect()
    ]
    assert [(r.vec_id, r.cosine) for r in got.collect()] == want


def test_ivf_assign_fast_tiebreak_and_train_parity(spark):
    """Ties go to the SMALLEST cell id in both paths, and fast-path
    training reproduces the SQL-path codebook bit-for-bit (float64
    embeddings branch)."""
    from xml2arrow_spark.pipeline import similarity

    # vec 8 sits exactly between centroids seeded by vecs 0 and 1
    rows = [
        (0, [0.0, 0.0]),
        (1, [2.0, 0.0]),
        (2, [0.1, 0.1]),
        (3, [1.9, -0.1]),
        (4, [0.2, -0.2]),
        (5, [2.2, 0.2]),
        (6, [-0.3, 0.1]),
        (7, [1.7, 0.3]),
        (8, [1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    c_sql = similarity.ivf_train(emb, n_cells=2, iters=2, use_fast=False)
    c_fast = similarity.ivf_train(emb, n_cells=2, iters=2, use_fast=True)
    assert c_sql == c_fast
    fast = {
        r.vec_id: r.cell
        for r in similarity.ivf_assign_fast(emb, c_sql).collect()
    }
    sql = {
        r.vec_id: r.cell
        for r in emb.selectExpr(
            "vec_id", similarity.G.ivf_quant_expr("embedding", "spark") + " AS qv"
        )
        .withColumn("cell", similarity._ivf_cell_expr(c_sql))
        .collect()
    }
    assert fast == sql
