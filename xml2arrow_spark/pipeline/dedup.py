"""Deduplication operators: exact, MinHash+LSH, SimHash, sorted-neighborhood
n-gram Jaccard.

Scale stance (100 TB):

- **exact_dedup** is a single hash aggregation on ``md5(text)`` — map-side
  partial agg + one shuffle on the digest; never shuffles the text payload
  twice.
- **MinHash+LSH** computes per-doc signatures in one narrow pass (whole-stage
  codegen, no shuffle), then *explodes only B band keys per doc* and
  self-joins on (band, key) — the classic shingle→minhash→band→bucket-join.
  Candidate verification (exact Jaccard) runs only inside buckets, with an
  integer cross-multiplication filter (``inter * 1000 >= thr * union``) so no
  float enters the gate.
- **SimHash** is one narrow projection; near-dup grouping is a hash agg on
  the 32-bit value.
- **sorted-neighborhood** windows within ``source`` partitions (no global
  sort) — the cheap O(n log n) pass used before pairwise verification.

All expressions are rendered from :mod:`xml2arrow_spark.pipeline.sqlgen`
templates shared with the DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from xml2arrow_spark.operators.partitioning import widen_scan
from xml2arrow_spark.pipeline import sqlgen as G

__all__ = [
    "exact_dedup",
    "token_span_dedup",
    "with_minhash",
    "minhash_signatures",
    "minhash_signatures_fast",
    "minhash_signatures_parquet",
    "band_union",
    "write_signatures",
    "read_signatures",
    "stored_band_union",
    "next_batch_id",
    "lsh_near_dup_pairs",
    "lsh_near_dup_pairs_incremental",
    "contamination_hits",
    "decontaminate",
    "resolve_near_dups",
    "with_simhash",
    "simhash_ids_fast",
    "simhash_groups",
    "neighbor_jaccard",
]

SPARK = "spark"

# Two-phase signature store layout under ``sig_path``:
#   <sig_path>/sigs/                 (id, payload..., band cols, batch_id)
#   <sig_path>/bands/band_pos=<b>/   (sid, band_key, batch_id)
# The bands table is the band union PRE-MATERIALIZED and PARTITIONED BY
# band_pos, so each band branch of a probe is a partition-pruned scan of
# 1/n_bands of the rows instead of a full-table re-read (VERDICT r03 #4) —
# pinned by tests/test_round4_ops.py. ``batch_id`` is the increment epoch:
# monotone per append, it defines the deterministic LATEST-WINS rule when
# the same id is ever re-ingested with different content (ADVICE r03).
SIGS_SUBDIR = "sigs"
BANDS_SUBDIR = "bands"


def _check_store_layout(sig_path: str) -> None:
    """Refuse a PRE-partitioned-store signature table loudly: the old
    layout was flat part-*.parquet at ``sig_path`` itself; silently
    creating sigs/+bands/ next to it would drop the whole historical
    corpus from candidate generation (the loud-refusal discipline of
    checkpoint.py::_check_placement)."""
    try:
        flat = [
            f for f in os.listdir(sig_path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(sig_path, f))
        ]
    except FileNotFoundError:
        return
    if flat and not os.path.isdir(os.path.join(sig_path, SIGS_SUBDIR)):
        from xml2arrow_spark.errors import ManifestError

        raise ManifestError(
            f"signature table at {sig_path!r} uses the legacy flat layout "
            f"({len(flat)} parquet file(s) at the root); this engine "
            f"stores sigs/ + bands/ subdirectories — re-run "
            f"lsh_near_dup_pairs(sig_path=...) over the full corpus to "
            f"rebuild it (resuming would silently ignore the history)"
        )
    # second store revision: the shared within-epoch tiebreak column. A
    # pre-row_hash partitioned store would crash (or silently null-order)
    # the latest-wins windows — refuse it just as loudly.
    sdir = os.path.join(sig_path, SIGS_SUBDIR)
    try:
        first = next(
            f for f in sorted(os.listdir(sdir)) if f.endswith(".parquet")
        )
    except (FileNotFoundError, StopIteration):
        return
    import pyarrow.parquet as pq

    if "row_hash" not in pq.read_schema(os.path.join(sdir, first)).names:
        from xml2arrow_spark.errors import ManifestError

        raise ManifestError(
            f"signature table at {sig_path!r} predates the row_hash "
            f"tiebreak column; mixed-schema appends would break the "
            f"latest-wins windows — rebuild it with "
            f"lsh_near_dup_pairs(sig_path=...) over the full corpus"
        )


def next_batch_id(sig_path: str) -> int:
    """Next increment epoch: 1 + max(batch_id) over the stored sigs table,
    read DRIVER-SIDE from parquet row-group statistics (footers only — no
    Spark job, no data pages; the repo-wide KB-scale-metadata ground rule)."""
    import pyarrow.parquet as pq

    _check_store_layout(sig_path)
    sdir = os.path.join(sig_path, SIGS_SUBDIR)
    try:
        files = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
    except FileNotFoundError:
        return 0
    best = -1
    for f in files:
        pf = pq.ParquetFile(os.path.join(sdir, f))
        need_full_read = False
        for rg in range(pf.metadata.num_row_groups):
            g = pf.metadata.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema != "batch_id":
                    continue
                st = col.statistics
                if st is not None and st.has_min_max:
                    best = max(best, int(st.max))
                else:
                    need_full_read = True
                break
        if need_full_read:  # stats missing: ONE column read for the file
            import pyarrow.compute as pc

            mx = pq.read_table(
                os.path.join(sdir, f), columns=["batch_id"]
            ).column("batch_id")
            if len(mx):
                best = max(best, int(pc.max(mx).as_py()))
    return best + 1


def _dtoks_nonempty_local():
    """Local (pyarrow) twin of the ``F.size("dtoks") > 0`` band filter:
    NULL dtoks yield a null mask entry, which and_kleene drops — the same
    rows Spark's NULL-size semantics drop."""
    import pyarrow.compute as pc

    return (
        ["dtoks"],
        lambda t: pc.greater(pc.list_value_length(t.column("dtoks")), 0),
    )


def _write_bands_local(
    sig_path: str,
    id_col: str,
    band_cols: list[str],
    batch_id: int,
    mode: str,
    band_row_filter_local,
) -> bool:
    """Driver-side twin of the bands-table derivation (r06): the Spark
    path launches a full job (re-read the written sigs, 4-way union,
    partitioned write — ~0.4-0.6 s of fixed machinery at local[32]) to
    move KB-to-MB of metadata. For a small local sigs table (the caller
    checks the size) this builds the identical band rows with
    pyarrow and writes them straight into the hive layout
    (``bands/band_pos=<b>/``), byte-compatible with the Spark files: same
    column set/types/nullability (sid, band_key int64 NOT NULL via the
    same null→-1 coalesce, batch_id int32, row_hash int64) so mixed
    Spark/pyarrow batches read as one table. Returns False (caller runs
    the unchanged Spark derivation) when the filtered batch is empty (the
    Spark path's empty-write behaviour is then preserved exactly)."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    need, mask_fn = band_row_filter_local or ([], None)
    cols = [id_col, *band_cols, "batch_id", "row_hash", *need]
    t = pads.dataset(os.path.join(sig_path, SIGS_SUBDIR)).to_table(
        columns=list(dict.fromkeys(cols))
    )
    keep = pc.equal(t.column("batch_id"), pa.scalar(int(batch_id), pa.int32()))
    if mask_fn is not None:
        keep = pc.and_kleene(keep, mask_fn(t))
    t = t.filter(keep)
    if t.num_rows == 0:
        return False
    if any(t.schema.field(c).type != pa.int64() for c in band_cols):
        # Spark's coalesce(col, lit(-1)) writes the PROMOTED type for
        # non-bigint keys; only the bigint case is replicated here
        return False
    bdir = os.path.join(sig_path, BANDS_SUBDIR)
    if mode == "overwrite":
        shutil.rmtree(bdir, ignore_errors=True)
    sid_t = t.schema.field(id_col).type
    schema = pa.schema(
        [
            pa.field("sid", sid_t),
            pa.field("band_key", pa.int64(), nullable=False),
            pa.field("batch_id", pa.int32()),
            pa.field("row_hash", pa.int64()),
        ]
    )
    # every band_pos file is written as a hidden dotfile first (readers skip
    # them) and all are renamed in one final loop: a crash mid-write never
    # exposes a torn parquet file, nor a partial bands batch that would
    # generate candidates from only some of its bands
    staged = []
    for b, col in enumerate(band_cols):
        part = pa.table(
            {
                "sid": t.column(id_col),
                "band_key": pc.fill_null(
                    t.column(col).cast(pa.int64()), pa.scalar(-1, pa.int64())
                ),
                "batch_id": t.column("batch_id"),
                "row_hash": t.column("row_hash"),
            },
            schema=schema,
        )
        pdir = os.path.join(bdir, f"band_pos={b}")
        os.makedirs(pdir, exist_ok=True)
        name = f"part-local-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(pdir, "." + name + ".tmp")
        pq.write_table(part, tmp)
        staged.append((tmp, os.path.join(pdir, name)))
    for tmp, final in staged:
        os.rename(tmp, final)
    return True


def _store_dir_bytes(path: str) -> int:
    """On-disk bytes under a local directory (driver-side ``os.walk``, no
    job). 0 when ``path`` is not a local directory — e.g. an ``hdfs://``,
    ``s3a://`` or ``file://`` URI — so every local valve fails closed:
    callers go local only on a probe of more than 0 bytes."""
    if not os.path.isdir(path):
        return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def write_signatures(
    sig_df: DataFrame,
    sig_path: str,
    id_col: str,
    band_cols: list[str],
    batch_id: int,
    mode: str = "overwrite",
    band_row_filter=None,
    band_row_filter_local=None,
    local_threshold_bytes: int = 64 << 20,
) -> None:
    """Phase-1 write of the two-phase signature store: the full signature
    rows land in ``sigs/``; the exploded (sid, band_key) rows — derived
    from the WRITTEN parquet, so the signature expressions never recompute
    — land in ``bands/`` partitioned by band_pos. ``band_row_filter``
    drops rows that can never produce candidates (e.g. shingle-less docs)
    from the bands table only; their signature rows are kept.

    Crash-window contract (append mode): sigs are written BEFORE bands,
    and :func:`next_batch_id` derives from sigs — so a crash between the
    two writes can never cause a batch id to be REUSED (which could mix
    two attempts' band keys for a revised doc under the within-epoch
    tiebreak). The orphaned sigs-only batch is inert (its rows produce no
    candidates) until the caller re-runs the failed increment, which
    appends a complete fresh epoch and latest-wins supersedes the orphan
    — the standard at-least-once recovery."""
    spark = sig_df.sparkSession
    if mode == "append":
        _check_store_layout(sig_path)
    # row_hash: one content-derived key shared by BOTH tables, so the
    # within-epoch latest-wins tiebreak picks the SAME version's signature
    # row and band keys (independent per-table tiebreaks could stitch a
    # chimera: band0 from version A, band1 from version B)
    sig_df.withColumn("batch_id", F.lit(int(batch_id))).withColumn(
        "row_hash", F.xxhash64(*band_cols)
    ).write.mode(mode).parquet(os.path.join(sig_path, SIGS_SUBDIR))
    # r06 small-batch fast path: derive the bands rows driver-side from the
    # written sigs files (no Spark job) when the caller supplied a local
    # twin of (or no) band_row_filter and the sigs table is a local dir of
    # 1..threshold bytes — identical rows and file layout, falls through to
    # the Spark derivation otherwise (a URI sig_path probes 0 bytes)
    if (
        local_threshold_bytes
        and (band_row_filter is None or band_row_filter_local is not None)
        and 0 < _store_dir_bytes(os.path.join(sig_path, SIGS_SUBDIR))
        <= local_threshold_bytes
        and _write_bands_local(
            sig_path, id_col, band_cols, batch_id, mode,
            band_row_filter_local if band_row_filter is not None else None,
        )
    ):
        return
    stored = spark.read.parquet(os.path.join(sig_path, SIGS_SUBDIR)).filter(
        F.col("batch_id") == int(batch_id)
    )
    if band_row_filter is not None:
        stored = stored.filter(band_row_filter)
    bands = None
    for b, col in enumerate(band_cols):
        part = stored.select(
            F.col(id_col).alias("sid"),
            F.coalesce(F.col(col), F.lit(-1)).alias("band_key"),
            F.col("batch_id"),
            F.col("row_hash"),
            F.lit(b).alias("band_pos"),
        )
        bands = part if bands is None else bands.unionAll(part)
    bands.write.mode(mode).partitionBy("band_pos").parquet(
        os.path.join(sig_path, BANDS_SUBDIR)
    )


def _latest_wins(df: DataFrame, id_cols: list[str], tiebreaks: list) -> DataFrame:
    """Deterministic winner per id across increment epochs: max batch_id
    wins (latest content); within one epoch (an at-least-once replay, or a
    batch that pathologically carries one id twice) the ``tiebreaks`` —
    led by the shared content-derived ``row_hash`` both store tables carry
    — make the pick deterministic AND consistent between the sigs and
    bands tables (ADVICE r03 on re-ingested ids)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*id_cols).orderBy(F.desc("batch_id"), *tiebreaks)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_signatures(
    spark: SparkSession, sig_path: str, id_col: str, dedupe: bool = False
) -> DataFrame:
    """Stored signature rows. ``dedupe=True`` applies the latest-wins rule
    (needed after appends; a fresh single-batch table is unique by
    construction and skips the window shuffle)."""
    _check_store_layout(sig_path)
    sigs = spark.read.parquet(os.path.join(sig_path, SIGS_SUBDIR))
    if dedupe:
        others = [
            c for c in sigs.columns
            if c not in (id_col, "batch_id", "row_hash")
        ]
        sigs = _latest_wins(
            sigs, [id_col], [F.col("row_hash"), F.xxhash64(*others)]
        )
    return sigs.drop("batch_id", "row_hash")


def _cap_cells(out: DataFrame, max_cell: int | None) -> DataFrame:
    """Hot-cell skew valve + telemetry: drop band cells with more than
    ``max_cell`` members (narrow count-agg + left-semi). The DROPPED side
    is surfaced, not silent: the returned frame carries a lazy
    ``_drop_metrics`` one-row DataFrame (n_cells_dropped, n_rows_dropped)
    callers collect after consuming the pairs (VERDICT r03 #5 — no silent
    caps; jobs/prep_job.py logs it)."""
    if max_cell is None:
        out._drop_metrics = None
        return out
    cells = out.groupBy("band_pos", "band_key").agg(F.count("*").alias("_cell_n"))
    small = cells.filter(F.col("_cell_n") <= max_cell)
    capped = out.join(small, ["band_pos", "band_key"], "left_semi")
    capped._drop_metrics = (
        cells.filter(F.col("_cell_n") > max_cell).agg(
            F.count("*").alias("n_cells_dropped"),
            F.coalesce(F.sum("_cell_n"), F.lit(0)).alias("n_rows_dropped"),
        )
    )
    return capped


def stored_band_union(
    spark: SparkSession,
    sig_path: str,
    n_bands: int,
    id_alias: str = "doc",
    dedupe: bool = False,
    max_cell: int | None = None,
) -> DataFrame:
    """The band-union relation read from the PARTITIONED bands table: each
    branch filters one band_pos value, which parquet partition pruning
    turns into a scan of only that partition's files (plan-pinned in
    tests/test_round4_ops.py) — a probe touches 1/n_bands of the band rows
    per branch instead of re-reading the whole signature table."""
    _check_store_layout(sig_path)
    out = None
    for b in range(n_bands):
        branch = (
            spark.read.parquet(os.path.join(sig_path, BANDS_SUBDIR))
            .filter(F.col("band_pos") == b)  # partition-pruned scan
        )
        if dedupe:
            branch = _latest_wins(
                branch, ["sid"], [F.col("row_hash"), F.col("band_key")]
            )
        branch = branch.select(
            F.col("sid").alias(id_alias),
            F.col("band_pos").cast("int").alias("band_pos"),
            "band_key",
        )
        out = branch if out is None else out.unionAll(branch)
    return _cap_cells(out, max_cell)


def _dtoks(text_col: str) -> str:
    """Distinct word-token array (bigint) for a text column."""
    return G.adistinct(G.word_tokens_arr(text_col, SPARK), SPARK)


def _with_dshingles(docs: DataFrame, text_col: str) -> DataFrame:
    """Add ``dtoks`` = distinct word-trigram shingle hashes — the MinHash
    feature set.

    Shingles (not unigrams): on a small shared vocabulary every document's
    unigram SET converges to the whole vocab and all-pairs look like dups;
    trigrams keep word order so only true near-duplicates collide.

    The token array is materialized as an intermediate column first:
    ``shingles_expr`` indexes it 3× per output element, and inlining the
    tokenizer expression there would re-tokenize the doc per shingle —
    O(len²) per row (measured ~10× slowdown at 500 docs)."""
    out = widen_scan(docs).withColumn(
        "_toks", F.expr(G.word_tokens_arr(text_col, SPARK))
    )
    return out.withColumn(
        "dtoks", F.expr(G.adistinct(G.shingles_expr("_toks", SPARK), SPARK))
    ).drop("_toks")


def band_union(
    src: DataFrame,
    id_col: str,
    band_cols: list[str],
    id_alias: str = "doc",
    max_cell: int | None = None,
) -> DataFrame:
    """One (id, band_pos, band_key) row per band via a UNION of projections
    — the shared candidate-generation relation for every banded-LSH
    operator. Deliberate shape (all measured, see lsh_near_dup_pairs):
    NOT posexplode (InferFiltersFromGenerate inlines the signature tree
    into the scans), band_key coalesced non-nullable (isnotnull inference
    has the same effect), and NO payload column (it would ride the union
    on both self-join sides — re-join it once per side after pair dedup).
    ``max_cell`` drops degenerate cells (> max_cell members) via a narrow
    count-agg + left-semi join — the hot-cell skew valve; the dropped
    counts surface on the result's ``_drop_metrics`` handle."""
    out = None
    for b, col in enumerate(band_cols):
        part = src.select(
            F.col(id_col).alias(id_alias),
            F.lit(b).alias("band_pos"),
            F.coalesce(F.col(col), F.lit(-1)).alias("band_key"),
        )
        out = part if out is None else out.unionAll(part)
    return _cap_cells(out, max_cell)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: digest, surviving (minimum) id, copy count."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


def token_span_dedup(
    tokens_df: DataFrame,
    span: int = 8,
    max_df: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    keys_path: str | None = None,
    max_frequent_keys: int = 8_000_000,
) -> DataFrame:
    """Exact SUB-SEQUENCE dedup over the token table (the Lee-et-al-style
    substring pass, at the boilerplate-removal threshold): every ``span``-
    token window whose key appears in more than ``max_df`` distinct
    documents is dropped from every document; uncovered tokens keep their
    order. Operates on the engine's core payload — the cleaned table feeds
    straight into the codec encode.

    Window keys are a packed double polynomial hash
    (:func:`sqlgen.span_keys_expr`) rather than the k-token arrays
    themselves, so the frequency aggregation shuffles 8 bytes per window,
    not k tokens; both engines compute the identical key, so oracle parity
    never depends on collision-freedom (~2^-62 per pair).

    Runtime path (r06): a vectorized two-pass mapInArrow kernel
    (:mod:`xml2arrow_spark.pipeline.fast_text` — the minhash_batch
    discipline; the SQL template remains the oracle-checkable spec and the
    fallback). Pass 1 computes per-batch PARTIAL document frequencies of
    the window keys in numpy (each doc is one row, so partials sum
    exactly) and ships only (key, partial) pairs — the exploded window
    relation never exists as Spark rows, which removed a full
    posexplode + count_distinct shuffle of |windows| rows AND the
    ``keys_path`` materialization the two-branch SQL shape needed
    (measured 9.1 s -> 1.1 s at sf1.0/local[32]). The frequent-key set
    (df > max_df) is tiny by the boilerplate-sparsity argument — each
    survivor represents > max_df corpus rows — and broadcasts to pass 2,
    which computes coverage, the kept sequence and its fold entirely
    in-kernel, one output row per doc, no joins. If the frequent set ever
    exceeds ``max_frequent_keys`` (degenerate boilerplate corpus), the
    operator falls back to the pure-SQL join shape instead of growing the
    driver (``keys_path`` is honored there; the kernel path does not need
    it).

    Returns null-free per-doc scalars
    ``(id_col, n_tok, n_frequent_spans, n_kept, kept_fp)`` — ``kept_fp``
    is the shared base-31 rolling fold of the CLEANED token array, so the
    oracle pins the surviving sequence bit-for-bit without shipping it.
    """
    import numpy as np
    import pyarrow as pa

    from xml2arrow_spark.operators.partitioning import widen_scan as _widen

    k = int(span)
    if k < 1:
        raise ValueError("span must be >= 1")
    spark = tokens_df.sparkSession
    narrow = _widen(tokens_df.select(id_col, tokens_col))
    if keys_path:
        # two-phase materialization (the sig_path discipline), r06 form:
        # both kernel passes need the token relation, and when it is a
        # DERIVED projection (tokenize over the raw corpus) each pass
        # would recompute it — measured 1.28 s/pass at sf1.0 for the
        # tokenize+Arrow conversion alone vs ~0.45 s to write the narrow
        # relation once and scan it twice. (The SQL fallback materializes
        # the exploded WINDOW relation here instead — its two branches
        # consume windows, not tokens.)
        narrow.write.mode("overwrite").parquet(keys_path)
        narrow = _widen(spark.read.parquet(keys_path))

    def p1(batches):
        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import (
            list_column_views,
            null_rows_emptied,
            span_partial_counts,
        )

        task_setup()
        for b in batches:
            vals, offs, valid = list_column_views(b.column(1))
            if not valid.all():
                vals, offs = null_rows_emptied(vals, offs, valid)
            uk, counts = span_partial_counts(vals, offs, k)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uk, type=pa.int64()),
                 pa.array(counts, type=pa.int64())],
                names=["skey", "pdf"],
            )

    parts = narrow.mapInArrow(p1, "skey bigint, pdf bigint")
    freq_rows = (
        parts.groupBy("skey")
        .agg(F.sum("pdf").alias("df"))
        .filter(F.col("df") > int(max_df))
        .select("skey")
        .limit(int(max_frequent_keys) + 1)
        .collect()
    )
    if len(freq_rows) > max_frequent_keys:
        return _token_span_dedup_sql(
            tokens_df, k, max_df, id_col, tokens_col, keys_path
        )
    freq = np.sort(np.asarray([r[0] for r in freq_rows], dtype=np.int64))
    bfreq = spark.sparkContext.broadcast(freq)
    id_type = tokens_df.schema[id_col].dataType.simpleString()
    ddl = (
        f"{id_col} {id_type}, n_tok int, n_frequent_spans int, "
        f"n_kept int, kept_fp bigint"
    )

    def p2(batches):
        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import (
            list_column_views,
            null_rows_emptied,
            span_clean_segments,
        )

        task_setup()
        fs = bfreq.value
        for b in batches:
            vals, offs, valid = list_column_views(b.column(1))
            all_valid = bool(valid.all())
            if not all_valid:
                vals, offs = null_rows_emptied(vals, offs, valid)
            nf, nk, fp = span_clean_segments(vals, offs, k, fs)
            lens = np.diff(offs)
            mask = None if all_valid else ~valid
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pa.array(lens.astype(np.int32), mask=mask),
                    pa.array(nf.astype(np.int32)),
                    pa.array(nk.astype(np.int32)),
                    pa.array(fp, type=pa.int64()),
                ],
                names=[id_col, "n_tok", "n_frequent_spans", "n_kept",
                       "kept_fp"],
            )

    return narrow.mapInArrow(p2, ddl)


def _token_span_dedup_sql(
    tokens_df: DataFrame,
    k: int,
    max_df: int,
    id_col: str,
    tokens_col: str,
    keys_path: str | None,
) -> DataFrame:
    """The pure-SQL join shape of :func:`token_span_dedup` — the oracle
    spec, and the fallback when the frequent-key set is too large to
    broadcast. ``keys_path`` materializes the window relation to parquet
    once (the two-phase ``sig_path`` discipline) so the frequency agg and
    the frequent-starts probe read it instead of each recomputing the
    O(n·k) key transform over the full payload."""
    from xml2arrow_spark.pipeline.textstats import FINGERPRINT_MOD

    keys = F.expr(G.span_keys_expr(tokens_col, k, SPARK))
    windows = tokens_df.select(id_col, F.posexplode(keys).alias("start0", "skey"))
    if keys_path:
        windows.write.mode("overwrite").parquet(keys_path)
        windows = tokens_df.sparkSession.read.parquet(keys_path)
    frequent = (
        windows.groupBy("skey")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") > int(max_df))
        .select("skey")
    )
    fstarts = (
        windows.join(frequent, "skey", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("start0")).alias("fstarts"))
    )
    base = tokens_df.join(fstarts, id_col, "left").withColumn(
        "fstarts", F.coalesce("fstarts", F.expr("CAST(array() AS array<int>)"))
    )
    kept = base.withColumn(
        "_kept", F.expr(G.span_kept_expr(tokens_col, "fstarts", k, SPARK))
    )
    fold = G.afold("_kept", f"(acc * 31 + x) % {FINGERPRINT_MOD}", SPARK)
    return kept.select(
        id_col,
        F.size(tokens_col).alias("n_tok"),
        F.size("fstarts").alias("n_frequent_spans"),
        F.size("_kept").alias("n_kept"),
        F.expr(fold).alias("kept_fp"),
    )


def with_minhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``dtoks`` (distinct word-trigram shingles), ``sig`` (MinHash
    signature, array<bigint> of K values) and ``band0..band{B-1}`` LSH band
    keys — the shingle→minhash→band stage, one narrow codegen'd pass."""
    out = _with_dshingles(docs, text_col)
    sig = "array(" + ", ".join(
        G.minhash_expr("dtoks", i, SPARK) for i in range(G.MINHASH_K)
    ) + ")"
    out = out.withColumn("sig", F.expr(sig))
    for b in range(G.MINHASH_BANDS):
        out = out.withColumn(f"band{b}", F.expr(G.band_expr("sig", b, SPARK)))
    return out


def minhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig, band0..band{B-1}) per document."""
    return with_minhash(docs, text_col).select(
        id_col, "sig", *[f"band{b}" for b in range(G.MINHASH_BANDS)]
    )


def _store_bytes(sig_path: str) -> int:
    """Total on-disk bytes of a signature store's two tables (driver-side
    os.walk — metadata-scale, no Spark job)."""
    return sum(
        _store_dir_bytes(os.path.join(sig_path, sub))
        for sub in (SIGS_SUBDIR, BANDS_SUBDIR)
    )


def _near_dup_pairs_store_local(
    spark,
    sig_path: str,
    id_col: str,
    threshold_milli: int,
    max_cell: int | None,
    max_local_pairs: int = 200_000,
):
    """Driver-local exact twin of phase 2 (band self-join + dedup + exact
    Jaccard verify) for SMALL signature stores (r06): read both store
    tables via pyarrow, generate candidate pairs per band cell in numpy,
    verify with sorted-array intersections. The distributed shape pays ~8
    partition-pruned scans + 3 exchanges of pure machinery at any input
    size (measured overhead-bound earlier this round); for a store that
    fits the driver comfortably that machinery IS the cost.

    Returns ``(pairs_df, drop_metrics_df_or_None)`` or ``None`` when the
    local path must not run: candidate count above ``max_local_pairs``
    (the verify loop is per-pair python) or duplicate ids in the sigs
    table (the SQL verify join would multiply such rows; only the
    distributed path reproduces that faithfully). Exactness elsewhere:
    cells/pairs/dedup/threshold math is integer, ``doc_a < doc_b`` uses
    numpy's sort order which equals Spark's binary UTF8 order on valid
    UTF-8 strings, dtoks are distinct+sorted by the phase-1 kernel
    contract, and ``max_cell`` drops exactly the cells the distributed
    ``_cap_cells`` drops (same telemetry counts)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as pads

    bands = pads.dataset(
        os.path.join(sig_path, BANDS_SUBDIR), partitioning="hive"
    ).to_table(columns=["sid", "band_key", "band_pos"])
    sid = bands.column("sid").to_numpy(zero_copy_only=False)
    key = bands.column("band_key").to_numpy(zero_copy_only=False).astype(np.int64)
    pos = bands.column("band_pos").to_numpy(zero_copy_only=False).astype(np.int64)
    uniq_sids, sidx = np.unique(sid, return_inverse=True)
    order = np.lexsort((sidx, key, pos))
    p, k, s = pos[order], key[order], sidx[order]
    if p.size:
        first = np.concatenate(([True], (p[1:] != p[:-1]) | (k[1:] != k[:-1])))
        cell_start = np.flatnonzero(first)
        cell_end = np.append(cell_start[1:], p.size)
    else:
        cell_start = cell_end = np.empty(0, np.int64)
    cell_len = cell_end - cell_start
    dropped_cells = dropped_rows = 0
    keep = cell_len >= 2
    if max_cell is not None:
        big = cell_len > int(max_cell)
        dropped_cells = int(big.sum())
        dropped_rows = int(cell_len[big].sum())
        keep &= ~big
    kl = cell_len[keep]
    if int((kl * (kl - 1) // 2).sum()) > max_local_pairs:
        return None  # candidate blow-up: the distributed path owns this
    parts_a, parts_b = [], []
    for st, en in zip(cell_start[keep], cell_end[keep]):
        cell = np.sort(s[st:en])
        i, j = np.triu_indices(cell.size, k=1)
        parts_a.append(cell[i])
        parts_b.append(cell[j])
    if parts_a:
        a = np.concatenate(parts_a)
        b = np.concatenate(parts_b)
        ne = a != b  # a.doc < b.doc is strict: duplicate-sid cells pair nothing
        pk = np.unique(a[ne] * np.int64(uniq_sids.size) + b[ne])
        a, b = pk // uniq_sids.size, pk % uniq_sids.size
    else:
        a = b = np.empty(0, np.int64)
    stab = pads.dataset(os.path.join(sig_path, SIGS_SUBDIR)).to_table(
        columns=[id_col, "dtoks"]
    )
    sdoc = stab.column(id_col).to_numpy(zero_copy_only=False)
    su = np.unique(sdoc)
    if su.size != sdoc.size:
        return None  # duplicate ids: only the SQL join shape is faithful
    row_of_sorted = np.argsort(sdoc, kind="stable")
    # dense band id -> sigs row index (every band sid exists in sigs:
    # bands are derived from the written sigs)
    row_of = row_of_sorted[np.searchsorted(sdoc[row_of_sorted], uniq_sids)]
    dt = stab.column("dtoks").combine_chunks()
    offs = dt.offsets.to_numpy()
    vals = dt.values.to_numpy(zero_copy_only=False)
    inter = np.empty(a.size, np.int64)
    sz_a = np.empty(a.size, np.int64)
    sz_b = np.empty(a.size, np.int64)
    for t in range(a.size):
        ra, rb = row_of[a[t]], row_of[b[t]]
        xa = vals[offs[ra]:offs[ra + 1]]
        xb = vals[offs[rb]:offs[rb + 1]]
        sz_a[t] = xa.size
        sz_b[t] = xb.size
        inter[t] = np.intersect1d(xa, xb, assume_unique=True).size
    union = sz_a + sz_b - inter
    ok = inter * 1000 >= int(threshold_milli) * union
    id_t = stab.schema.field(id_col).type
    out_tbl = pa.table(
        {
            "doc_a": pa.array(uniq_sids[a[ok]]).cast(id_t),
            "doc_b": pa.array(uniq_sids[b[ok]]).cast(id_t),
            "inter_size": pa.array(inter[ok], type=pa.int32()),
            "union_size": pa.array(union[ok], type=pa.int32()),
        }
    )
    metrics = None
    if max_cell is not None:
        metrics = spark.createDataFrame(
            pa.table(
                {
                    "n_cells_dropped": pa.array([dropped_cells], pa.int64()),
                    "n_rows_dropped": pa.array([dropped_rows], pa.int64()),
                }
            )
        )
    return spark.createDataFrame(out_tbl), metrics


def lsh_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_milli: int = 800,
    sig_path: str | None = None,
    max_cell: int | None = None,
    local_threshold_bytes: int = 64 << 20,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash + exact-Jaccard verification.

    Returns (doc_a, doc_b, inter_size, union_size) for pairs whose word-token
    Jaccard >= threshold_milli/1000, compared with integer cross
    multiplication (no float). doc_a < doc_b; each pair appears once even if
    it collides in several bands.

    ``max_cell`` is the hot-cell safety valve for cluster runs: a single
    degenerate band key (boilerplate, near-empty docs) turns its bucket's
    self-join into O(m²) candidate pairs inside ONE task — the classic
    skew-OOM at corpus scale. With ``max_cell=m``, cells larger than ``m``
    are dropped from candidate generation (one narrow count-agg + left-semi
    join on the band keys; the payload is not involved). This trades recall
    ONLY for pairs whose every shared band is degenerate — and a group of
    >m mutual near-duplicates is exactly what exact_dedup/simhash already
    catch cheaply. Default None = exact (the oracle-checkable shape).
    """
    # Materialize (doc, dtoks, bands) exactly once, UNFILTERED. Two measured
    # plan pathologies force this exact shape:
    # - An exchange barrier is not enough for reuse: the 4 band branches x 2
    #   join sides canonicalize to 8 distinct subtrees (ReusedExchange never
    #   fired; the formatted plan inlined the minhash tree 8x and re-scanned
    #   the parquet 16x). A persisted InMemoryRelation is canonicalized by
    #   identity, so every branch reads the single cached copy — the SURVEY
    #   §2.4 U4 pattern (one scan -> cache -> N selects).
    # - The no-shingle filter must sit ABOVE the cache: pushed into the
    #   projection tree, PushDownPredicates re-inlines the tokenizer into
    #   the filter condition (measured 10x on 5k docs). The cache is an
    #   optimizer barrier, and filtering cached rows is free.
    # Size: (doc, dtoks, bands) is ~100 bytes + shingle ids per doc; at
    # cluster scale pass ``sig_path`` — the two-phase signature-table write:
    # phase 1 materializes the signature relation to parquet ONCE, phase 2
    # reads it for every band branch and both join sides. No executor-storage
    # cache, no InMemoryRelation; the signature table is also the natural
    # checkpoint for incremental dedup runs.
    # phase-1 signatures via the vectorized kernel (r06): the SQL
    # with_minhash tree remains the oracle spec; the kernel is its
    # element-exact twin and computes sig+bands+dtoks in one numpy pass
    sig_cols = minhash_bands_dtoks_fast(docs, text_col, id_col, id_alias="doc")
    spark = docs.sparkSession
    if sig_path is not None:
        # batch 0 of the store; the bands table (partitioned by band_pos)
        # is derived from the WRITTEN sigs, so minhash computes once.
        # Shingle-less docs (< 3 words) can never near-dup — excluded from
        # the bands table at write time (their NULL keys never join in the
        # oracle either).
        write_signatures(
            sig_cols, sig_path, "doc",
            [f"band{b}" for b in range(G.MINHASH_BANDS)],
            batch_id=0, mode="overwrite",
            band_row_filter=F.size("dtoks") > 0,
            band_row_filter_local=_dtoks_nonempty_local(),
            local_threshold_bytes=local_threshold_bytes,
        )
        # small-store short-circuit (r06): phase 2 runs driver-locally when
        # the written store is a local dir of 1..threshold bytes (checked
        # via os.walk — no job; a URI sig_path probes 0 and stays in Spark);
        # the local twin declines (returns None) on candidate blow-up or
        # duplicate ids, falling through to the distributed shape below.
        # local_threshold_bytes=0 disables.
        if local_threshold_bytes and (
            0 < _store_bytes(sig_path) <= local_threshold_bytes
        ):
            loc = _near_dup_pairs_store_local(
                spark, sig_path, "doc", threshold_milli, max_cell
            )
            if loc is not None:
                out, metrics = loc
                out._sig_cache = None
                out._drop_metrics = metrics
                return out
        sigs = read_signatures(spark, sig_path, "doc").filter(
            F.size("dtoks") > 0
        )
        cache_handle = None
    else:
        sigs = sig_cols.persist()
        cache_handle = sigs
        # Docs with no shingles can never near-dup: drop them before
        # banding. The filter sits ABOVE the cache (see block comment).
        sigs = sigs.filter(F.size("dtoks") > 0)
    # One row per (doc, band) via UNION of projections — ID AND KEY ONLY.
    # The shingle payload (``dtoks``) does NOT ride the band union: with 4
    # bands × 2 join sides it would cross the exchange ~8× — the dominant
    # shuffle bytes at scale. Candidate id-pairs are generated and deduped
    # first; the payload is re-joined exactly once per side for
    # verification. Two further deliberate plan-shape choices, both
    # measured ~20× on 500 docs:
    # - NOT posexplode: InferFiltersFromGenerate would add `size(bands)>0`,
    #   push it into the parquet scan, and inline the whole minhash tree
    #   into that filter (1282 tokenizer copies in the plan).
    # - band_key wrapped non-nullable (coalesce with a literal): otherwise
    #   the join makes InferFiltersFromConstraints emit isnotnull(band_key)
    #   per branch, again pushing the inlined tree into the scans — and the
    #   per-branch filters also defeat ReusedExchange.
    if sig_path is not None:
        # each band branch is a partition-pruned scan of bands/band_pos=<b>
        exploded = stored_band_union(
            spark, sig_path, G.MINHASH_BANDS, id_alias="doc", max_cell=max_cell
        )
    else:
        exploded = band_union(
            sigs, "doc", [f"band{b}" for b in range(G.MINHASH_BANDS)],
            max_cell=max_cell,
        )
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_pos") == F.col("b.band_pos"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # payload re-join: once per pair side (candidates are a tiny fraction of
    # the corpus, so these joins move ~|pairs| shingle arrays, not 8× all)
    toks = sigs.select("doc", "dtoks")
    cand = (
        cand.join(toks.select(F.col("doc").alias("doc_a"), F.col("dtoks").alias("ta")), "doc_a")
        .join(toks.select(F.col("doc").alias("doc_b"), F.col("dtoks").alias("tb")), "doc_b")
    )
    inter = F.expr(G.asize(G.aintersect("ta", "tb", SPARK), SPARK))
    verified = cand.withColumn("inter_size", inter).withColumn(
        "union_size", F.expr("size(ta) + size(tb)") - F.col("inter_size")
    )
    out = verified.filter(
        F.col("inter_size") * 1000 >= threshold_milli * F.col("union_size")
    ).select("doc_a", "doc_b", "inter_size", "union_size")
    # expose the cache so callers can unpersist() after the consuming action
    # (a long-lived session otherwise accumulates cached relations), and the
    # max_cell drop telemetry (collect AFTER consuming the pairs)
    out._sig_cache = cache_handle
    out._drop_metrics = exploded._drop_metrics
    return out


def lsh_near_dup_pairs_incremental(
    new_docs: DataFrame,
    sig_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_milli: int = 800,
    max_cell: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: dedup a NEW batch of documents
    against an existing corpus via its persisted signature table.

    This is the production shape of continuous ingestion at corpus scale:
    the historical corpus is never re-tokenized or re-minhashed — its
    signature table (written by ``lsh_near_dup_pairs(sig_path=...)`` or a
    previous incremental call) is the accumulated state. Phase 1 computes
    signatures for the new batch only and APPENDS them to the table;
    phase 2 band-joins the new batch's rows against the WHOLE table, so
    candidate generation is O(|new| * bands) join probes, not O(|corpus|²).
    Old×old pairs were already reported by earlier runs and are NOT
    re-emitted: every returned pair has at least one side in ``new_docs``.

    Returns (doc_a, doc_b, inter_size, union_size), doc_a < doc_b — the
    same contract as :func:`lsh_near_dup_pairs`, restricted to pairs
    touching the new batch. The signature table on disk afterwards covers
    old + new, ready for the next increment.
    """
    spark = new_docs.sparkSession
    new_sigs = with_minhash(new_docs, text_col).select(
        F.col(id_col).alias("doc"), "dtoks",
        *[f"band{b}" for b in range(G.MINHASH_BANDS)],
    )
    # Append as the next increment epoch. The append is AT-LEAST-ONCE (a
    # crashed batch re-run appends again under a fresh batch_id); the
    # latest-wins read rule below restores exactly-once semantics AND gives
    # re-ingested ids with REVISED content a defined winner — max batch_id,
    # i.e. the latest version — instead of an arbitrary dropDuplicates pick
    # (ADVICE r03). Stale bands of an overwritten doc are likewise excluded
    # per branch, so candidates come only from the current content's keys.
    write_signatures(
        new_sigs, sig_path, "doc",
        [f"band{b}" for b in range(G.MINHASH_BANDS)],
        batch_id=next_batch_id(sig_path), mode="append",
        band_row_filter=F.size("dtoks") > 0,
        band_row_filter_local=_dtoks_nonempty_local(),
    )
    all_sigs = read_signatures(spark, sig_path, "doc", dedupe=True).filter(
        F.size("dtoks") > 0
    )
    new_ids = new_docs.select(F.col(id_col).alias("doc")).distinct()

    # partition-pruned probe: each band branch reads bands/band_pos=<b>
    all_bands = stored_band_union(
        spark, sig_path, G.MINHASH_BANDS, id_alias="doc",
        dedupe=True, max_cell=max_cell,
    )
    # probe side = new rows only (left-semi keeps the band relation narrow)
    new_bands = all_bands.join(new_ids, "doc", "left_semi")
    a, b = new_bands.alias("a"), all_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_pos") == F.col("b.band_pos"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    toks = all_sigs.select("doc", "dtoks")
    cand = (
        cand.join(toks.select(F.col("doc").alias("doc_a"), F.col("dtoks").alias("ta")), "doc_a")
        .join(toks.select(F.col("doc").alias("doc_b"), F.col("dtoks").alias("tb")), "doc_b")
    )
    inter = F.expr(G.asize(G.aintersect("ta", "tb", SPARK), SPARK))
    verified = cand.withColumn("inter_size", inter).withColumn(
        "union_size", F.expr("size(ta) + size(tb)") - F.col("inter_size")
    )
    out = verified.filter(
        F.col("inter_size") * 1000 >= threshold_milli * F.col("union_size")
    ).select("doc_a", "doc_b", "inter_size", "union_size")
    out._drop_metrics = all_bands._drop_metrics
    return out


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least
    ``min_overlap`` distinct word-trigram shingles with ANY document of an
    evaluation set — the standard leak check run before pretraining (eval
    prompts quoted inside crawled pages inflate benchmark scores).

    Plan shape: the eval set's distinct shingle UNION (eval sets are tiny
    relative to the corpus) builds one small relation; the corpus explodes
    its per-doc distinct shingles ONCE and joins — Catalyst broadcasts the
    eval side, so the check is one map-side hash probe per corpus shingle
    plus a per-doc count aggregation, never a corpus×eval cross product.
    Returns (doc_id, n_hits) for contaminated docs;
    :func:`decontaminate` keeps the complement.
    """
    eval_sh = (
        _with_dshingles(eval_docs, text_col)
        .select(F.explode("dtoks").alias("sh"))
        .distinct()
    )
    doc_sh = _with_dshingles(docs, text_col).select(
        F.col(id_col), F.explode("dtoks").alias("sh")
    )
    return (
        doc_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= int(min_overlap))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The keep-side of :func:`contamination_hits`: drop every training
    document that leaks eval shingles (left-anti on the id — the payload
    crosses no extra exchange)."""
    hits = contamination_hits(docs, eval_docs, min_overlap, text_col, id_col)
    return docs.join(hits.select(id_col), id_col, "left_anti")


def _resolve_components_local(edges: DataFrame) -> DataFrame:
    """Driver-local exact twin of the iterative min-label loop for SMALL
    edge sets (r06, input = the narrow (src, dst) pair projection,
    un-symmetrized): collect (src, dst) via Arrow, run
    vectorized min-label propagation + pointer jumping over dense node
    indices in numpy, return the (node, label) relation as a
    pyarrow-backed LocalTableScan (repo ground rule: KB-scale finishes
    never pay per-round Spark jobs — each distributed round costs two
    shuffle joins + a convergence collect, ~0.4-0.6 s of pure machinery
    at any input size).

    Exactness: ``np.unique`` sorts nodes ascending (int order for ints;
    for strings numpy's code-point order equals Spark's UTF8 binary order
    on valid UTF-8), so the minimum DENSE index in a component maps back
    to the minimum ORIGINAL id — the same fixpoint the distributed
    ``least``/``min`` rounds converge to."""
    import numpy as np
    import pyarrow as pa

    tbl = edges.toArrow()
    src = tbl.column("src").to_numpy(zero_copy_only=False)
    dst = tbl.column("dst").to_numpy(zero_copy_only=False)
    nodes = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    lab = np.arange(nodes.size, dtype=np.int64)
    while True:
        new = lab.copy()
        # one propagation round over the edges, both directions (the input
        # is the narrow pair projection — symmetrization is free here) ...
        np.minimum.at(new, di, lab[si])
        np.minimum.at(new, si, lab[di])
        # ... then pointer-jump to the full fixpoint of label(label)
        while True:
            j = new[new]
            if np.array_equal(j, new):
                break
            new = j
        if np.array_equal(new, lab):
            break
        lab = new
    node_t = tbl.schema.field("src").type
    out = pa.table(
        {
            "node": pa.array(nodes).cast(node_t),
            "label": pa.array(nodes[lab]).cast(node_t),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def resolve_near_dups(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Near-dup pairs -> connected components: (node, label) with label =
    minimum doc id in the component — the keep/drop resolution every real
    dedup pipeline runs after pair generation (keep ``label``, drop the
    rest).

    In the default (``checkpoint_dir=None``, single-JVM) mode, a
    symmetrized edge set of at most ``local_threshold`` rows short-circuits
    to :func:`_resolve_components_local` — identical labels without the
    per-round join/collect machinery (near-dup pair sets are tiny relative
    to their corpora; ~16 bytes/edge collected, so the default bounds the
    driver pull at ~16 MB). Set ``local_threshold=0`` to force the
    distributed loop; the reliable checkpointed mode never short-circuits
    (its crash/resume contract is per-round).

    Iterative min-label propagation over the symmetrized edge set — each
    round joins labels to edges and takes the per-node min of neighbor
    labels — PLUS a pointer-jumping step (label <- label(label)) that
    halves the remaining chain depth, so convergence is O(log diameter)
    rounds, not O(diameter): an 80-node path resolves in ~7 rounds (pinned
    in tests). Near-dup components are overwhelmingly tiny cliques anyway
    (2-3 rounds); the jump step is what makes adversarial chains safe at
    scale. Each round is two shuffle joins + one hash agg on the narrow
    (node, label) relation — the payload never moves. Convergence is
    detected by the monotone label sum: labels only ever decrease, so an
    unchanged sum is a fixpoint — one scalar agg per round, no row-diff
    join.

    Each round's labels must be pinned to a FLAT plan: iterative
    self-joins otherwise grow the logical plan exponentially (the Catalyst
    plan itself OOMs the driver long before the data does — measured at a
    12-node chain). Two pinning modes (VERDICT r04 #2):

    - ``checkpoint_dir=None`` (default): ``localCheckpoint()`` — fastest,
      but blocks live on executor LOCAL storage with lineage truncated, so
      losing one executor mid-iteration on a real cluster kills the job.
      The right mode for local[.] / single-JVM runs only.
    - ``checkpoint_dir=<path>``: the symmetrized edge set and each round's
      labels are materialized to parquet under the directory (reliable
      storage — HDFS/S3 on a cluster) with a driver-side ``STATE.json``
      marker committed AFTER each round's write. Executor loss just
      re-reads parquet, and a KILLED run resumes from the last completed
      round: call again with the same ``checkpoint_dir`` and it continues
      where the marker points instead of restarting from round 0 (pinned
      in tests/test_round5_ops.py). A CONVERGED marker never resumes: a
      completed run's directory is rebuilt from the new ``pairs`` input,
      so reusing a stable checkpoint dir across corpus versions cannot
      replay stale labels. Rounds older than the previous one are deleted
      as the loop advances, so storage is O(2 rounds). The marker is
      KB-scale metadata → json through the Hadoop FileSystem API
      (:mod:`xml2arrow_spark.fsutil`): driver-side, never a Spark write
      job, correct on any scheme including ``hdfs://``/``s3a://``.
    """
    from pyspark.sql.types import NumericType

    spark = pairs.sparkSession
    # convergence detection is TYPE-aware: numeric labels use the monotone
    # label sum (labels only decrease, so an unchanged sum is a fixpoint —
    # one scalar agg, zero extra cost); any other label type (string doc
    # ids!) uses an exact changed-row count against the previous round —
    # sum() on a string column is an ANSI cast error (r05 finding)
    numeric_ids = isinstance(pairs.schema[a_col].dataType, NumericType)
    state: dict | None = None
    if checkpoint_dir is not None:
        import json

        from xml2arrow_spark import fsutil

        # all bookkeeping goes through the Hadoop FileSystem API (fsutil):
        # driver-side and job-free like os.*, but correct when the
        # checkpoint dir is hdfs:// / s3a:// — the advertised cluster case
        fsutil.mkdirs(spark, checkpoint_dir)
        state_path = checkpoint_dir + "/STATE.json"
        # input fingerprint: an order-insensitive (count, hash-sum) of the
        # pair set, stored in the marker. A marker whose fingerprint does
        # not match THIS call's pairs never resumes — a stable checkpoint
        # dir reused across corpus versions must resolve the new input,
        # not replay the old run's labels (r05 review; this closes the
        # killed-run variant too, not just the converged one). Costs one
        # aggregation pass over ``pairs`` per call in checkpoint mode —
        # the price of not silently returning another corpus's labels.
        fprow = pairs.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(F.col(a_col), F.col(b_col)).cast("decimal(38,0)")
            ).alias("h"),
        ).collect()[0]
        input_fp = f"{fprow['n']}:{fprow['h']}"

        def _pin(df: DataFrame, name: str) -> DataFrame:
            path = checkpoint_dir + "/" + name
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        def _commit(round_no: int, label_sum, converged: bool) -> None:
            fsutil.write_text_atomic(
                spark,
                state_path,
                json.dumps(
                    {
                        "round": round_no,
                        "label_sum": label_sum,
                        "converged": converged,
                        "input_fp": input_fp,
                    }
                ),
            )  # marker commits the round (written AFTER the labels parquet)
            fsutil.delete(spark, checkpoint_dir + f"/labels_{round_no - 2}")

        if fsutil.exists(spark, state_path):
            state = json.loads(fsutil.read_text(spark, state_path))
            if state.get("input_fp") != input_fp:
                # different corpus through the same directory: rebuild —
                # NEVER resume another input's run, killed or finished
                fsutil.delete(spark, checkpoint_dir)
                fsutil.mkdirs(spark, checkpoint_dir)
                state = None
            elif state.get("converged"):
                # same input, completed run: the stored labels ARE the
                # answer — idempotent fast path, no recomputation
                return spark.read.parquet(
                    checkpoint_dir + f"/labels_{state['round']}"
                )
    else:

        def _pin(df: DataFrame, name: str) -> DataFrame:
            return df.localCheckpoint()

        def _commit(round_no: int, label_sum, converged: bool) -> None:
            pass

    if state is not None:
        # resume a killed run: the marker's round is fully written
        start_round = int(state["round"]) + 1
        prev_sum = (
            int(state["label_sum"])
            if state.get("label_sum") is not None
            else None
        )
        edges = spark.read.parquet(checkpoint_dir + "/edges")
        labels = spark.read.parquet(
            checkpoint_dir + f"/labels_{state['round']}"
        )
    else:
        start_round = 0
        if checkpoint_dir is None:
            # pin the NARROW pair projection once (r06): the symmetrizing
            # union below otherwise evaluates the full pair-generation
            # subtree twice (two plan branches, no shared exchange)
            base = pairs.select(
                F.col(a_col).alias("src"), F.col(b_col).alias("dst")
            ).localCheckpoint()
            # small-input short-circuit (r06): the count is one cheap job
            # on the already-pinned blocks; above the threshold the
            # distributed loop below runs exactly as before
            if local_threshold and 2 * base.count() <= local_threshold:
                return _resolve_components_local(base)
            edges = _pin(
                base.unionAll(
                    base.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                ),
                "edges",
            )
        else:
            edges = pairs.select(
                F.col(a_col).alias("src"), F.col(b_col).alias("dst")
            )
            edges = _pin(
                edges.unionAll(
                    pairs.select(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    )
                ),
                "edges",
            )
        labels = _pin(
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node")),
            "labels_-1",
        )
        prev_sum = (
            labels.agg(F.sum("label")).collect()[0][0] if numeric_ids else None
        )
    for _round in range(start_round, max_iters):
        nbr = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        propagated = labels.join(nbr, labels["node"] == nbr["dst"], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping: label <- min(label, label(label)) — halves the
        # remaining chain depth, giving O(log diameter) total rounds
        x, y = propagated.alias("x"), propagated.alias("y")
        new_labels = _pin(
            x.join(y, F.col("x.label") == F.col("y.node"), "left").select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("y.label"), F.col("x.label")),
                ).alias("label"),
            ),
            f"labels_{_round}",
        )  # flat plan every round (local or reliable, see docstring)
        if numeric_ids:
            new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            done = new_sum == prev_sum
            prev_sum = new_sum
        else:
            new_sum = None  # marker payload; the changed-count is exact
            done = (
                new_labels.join(
                    labels.select("node", F.col("label").alias("_prev")),
                    "node",
                )
                .filter(F.col("label") != F.col("_prev"))
                .limit(1)
                .count()
                == 0
            )
        _commit(_round, new_sum, done)
        labels = new_labels
        if done:
            break
    return labels


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add a 32-bit ``simhash`` (bigint) over the doc's word tokens.

    The token array is materialized as an intermediate column first:
    ``simhash_expr`` folds the array once per output bit, and inlining the
    tokenizer there would re-tokenize the doc 32x per row (same measured
    pitfall as :func:`_with_dshingles`)."""
    out = docs.withColumn("_toks", F.expr(G.word_tokens_arr(text_col, SPARK)))
    out = out.withColumn("_hs", F.expr(G.rehash_expr("_toks", SPARK)))
    return out.withColumn(
        "simhash", F.expr(G.simhash_from_hashes_expr("_hs", SPARK))
    ).drop("_toks", "_hs")


def simhash_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group docs by identical simhash: (simhash, keep_doc_id, n_docs).

    Uses the vectorized simhash (element-exact twin of the SQL spec, see
    tests/test_fast_text.py) — the 32-aggregate SQL tree costs ~6-10s of
    codegen per fresh plan."""
    return (
        simhash_ids_fast(docs, text_col, id_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


def neighbor_jaccard(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_col: str = "n_chars",
    partition_col: str = "source",
) -> DataFrame:
    """Sorted-neighborhood pass: word-token Jaccard between each doc and its
    successor in (partition_col, order_col, id) order. Windows stay inside
    ``partition_col`` partitions — no global sort at scale.

    Returns (doc_a, doc_b, inter_size, union_size).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(partition_col).orderBy(order_col, id_col)
    paired = (
        docs.withColumn("next_id", F.lead(id_col).over(w))
        .withColumn("next_text", F.lead(text_col).over(w))
        .filter(F.col("next_id").isNotNull())
    )
    paired = paired.withColumn("ta", F.expr(_dtoks(text_col))).withColumn(
        "tb", F.expr(_dtoks("next_text"))
    )
    inter = F.expr(G.asize(G.aintersect("ta", "tb", SPARK), SPARK))
    return (
        paired.withColumn("inter_size", inter)
        .withColumn(
            "union_size", F.expr("size(ta) + size(tb)") - F.col("inter_size")
        )
        .select(
            F.col(id_col).alias("doc_a"),
            F.col("next_id").alias("doc_b"),
            "inter_size",
            "union_size",
        )
    )


def minhash_signatures_fast(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vectorized twin of :func:`minhash_signatures` via ``mapInArrow`` +
    numpy (:mod:`xml2arrow_spark.pipeline.fast_text`) — same values
    element-exact (pinned by tests/test_fast_text.py), ~20-50x the
    throughput. This is the path a 10^9-document dedup run takes; the SQL
    version remains the oracle-checkable specification."""
    import pyarrow as pa

    from xml2arrow_spark.pipeline.fast_text import minhash_batch

    id_type = docs.schema[id_col].dataType.simpleString()
    bands = [f"band{b}" for b in range(G.MINHASH_BANDS)]
    ddl = f"{id_col} {id_type}, sig array<bigint>, " + ", ".join(
        f"{b} bigint" for b in bands
    )

    def fn(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        for b in batches:
            out = minhash_batch(b.column(b.schema.get_field_index(text_col)))
            arrays = [b.column(b.schema.get_field_index(id_col)), out["sig"]]
            arrays += [out[name] for name in bands]
            yield pa.RecordBatch.from_arrays(arrays, names=[id_col, "sig", *bands])

    return widen_scan(docs.select(id_col, text_col)).mapInArrow(fn, ddl)


def minhash_bands_dtoks_fast(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_alias: str = "doc",
) -> DataFrame:
    """Vectorized (id, dtoks, band0..band{B-1}) — the signature relation
    the banded pair generators materialize (phase 1 of the two-phase
    sig store). Same numpy kernel as :func:`minhash_signatures_fast`
    (element-exact twin of the SQL spec, tests/test_fast_text.py), plus
    the distinct-shingle set itself; dtoks comes out SORTED rather than
    in the SQL twin's first-occurrence order — every consumer is
    set-valued (sizes / intersect sizes), so element order is not part
    of any contract. Measured 2.0 s -> ~0.7 s for the q5 phase-1 write
    at sf1.0/local[32]."""
    import pyarrow as pa

    from xml2arrow_spark.pipeline.fast_text import minhash_batch

    id_type = docs.schema[id_col].dataType.simpleString()
    bands = [f"band{b}" for b in range(G.MINHASH_BANDS)]
    ddl = f"{id_alias} {id_type}, dtoks array<bigint>, " + ", ".join(
        f"{b} bigint" for b in bands
    )

    def fn(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        for b in batches:
            out = minhash_batch(b.column(1), with_dtoks=True)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), out["dtoks"], *[out[name] for name in bands]],
                names=[id_alias, "dtoks", *bands],
            )

    return widen_scan(docs.select(id_col, text_col)).mapInArrow(fn, ddl)


def minhash_signatures_parquet(
    spark, path: str, text_col: str = "text", id_col: str = "doc_id",
    n_tasks: int | None = None,
) -> DataFrame:
    """Fused file-split variant of :func:`minhash_signatures_fast`: workers
    read the parquet splits directly (no JVM row boundary on the text
    payload) and run the numpy kernels — the 10^9-document shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xml2arrow_spark.sources.files import parquet_file_infos, scan_map_arrow

    schema = pq.read_schema(parquet_file_infos(path)[0][0])
    id_type = {
        pa.int64(): "bigint", pa.int32(): "int",
        pa.string(): "string", pa.large_string(): "string",
    }[schema.field(id_col).type]
    bands = [f"band{b}" for b in range(G.MINHASH_BANDS)]
    ddl = f"{id_col} {id_type}, sig array<bigint>, " + ", ".join(
        f"{b} bigint" for b in bands
    )

    def fn(batch):
        from xml2arrow_spark.pipeline.fast_text import minhash_batch

        out = minhash_batch(batch.column(batch.schema.get_field_index(text_col)))
        arrays = [batch.column(batch.schema.get_field_index(id_col)), out["sig"]]
        arrays += [out[name] for name in bands]
        yield pa.RecordBatch.from_arrays(arrays, names=[id_col, "sig", *bands])

    return scan_map_arrow(
        spark, path, fn, ddl, columns=[id_col, text_col], n_tasks=n_tasks
    )


def simhash_ids_fast(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vectorized twin of ``with_simhash(...).select(id, simhash)`` —
    element-exact (tests/test_fast_text.py), without the ~6-10s codegen of
    the 32-aggregate SQL expression tree."""
    import pyarrow as pa

    from xml2arrow_spark.pipeline.fast_text import simhash_batch

    id_type = docs.schema[id_col].dataType.simpleString()

    def fn(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        for b in batches:
            sh = simhash_batch(b.column(b.schema.get_field_index(text_col)))
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index(id_col)), sh],
                names=[id_col, "simhash"],
            )

    return widen_scan(docs.select(id_col, text_col)).mapInArrow(
        fn, f"{id_col} {id_type}, simhash bigint"
    )
