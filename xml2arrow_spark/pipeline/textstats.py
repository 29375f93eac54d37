"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

All single narrow projections — no shuffle, fully inside whole-stage codegen
(built-in string/array functions only; no Python in the hot path). Outputs
are integers or single-float-op values so the DuckDB oracles match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from xml2arrow_spark.operators.partitioning import widen_scan
from xml2arrow_spark.pipeline import sqlgen as G

__all__ = ["STOPWORDS", "lang_id", "text_quality", "token_counts", "doc_fingerprint", "paragraph_dedup", "repeated_ngrams", "quality_filter", "tfidf_topk", "pack_sequences", "chunk_sequences", "normalize_text", "pii_scrub"]

SPARK = "spark"

# tiny per-language stopword lists for the n-gram-free heuristic language ID;
# order fixed (tie-break = first language in this list with the max hits)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "les", "et", "des", "une", "est", "dans"],
    "es": ["el", "los", "las", "por", "con", "para", "una"],
}

# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation marks
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

FINGERPRINT_MOD = 2147483647  # 2^31 - 1; keeps the rolling hash overflow-free


def _dwords(text_col: str) -> str:
    return G.adistinct(G.split_ws(text_col, SPARK), SPARK)


def _hits(dwords: str, words: list[str]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return G.asize(G.aintersect(dwords, f"array({lits})", SPARK), SPARK)


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language scores + argmax prediction.

    Returns (doc_id, hits_<lang>..., predicted_lang). Deterministic
    tie-break: first language in STOPWORDS order wins.
    """
    out = widen_scan(docs).withColumn("_dw", F.expr(_dwords(text_col)))
    langs = list(STOPWORDS)
    for lang in langs:
        out = out.withColumn(f"hits_{lang}", F.expr(_hits("_dw", STOPWORDS[lang])))
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit("und")
    # wrap from last to first so the FIRST language's WHEN is outermost → wins ties
    for lang in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)).otherwise(pred)
    return out.select(id_col, *[f"hits_{lang}" for lang in langs], pred.alias("predicted_lang"))


def text_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Integer quality components: word/char/punct counts, distinct-word
    count, max word length, plus an exact-division words-per-char density."""
    words = G.split_ws(text_col, SPARK)
    out = widen_scan(docs).select(
        id_col,
        F.expr(G.asize(words, SPARK)).alias("n_words"),
        F.expr(G.asize(G.adistinct(words, SPARK), SPARK)).alias("n_distinct_words"),
        F.length(text_col).alias("n_chars"),
        F.expr(
            G.asize(f"regexp_extract_all({text_col}, '[^A-Za-z0-9 ]', 0)", SPARK)
        ).alias("n_punct"),
        F.expr(
            "array_max(" + G.transform(words, "w", "length(w)", SPARK) + ")"
        ).alias("max_word_len"),
    )
    return out.withColumn(
        "distinct_ratio",
        F.col("n_distinct_words").cast("double") / F.col("n_words").cast("double"),
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex pre-token count."""
    return widen_scan(docs).select(
        id_col,
        F.expr(G.asize(G.split_ws(text_col, SPARK), SPARK)).alias("ws_tokens"),
        F.expr(
            G.asize(f"regexp_extract_all({text_col}, '{BPE_PATTERN}', 0)", SPARK)
        ).alias("bpe_tokens"),
    )


# PII redaction patterns — deliberately lookaround-free so the SAME string
# is a valid, equivalent regex under Java (Spark) and RE2 (DuckDB): the
# oracle reproduces the redaction byte-for-byte. Order matters and is part
# of the contract: emails first (their local parts contain dots/digits
# that the other patterns could nibble), then IPv4, then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


# text normalization: C0/C1-ish control chars stripped outright (tab /
# newline / CR / form-feed are WHITESPACE, handled by the collapse);
# hex-escape classes are valid and identical under Java (Spark) and RE2
# (DuckDB). \x00 is deliberately not planted by the gate (embedded NUL in
# varchar literals is engine-dependent), but the class would strip it.
CONTROL_CLASS = r"[\x01-\x08\x0B\x0E-\x1F\x7F]"
WS_RUN = r"[ \t\n\r\x0C]+"


def normalize_text(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Text normalization — the C4-style cleanup pass run before any
    other text curation: strip control characters, collapse whitespace
    runs (space/tab/newline/CR/FF) to single spaces, trim the ends. All
    JVM-side built-ins (two regexp_replace in whole-stage codegen), one
    narrow projection, no shuffle; the cleaned string is returned
    directly so the oracle pins the bytes. Returns
    (id_col, clean, n_control, clean_len)."""
    stripped = F.regexp_replace(F.col(text_col), CONTROL_CLASS, "")
    clean = F.trim(F.regexp_replace(stripped, WS_RUN, " "))
    return widen_scan(docs).select(
        id_col,
        clean.alias("clean"),
        (F.length(text_col) - F.length(stripped)).cast("int").alias("n_control"),
        F.length(clean).cast("int").alias("clean_len"),
    )


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4 addresses / phone numbers to typed tokens and
    count each category (on the ORIGINAL text) — the privacy pass every
    production training-data pipeline runs before a corpus ships.

    All JVM-side built-ins (regexp_replace / regexp_extract_all inside
    whole-stage codegen), one narrow projection, no shuffle — the filter/
    transform shape that scales to the full corpus. Returns
    (id_col, scrubbed, n_email, n_ipv4, n_phone).
    """
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
            ).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return widen_scan(docs).select(id_col, scrubbed.alias("scrubbed"), *counts)


def doc_fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling-hash fingerprint of the word-token stream:
    fold acc = (acc*31 + token) % (2^31-1). Detects reordered-content docs
    that set-based Jaccard misses. (r06 note: a mapInArrow kernel twin was
    measured SLOWER than this codegen'd fold — 0.95 s vs 0.45 s at
    sf1.0/local[32] — because shipping the text across the Python boundary
    costs more than the fold itself; the SQL shape stays.)"""
    toks = G.word_tokens_arr(text_col, SPARK)
    fold = G.afold(toks, f"(acc * 31 + x) % {FINGERPRINT_MOD}", SPARK)
    return widen_scan(docs).select(id_col, F.expr(fold).alias("fingerprint"))


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_words: int = 8,
    max_df: int = 2,
    max_frequent_paras: int = 2_000_000,
) -> DataFrame:
    """CCNet-style paragraph-level dedup: drop globally-frequent paragraphs
    from every document, keep the rest in original order.

    The corpus has no layout markers, so a "paragraph" is a run of
    ``para_words`` consecutive whitespace words (the same derived-structure
    trick as the PII gate); a paragraph appearing in more than ``max_df``
    distinct documents is boilerplate and is dropped everywhere.

    Runtime path (r06): a vectorized two-pass mapInArrow kernel (the
    token_span_dedup discipline; the SQL join shape below remains the
    oracle spec and the fallback). Paragraphs are byte-SLICES of the
    original text buffer (:func:`xml2arrow_spark.pipeline.fast_text
    .paragraph_views` — split/join on ' ' round-trips exactly, so no
    string is ever rebuilt); pass 1 ships only per-batch distinct
    (paragraph, partial-df) pairs — the exploded paragraph relation,
    its count_distinct shuffle, the anti-join and the collect_list
    regroup never exist as Spark rows (measured 1.65 s -> ~0.6 s at
    sf1.0/local[32], after the widen_scan fix had already taken the SQL
    shape from 6.2 s). The frequent set (df > max_df) is tiny by
    construction — each survivor represents > max_df corpus rows — and
    broadcasts to pass 2, which drops covered paragraphs and folds the
    kept text in-kernel, one output row per doc. A frequent set beyond
    ``max_frequent_paras`` (degenerate boilerplate corpus) falls back to
    the SQL join shape instead of growing the driver.

    Returns (id_col, n_paras, n_kept, clean_len, clean_fp) — null-free
    scalars; clean_fp is the rolling-hash fingerprint of the CLEANED text
    (doc_fingerprint's fold), so the oracle pins the reassembled bytes
    without shipping them.
    """
    import numpy as np
    import pyarrow as pa

    pw = int(para_words)
    spark = docs.sparkSession
    narrow = widen_scan(docs.select(id_col, text_col))

    def p1(batches):
        import pyarrow.compute as pc

        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import paragraph_views

        task_setup()
        for b in batches:
            texts = b.column(1)
            if texts.null_count:
                keep = pc.is_valid(texts)
                texts = texts.filter(keep)
            if len(texts) == 0:
                continue
            paras, rows, _wpp, _words = paragraph_views(texts, pw)
            d = paras.dictionary_encode()
            codes = np.asarray(d.indices).astype(np.int64)
            key = np.unique((rows << 32) | codes)
            uc, counts = np.unique(key & 0xFFFFFFFF, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [
                    d.dictionary.take(pa.array(uc, type=pa.int64())),
                    pa.array(counts.astype(np.int64)),
                ],
                names=["para", "pdf"],
            )

    parts = narrow.mapInArrow(p1, "para string, pdf bigint")
    freq_rows = (
        parts.groupBy("para")
        .agg(F.sum("pdf").alias("df"))
        .filter(F.col("df") > int(max_df))
        .select("para")
        .limit(int(max_frequent_paras) + 1)
        .collect()
    )
    if len(freq_rows) > max_frequent_paras:
        return _paragraph_dedup_sql(docs, text_col, id_col, pw, max_df)
    bfreq = spark.sparkContext.broadcast([r[0] for r in freq_rows])
    id_type = docs.schema[id_col].dataType.simpleString()
    ddl = (
        f"{id_col} {id_type}, n_paras bigint, n_kept bigint, "
        f"clean_len int, clean_fp bigint"
    )

    def p2(batches):
        import pyarrow.compute as pc

        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import (
            fold31_segments,
            paragraph_views,
            word_tokens_batch,
        )

        task_setup()
        freq_set = pa.array(bfreq.value, type=pa.string())
        for b in batches:
            ids, texts = b.column(0), b.column(1)
            if texts.null_count:
                keep = pc.is_valid(texts)
                ids, texts = ids.filter(keep), texts.filter(keep)
            n = len(texts)
            if n == 0:
                continue
            paras, rows, wpp, words = paragraph_views(texts, pw)
            if len(freq_set):
                kept_p = ~np.asarray(
                    pc.is_in(paras, value_set=freq_set)
                )
            else:
                kept_p = np.ones(len(paras), dtype=bool)
            n_paras = np.bincount(rows, minlength=n).astype(np.int64)
            n_kept = np.bincount(rows[kept_p], minlength=n).astype(np.int64)
            pchars = np.asarray(pc.utf8_length(paras)).astype(np.int64)
            clen = np.zeros(n, dtype=np.int64)
            if kept_p.any():
                np.add.at(clen, rows[kept_p], pchars[kept_p])
            clen += np.maximum(n_kept - 1, 0)  # the ' ' separators
            toks, _t_offs = word_tokens_batch(words)
            kept_w = np.repeat(kept_p, wpp)
            rows_of_word = np.repeat(rows, wpp)
            kt = toks[kept_w]
            kw_rows = rows_of_word[kept_w]
            k_lens = np.bincount(kw_rows, minlength=n)
            k_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(k_lens, out=k_off[1:])
            fp = fold31_segments(kt, k_off, FINGERPRINT_MOD)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_paras),
                    pa.array(n_kept),
                    pa.array(clen.astype(np.int32)),
                    pa.array(fp, type=pa.int64()),
                ],
                names=[id_col, "n_paras", "n_kept", "clean_len", "clean_fp"],
            )

    return narrow.mapInArrow(p2, ddl)


def _paragraph_dedup_sql(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    pw: int,
    max_df: int,
) -> DataFrame:
    """The pure-SQL join shape of :func:`paragraph_dedup` — the oracle
    spec, and the fallback when the frequent set is too large to
    broadcast. Segmentation is a narrow per-row array transform; the
    document-frequency table is one hash aggregation on the paragraph
    text; removal is a left-anti join against only the FREQUENT
    paragraphs; reassembly is one groupBy on the doc id."""
    words = F.split(F.col(text_col), " ")
    n_seg = F.floor((F.size(words) + F.lit(pw - 1)) / pw).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * pw + F.lit(1), F.lit(pw)), " "),
    )
    paras = widen_scan(docs).select(id_col, F.posexplode(segs).alias("seg", "para"))
    frequent = (
        paras.groupBy("para")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") > max_df)
        .select("para")
    )
    kept = paras.join(frequent, "para", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "para"))),
                lambda s: s["para"],
            ),
            " ",
        ).alias("clean_text"),
    )
    tot = paras.groupBy(id_col).agg(F.count("*").alias("n_paras"))
    fold = G.afold(
        G.word_tokens_arr("clean_text", SPARK),
        f"(acc * 31 + x) % {FINGERPRINT_MOD}",
        SPARK,
    )
    return (
        tot.join(agg, id_col, "left")
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
        .select(
            id_col,
            "n_paras",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.length("clean_text").cast("int").alias("clean_len"),
            F.expr(fold).alias("clean_fp"),
        )
    )


def chunk_sequences(
    tokens_df: DataFrame,
    max_len: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Context-length chunking — the complement of :func:`pack_sequences`:
    every document LONGER than the model context is split into
    ``max_len``-token training chunks whose starts step by ``stride``
    (overlap = max_len − stride carries context across boundaries; the
    default stride = max_len is non-overlapping). Chunk count is the
    exact integer ``1 + ceil(max(0, n − max_len) / stride)`` (0 for empty
    docs), so the final chunk always reaches the last token and no chunk
    is fully contained in its predecessor.

    Scale shape: a pure per-row explode + projection — no shuffle, no
    join; each chunk row carries only scalars (start/len and the shared
    base-31 fold of the chunk's tokens), so the token payload never
    crosses a stage boundary. Runtime path (r06): one vectorized
    mapInArrow kernel (:func:`xml2arrow_spark.pipeline.fast_text
    .chunk_segments`, exact twin of the SQL explode+slice+fold spec —
    the stride-32 fold re-read each token ~1.5x through a Catalyst
    ``aggregate`` lambda, measured 6.3 s -> ~0.4 s at sf1.0/local[32]).
    The loader slices the real chunk from the decoded table by
    (doc_id, chunk_start, chunk_len). Reference analog: the counter
    un-nesting of nested levels (index builders,
    /root/reference/src/xml_parser.rs:393, 472-489) — one row fans out to
    counted children; here the children are context windows of the token
    array.

    Returns (id_col, chunk_id, chunk_start, chunk_len, chunk_fp).
    """
    import numpy as np
    import pyarrow as pa

    L = int(max_len)
    st = int(stride) if stride is not None else L
    if L < 1 or st < 1 or st > L:
        raise ValueError("need 1 <= stride <= max_len")
    narrow = widen_scan(tokens_df.select(id_col, tokens_col))
    id_type = tokens_df.schema[id_col].dataType.simpleString()
    # chunk_start stays BIGINT: the SQL spec's `div` arithmetic typed the
    # exploded starts long, and the declared-query schema is pinned
    ddl = (
        f"{id_col} {id_type}, chunk_id int, chunk_start bigint, "
        f"chunk_len int, chunk_fp bigint"
    )

    def fn(batches):
        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import (
            chunk_segments,
            list_column_views,
            null_rows_emptied,
        )

        task_setup()
        for b in batches:
            vals, offs, valid = list_column_views(b.column(1))
            if not valid.all():
                vals, offs = null_rows_emptied(vals, offs, valid)
            rid, cid, cst, cln, cfp = chunk_segments(vals, offs, L, st)
            ids_out = b.column(0).take(pa.array(rid, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    ids_out,
                    pa.array(cid.astype(np.int32)),
                    pa.array(cst, type=pa.int64()),
                    pa.array(cln.astype(np.int32)),
                    pa.array(cfp, type=pa.int64()),
                ],
                names=[id_col, "chunk_id", "chunk_start", "chunk_len",
                       "chunk_fp"],
            )

    return narrow.mapInArrow(fn, ddl)


def repeated_ngrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Internal-repetition signal: word-trigram total vs distinct counts.

    A document whose trigram SET is much smaller than its trigram COUNT is
    looped/boilerplate text — the within-document repetition filter real
    training-data pipelines apply before corpus-level dedup. Returns
    (doc_id, total_ngrams, distinct_ngrams, repeat_ratio); repeat_ratio =
    (total - distinct) / total is a single IEEE divide of exact ints, so
    the DuckDB oracle matches bit-for-bit. One narrow projection, no
    shuffle.
    """
    out = widen_scan(docs).withColumn("_toks", F.expr(G.word_tokens_arr(text_col, SPARK)))
    out = out.withColumn("_sh", F.expr(G.shingles_expr("_toks", SPARK)))
    total = F.expr(G.asize("_sh", SPARK))
    distinct = F.expr(G.asize(G.adistinct("_sh", SPARK), SPARK))
    out = out.withColumn("total_ngrams", total).withColumn("distinct_ngrams", distinct)
    ratio = F.when(
        F.col("total_ngrams") > 0,
        (F.col("total_ngrams") - F.col("distinct_ngrams")).cast("double")
        / F.col("total_ngrams").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col, "total_ngrams", "distinct_ngrams", ratio.alias("repeat_ratio")
    )


def quality_filter(
    docs: DataFrame,
    min_words: int = 30,
    max_word_len: int = 40,
    min_distinct_ratio: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite keep-filter over the quality metrics (the C4-style gate):
    minimum length, no pathological tokens, enough lexical diversity.
    Returns the SURVIVING docs with their metrics — predicates are integer
    comparisons plus one exact-double threshold, identical in the oracle.
    """
    q = text_quality(docs, text_col=text_col, id_col=id_col)
    return q.filter(
        (F.col("n_words") >= min_words)
        & (F.col("max_word_len") <= max_word_len)
        & (F.col("distinct_ratio") >= F.lit(float(min_distinct_ratio)))
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected_n: int | None = None,
) -> DataFrame:
    """Per-document top-k salient tokens by an INTEGER tf-idf surrogate:
    ``score_milli = (tf * N * 1000) div df`` — monotone in tf/df exactly
    like tf·(N/df), but every value is exact integer arithmetic, so the
    DuckDB oracle reproduces the ranking bit-for-bit (a float ``ln`` idf
    differs in the last ulp across libms and could flip ties).

    Plan shape at corpus scale: one explode -> (doc, token) count
    aggregation (tf), one narrow (token) aggregation over the DISTINCT
    (doc, token) rows (df — no second scan of the text), a broadcast-sized
    df table joined back on token, and a per-doc window for top-k. The
    corpus size ``N`` is driver state (pass ``expected_n`` to skip the
    count action). Ties break (score desc, token asc) — deterministic.

    Returns (doc_id, rank, token, score_milli).
    """
    from pyspark.sql import Window

    import numpy as np
    import pyarrow as pa

    n = expected_n if expected_n is not None else docs.count()
    # r06: the tf relation is computed ENTIRELY in-kernel — a document is
    # one row, so per-(doc, token) counts never need the explode + groupBy
    # shuffle of every token occurrence the SQL shape paid (the oracle's
    # explode/count spec is unchanged; token values come from the
    # element-exact word_tokens_batch twin). One sort per batch groups
    # (row, token) runs; run lengths are the tf counts.
    narrow = widen_scan(docs.select(id_col, text_col))
    id_type = docs.schema[id_col].dataType.simpleString()

    def tf_fn(batches):
        import pyarrow.compute as pc

        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.pipeline.fast_text import word_tokens_batch

        task_setup()
        for b in batches:
            ids, texts = b.column(0), b.column(1)
            if isinstance(texts, pa.ChunkedArray):
                texts = texts.combine_chunks()
            if texts.null_count:
                # SQL: explode of a null token array emits no rows
                keep = pc.is_valid(texts)
                ids, texts = ids.filter(keep), texts.filter(keep)
            if len(texts) == 0:
                continue
            words = pc.split_pattern(texts.cast(pa.large_string()), " ")
            words = words.cast(pa.list_(pa.string()))
            toks, offs = word_tokens_batch(words)
            lens = np.diff(offs)
            rows = np.repeat(np.arange(lens.size), lens)
            # tokens are word_token values in [0, VOCAB) — pack (row, tok)
            # into one int64 key, one sort, run lengths = tf
            key = rows * np.int64(G.VOCAB) + toks
            key.sort()
            keep = np.concatenate(([True], key[1:] != key[:-1]))
            uk = key[keep]
            tf_counts = np.diff(np.concatenate((np.flatnonzero(keep), [key.size])))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(uk // G.VOCAB, type=pa.int64())),
                    pa.array(uk % G.VOCAB, type=pa.int64()),
                    pa.array(tf_counts.astype(np.int64)),
                ],
                names=[id_col, "token", "tf"],
            )

    tf = narrow.mapInArrow(tf_fn, f"{id_col} {id_type}, token bigint, tf bigint")
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(df, "token").withColumn(
        # positive operands: truncating div == floor div in both engines
        "score_milli",
        F.expr(f"(tf * {int(n)} * 1000) div df"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_milli"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "score_milli")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    partition_col: str = "source",
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in
    deterministic (``partition_col``, ``id_col``) order and chunked into
    fixed ``budget_tokens`` context windows; each document's global token
    offset and first/last bin fall out of ONE running sum — the layout a
    pretraining loader needs to slice packed batches without padding.

    Packing stays WITHIN ``partition_col`` partitions (each source packs
    independently), so the window never globally sorts the corpus — the
    same no-global-sort stance as :func:`~xml2arrow_spark.pipeline.dedup.
    neighbor_jaccard`. Documents may straddle bin boundaries (that's the
    concat-then-chunk contract; a doc longer than the budget spans
    multiple bins).

    Returns (doc_id, partition_col, tok_offset, bin_start, bin_end) with
    ``tok_offset`` = tokens before this doc within its source stream,
    ``bin_start``/``bin_end`` = first/last window index the doc touches
    (empty docs occupy their start bin only).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = docs.withColumn(
        "_cum", F.sum(F.col(n_tok_col).cast("bigint")).over(w)
    ).withColumn("tok_offset", F.col("_cum") - F.col(n_tok_col))
    return out.select(
        id_col,
        partition_col,
        "tok_offset",
        F.expr(f"tok_offset div {int(budget_tokens)}").alias("bin_start"),
        # last token index is cum-1; empty docs keep their start bin
        F.expr(
            f"greatest(tok_offset, _cum - 1) div {int(budget_tokens)}"
        ).alias("bin_end"),
    )
