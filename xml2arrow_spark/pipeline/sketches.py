"""Cardinality sketches: KMV (k-minimum-values) distinct-count estimation.

The stats surface a 10^12-row engine plans with: exact ``COUNT(DISTINCT)``
over a wide table is a full shuffle of every distinct value; the KMV sketch
(Bar-Yossef et al., "Counting Distinct Elements in a Data Stream", RANDOM
2002) shuffles only hash VALUES and keeps k of them per group — error
~1/sqrt(k) (k=256 → ~6%). Chosen over HyperLogLog (Spark's
``approx_count_distinct``) deliberately: KMV is pure integer arithmetic
over a portable hash (`sqlgen.kmv_hash_expr`), so DuckDB reproduces the
ESTIMATE bit-for-bit and the driver gate can pin it — an HLL estimate is
engine-private. Below k distinct values the sketch is exact by
construction.

Scale shape: one (group, hash) dedup shuffle + one k-bounded window per
group — both distributed, no ``collect_set`` (unbounded executor memory),
no driver-side state. Reference analog: the per-table row/byte bookkeeping
the reference finalizes per RecordBatch (/root/reference/src/
xml_parser.rs:491-511), widened to a planning statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from xml2arrow_spark.pipeline import sqlgen as G

__all__ = ["kmv_distinct", "kmv_token_vocab", "group_distinct_est",
           "group_distinct", "kmv_hash_np", "KMV_K"]

KMV_K = 256


def _kmv_agg(pairs: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """(group, h) pairs -> one row per group with ``n_distinct_est``.

    ``pairs`` must already be distinct per (group, h); h values are distinct
    within a group, so the row_number order is total and deterministic."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(k))
        .groupBy(*group_cols)
        .agg(F.count("*").alias("n_h"), F.max("h").alias("h_k"))
        .select(
            *group_cols,
            F.expr(G.kmv_estimate_expr("n_h", "h_k", k, "spark")).alias(
                "n_distinct_est"
            ),
        )
    )


def kmv_distinct(df: DataFrame, cols: list[str], k: int = KMV_K) -> DataFrame:
    """Distinct-count estimate per column, ALL columns in one pass.

    Returns one row per column: ``(column, n_distinct_est)``. Columns are
    stacked into (column, h) pairs before the dedup, so adding columns adds
    map-side work, not jobs. Nulls are excluded (the SQL COUNT(DISTINCT)
    convention). Integer-typed columns only — the portable hash is integer
    arithmetic; hash string columns through a fingerprint fold first."""
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.expr(G.kmv_hash_expr(c, "spark")).alias("h"),
                        )
                        for c in cols
                    ]
                )
            ).alias("p")
        )
        .select("p.column", "p.h")
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    return _kmv_agg(pairs, ["column"], k)


def kmv_token_vocab(tok: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-source vocabulary-size estimate over the token table: one row
    per source, ``n_vocab_est`` = KMV estimate of distinct token ids. The
    explode never leaves the map side — dedup happens on 8-byte
    (source, h) pairs, not token payloads."""
    pairs = (
        tok.select("source", F.explode("tokens").alias("t"))
        .select("source", F.expr(G.kmv_hash_expr("t", "spark")).alias("h"))
        .distinct()
    )
    return _kmv_agg(pairs, ["source"], k)


def kmv_hash_np(v):
    """Numpy twin of :func:`sqlgen.kmv_hash_expr` — bit-identical for every
    int64 input (pinned in tests/test_sketches_dataset.py): nonnegative
    residue mod M (numpy's floor ``%`` with a positive modulus EQUALS the
    SQL double-``%`` nonneg fold, including for negative inputs), then two
    quadratic rounds. Every intermediate stays < 2^63 (r < 2^31, so
    r*r < 2^62 and the additive terms add ~2^47)."""
    import numpy as np

    M = G.KMV_MOD
    A = G.KMV_MULT
    r = v.astype(np.int64) % M
    r = (r * r % M + r * A + 11) % M
    return (r * r % M + r * A) % M


def _kmv_merge(acc: list, hashes, k: int) -> list:
    """Merge sorted distinct hash lists, keep the k smallest distinct."""
    if not acc:
        return list(hashes[: int(k)])
    import heapq

    out = []
    last = None
    for h in heapq.merge(acc, hashes):
        if h != last:
            out.append(h)
            last = h
            if len(out) >= k:
                break
    return out


def group_distinct_est(
    spark,
    out_path: str,
    key: str,
    column: str,
    k: int = KMV_K,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
):
    """Per-group distinct-count ESTIMATE over a STORED dataset, computed on
    the codec streams — ``SELECT key, approx(COUNT(DISTINCT column))
    [WHERE ...] GROUP BY key`` with a gate-pinnable answer: the key's
    group codes ride :func:`~xml2arrow_spark.operators.blocks.group_codes`
    (dict/rle/pdict/dict_str — key values never materialize per row), the
    value column decodes once per block and hashes through
    the PORTABLE quadratic hash (:func:`kmv_hash_np` ==
    ``sqlgen.kmv_hash_expr`` bit-for-bit), and each block keeps only the k
    smallest distinct hashes PER GROUP — so a 10^12-row corpus ships
    (groups x k) 8-byte partials per file, never values. Error ~1/sqrt(k)
    (k=256 → ~6%); EXACT below k distinct values per group, and exact in
    the oracle's eyes always — DuckDB reproduces the estimate bit-for-bit,
    which an HLL (Spark's approx_count_distinct) cannot offer.

    Integer value columns only (the portable hash is integer arithmetic);
    NULL values never count (SQL COUNT(DISTINCT)); the NULL key is its own
    group; ``key`` may be a LIST of columns — a COMPOSITE key combined on
    the mixed-radix code stream (every NULL combination its own group).
    ``where`` takes count_where's range/IN-list conjunctions: zone-
    pruned blocks skip unread, provably-inside blocks hash unmasked, and
    straddling blocks mask first — there is no metadata claim (distinct
    hashes need the values), so interior just means "no mask".

    Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk`; the distributed
    roll-up is one KB-scale (key, hash) shuffle + per-key window, no
    collect_set. Returns ``(key, n_distinct_est bigint)``.
    """
    import numpy as np

    from xml2arrow_spark.operators.blocks import decode_column, group_codes
    from xml2arrow_spark.operators.dataset import (
        _CW_INT_TYPES,
        _column_type,
        _fold_blocks_file,
        _key_columns,
        _refuse_pending_tombstones,
        _resolve_conjuncts,
    )
    from xml2arrow_spark.manifest import read_sidecar
    from xml2arrow_spark.operators.encode import split_schema_ddl
    from xml2arrow_spark.sources.files import BlockWalk, local_frame

    if k < 1:
        raise ValueError(f"group_distinct_est needs k >= 1, got {k}")
    # block stats cannot see row-level soft deletes: counting tombstoned
    # rows would silently misreport (the same contract every metadata-
    # accelerated aggregate in operators/dataset.py enforces)
    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    val_type = _column_type(by_name, column)
    key_cols = _key_columns(key, by_name, "group_distinct_est")
    if val_type not in _CW_INT_TYPES:
        raise ValueError(
            f"group_distinct_est needs an integer value column, got "
            f"{column} {val_type}: the portable KMV hash is integer "
            f"arithmetic (fingerprint strings first)"
        )
    conj = (
        _resolve_conjuncts(by_name, where, "group_distinct_est")
        if where is not None
        else None
    )

    def _block_hashes(tally, pairs, mask):
        keys, codes = group_codes(pairs[:-1])
        arr = decode_column(*pairs[-1])
        valid = np.asarray(arr.is_valid()) if arr.null_count else None
        if mask is not None:
            valid = mask if valid is None else (valid & mask)
        if valid is not None:
            v = arr.fill_null(0).to_numpy()[valid]
            gcodes = codes[valid]
        else:
            v = arr.to_numpy()
            gcodes = codes
        if not v.size:
            return
        h = kmv_hash_np(v)
        # distinct (code, hash), sorted — then the first k per code
        pairs = np.unique(np.stack([gcodes, h], axis=1), axis=0)
        starts = np.searchsorted(pairs[:, 0], np.arange(len(keys)))
        ends = np.searchsorted(pairs[:, 0], np.arange(1, len(keys) + 1))
        for g, kv in enumerate(keys):
            lo, hi = int(starts[g]), int(ends[g])
            if lo == hi:
                continue
            hs = pairs[lo:min(hi, lo + int(k)), 1].tolist()
            tally[kv] = _kmv_merge(tally.get(kv, []), hs, k)

    def _file_hashes(fpath, pq_mod):
        """One file's {key_or_None: sorted <=k smallest distinct hashes}."""
        return _fold_blocks_file(
            fpath, pq_mod, key_cols + [column], conj, _block_hashes
        )[0]

    def _estimate(hashes: list) -> int:
        n_h = len(hashes)
        if n_h < k:
            return n_h
        return (int(k) - 1) * G.KMV_MOD // max(int(hashes[-1]), 1)

    key_ddl = ", ".join(by_name[kc] for kc in key_cols)
    walk = BlockWalk(out_path, local_bytes)
    if walk.local:
        total: dict = {}
        for fh in walk.partials(spark, _file_hashes):
            for kv, hs in fh.items():
                total[kv] = _kmv_merge(total.get(kv, []), hs, k)
        return local_frame(spark, f"{key_ddl}, n_distinct_est bigint", [
            (*kv, _estimate(hs)) for kv, hs in total.items()
        ])

    def _hash_rows(tally):
        return [
            (*kv, h) for kv, hh in tally.items() for h in hh
        ]

    pairs = walk.fan_out(
        spark, _file_hashes, _hash_rows, f"{key_ddl}, h bigint", n_tasks
    ).distinct()
    return _kmv_agg(pairs, key_cols, k)


def group_distinct(
    spark,
    out_path: str,
    key: str,
    column: str,
    n_tasks: int | None = None,
    local_bytes: int = 128 << 20,
    where=None,
    max_pairs: int = 8_000_000,
):
    """EXACT per-group ``COUNT(DISTINCT column)`` over a STORED dataset,
    computed on the codec streams — the exact twin of
    :func:`group_distinct_est`. Per block, the key's group codes ride
    :func:`~xml2arrow_spark.operators.blocks.group_codes`
    (dict/rle/pdict/dict_str — key values never materialize per row), the value
    column decodes once, and ONLY the block's distinct ``(group, value)``
    pairs survive (``np.unique`` — per-block dedup is the map-side
    combine). Exactness has an irreducible price the estimator does not
    pay: distinct pairs must MEET to dedup across blocks, so the
    distributed roll-up shuffles one row per per-file-distinct (key,
    value) pair — bounded by ``files x true_distinct``, not by corpus
    rows, and honest about it: ``max_pairs`` (default 8M) caps the
    per-file pair tally and REFUSES with a pointer at
    :func:`group_distinct_est` instead of silently OOMing a 10^12-row
    high-cardinality column. Use this for bounded-cardinality columns
    (vocab ids, categories, buckets); use the KMV estimate everywhere
    else.

    Integer AND string value columns (strings stay on the dict_str CODE
    stream — distinct (group, value-code) pairs first, the small distinct
    set maps through the dictionary after; the exact twin needs no
    portable hash, so the estimator's int-only restriction does not
    apply. Floats refuse: SQL DISTINCT treats NaNs as equal, IEEE does
    not). NULL values never count, and a group whose values are ALL
    NULL does not appear — both distinct operators group the non-null
    (key, value) pair stream, i.e. SQL's ``WHERE value IS NOT NULL``
    before the GROUP BY (the estimator's gate-pinned semantics); the
    NULL key is its own group, and ``key`` may be a LIST of columns (a
    COMPOSITE key on the mixed-radix code stream — 'distinct X per
    (source, day)'). ``where`` takes count_where's range /
    IN-list conjunctions or an ``any_of`` DNF: zone-pruned blocks skip
    unread, straddling blocks mask first. Scale-adaptive through
    :class:`~xml2arrow_spark.sources.files.BlockWalk`. Returns
    ``(key, n_distinct bigint)``.
    """
    import numpy as np

    from xml2arrow_spark.operators.blocks import decode_column, group_codes
    from xml2arrow_spark.operators.dataset import (
        _CW_INT_TYPES,
        _column_type,
        _fold_blocks_file,
        _key_columns,
        _refuse_pending_tombstones,
        _resolve_conjuncts,
    )
    from xml2arrow_spark.manifest import read_sidecar
    from xml2arrow_spark.operators.encode import split_schema_ddl
    from xml2arrow_spark.sources.files import BlockWalk, local_frame

    if max_pairs < 1:
        raise ValueError(f"group_distinct needs max_pairs >= 1, got {max_pairs}")
    _refuse_pending_tombstones(out_path)
    side = read_sidecar(out_path)
    by_name = split_schema_ddl(side["schema_ddl"])
    val_type = _column_type(by_name, column)
    key_cols = _key_columns(key, by_name, "group_distinct")
    val_is_str = val_type == "string"
    if not val_is_str and val_type not in _CW_INT_TYPES:
        raise ValueError(
            f"group_distinct needs an integer or string value column, got "
            f"{column} {val_type}: float DISTINCT is not portable (SQL "
            f"treats NaNs as equal, IEEE does not)"
        )
    conj = (
        _resolve_conjuncts(by_name, where, "group_distinct")
        if where is not None
        else None
    )

    def _cap_check(tally, which):
        if sum(len(s) for s in tally.values()) > max_pairs:
            raise ValueError(
                f"group_distinct exceeded max_pairs={max_pairs} distinct "
                f"(key, value) pairs in {which}: exact distinct "
                f"counting must materialize every distinct pair — for "
                f"high-cardinality columns use group_distinct_est (KMV, "
                f"bounded at k hashes per group) or raise max_pairs"
            )

    def _block_pairs(tally, pairs, mask):
        keys, codes = group_codes(pairs[:-1])
        val_pair = pairs[-1]
        if val_is_str:
            # string values stay on the CODE stream (dict_str never
            # materializes per-row strings): distinct (group, value-code)
            # pairs first, the (small) distinct set maps through the
            # value slots after; set semantics absorb a repeated value
            vals, vcodes = group_codes([val_pair])
            valid = vcodes != len(vals) - 1  # drop the NULL slot
            if mask is not None:
                valid &= np.asarray(mask, dtype=bool)
            v = vcodes[valid]
        else:
            arr = decode_column(*val_pair)
            valid = np.asarray(arr.is_valid()) if arr.null_count else None
            if mask is not None:
                valid = mask if valid is None else (valid & mask)
            if valid is not None:
                v = arr.fill_null(0).to_numpy()[valid]
            else:
                v = arr.to_numpy()
        gcodes = codes[valid] if valid is not None else codes
        if not v.size:
            return
        # distinct (group, value) pairs via lexsort + run-boundary keep:
        # np.unique(axis=0) sorts a VOID view (~3x slower, measured 1.8 s
        # of the 2.2 s block walk at sf1.0 before r06)
        g_a = gcodes.astype(np.int64)
        v_a = v.astype(np.int64)
        order = np.lexsort((v_a, g_a))
        g_s, v_s = g_a[order], v_a[order]
        keep = np.concatenate(
            ([True], (g_s[1:] != g_s[:-1]) | (v_s[1:] != v_s[:-1]))
        )
        pg, pv = g_s[keep], v_s[keep]
        starts = np.searchsorted(pg, np.arange(len(keys)))
        ends = np.searchsorted(pg, np.arange(1, len(keys) + 1))
        for g, kv in enumerate(keys):
            lo, hi = int(starts[g]), int(ends[g])
            if lo == hi:
                continue
            vv = pv[lo:hi].tolist()
            if val_is_str:
                vv = [vals[c][0] for c in vv]
            tally.setdefault(kv, set()).update(vv)
        _cap_check(tally, "one file's tally")

    def _file_pairs(fpath, pq_mod):
        """One file's {key_or_None: set of distinct values}."""
        return _fold_blocks_file(
            fpath, pq_mod, key_cols + [column], conj, _block_pairs
        )[0]

    key_ddl = ", ".join(by_name[kc] for kc in key_cols)
    walk = BlockWalk(out_path, local_bytes)
    if walk.local:
        total: dict = {}
        for fps in walk.partials(spark, _file_pairs):
            for kv, vs in fps.items():
                total.setdefault(kv, set()).update(vs)
            _cap_check(total, "the merged tally across files")
        return local_frame(spark, f"{key_ddl}, n_distinct bigint", [
            (*kv, len(vs)) for kv, vs in total.items()
        ])

    def _pair_rows(tally):
        return [(*kv, v) for kv, vv in tally.items() for v in vv]

    # per-file partials are already distinct; the global dedup is ONE
    # (key, value) shuffle bounded by files x true_distinct, then a
    # KB-scale grouped count
    pairs = walk.fan_out(
        spark, _file_pairs, _pair_rows,
        f"{key_ddl}, v " + ("string" if val_is_str else "bigint"), n_tasks,
    ).distinct()
    return pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
