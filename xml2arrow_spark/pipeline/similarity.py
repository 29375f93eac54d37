"""Similarity search over an embedding column (``array<float>``).

Two paths, mirroring what a 100 TB pipeline actually runs:

- **brute-force cosine top-k** (:func:`cosine_topk`) — the correctness
  baseline. The query vector is a one-row broadcast (Catalyst plans a
  BroadcastNestedLoopJoin; nothing big moves); each partition scores its rows
  with a sequential-fold dot product inside whole-stage codegen and only
  ``k`` candidates per partition survive the final ordering (TakeOrderedAndProject).
- **banded LSH ANN** (:func:`lsh_ann_topk`, :func:`embedding_near_dup`) —
  the scale path: LSH_BANDS independent band keys of ``rows`` hyperplane
  signs each (OR-construction, like the MinHash banding in
  :mod:`xml2arrow_spark.pipeline.dedup`). ``rows`` scales with the corpus
  size (:func:`xml2arrow_spark.pipeline.sqlgen.lsh_planes_for`) so a band
  cell holds ~LSH_TARGET_CELL vectors at ANY N — within-cell verification
  stays O(N·target) pairs, never O((N/const)²). At 1000 executors the band
  keys double as clustering/partition keys so a probe is a partition-pruned
  scan, not a full sweep.

Floats: every expression is a *sequential* fold (left-to-right IEEE adds) +
correctly-rounded sqrt/divide, which DuckDB reproduces bit-for-bit — so these
operators pass the driver's value-hash gate with no rounding fudge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from xml2arrow_spark.operators.partitioning import widen_scan
from xml2arrow_spark.pipeline import sqlgen as G

__all__ = [
    "with_lsh_bucket",
    "with_lsh_bands",
    "cosine_topk",
    "cosine_topk_batch",
    "lsh_ann_topk",
    "embedding_near_dup",
    "ivf_train",
    "ivf_assign_fast",
    "ivf_ann_topk",
    "cluster_by_cell",
    "ivf_ann_topk_clustered",
]

SPARK = "spark"


def _dim(emb_df: DataFrame, emb_col: str) -> int:
    row = emb_df.select(F.size(emb_col).alias("d")).first()
    return int(row["d"])


def with_lsh_bucket(emb_df: DataFrame, emb_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """Add ``bucket`` = sign-of-projection LSH cell id (0..255) — legacy
    single-table geometry; prefer :func:`with_lsh_bands` at scale."""
    dim = dim or _dim(emb_df, emb_col)
    return emb_df.withColumn("bucket", F.expr(G.lsh_bucket_expr(emb_col, dim, SPARK)))


def band_rows_for(emb_df: DataFrame, id_col: str, expected_n: int | None) -> int:
    """Hyperplanes per band, derived from the (expected) corpus size so cell
    occupancy stays ~LSH_TARGET_CELL at any N (SURVEY §2.7 scale stance).
    ``expected_n`` skips the count() action when the caller already knows N
    (e.g. from table stats / Iceberg snapshot metadata)."""
    n = expected_n if expected_n is not None else emb_df.select(id_col).count()
    return G.lsh_planes_for(n)


def with_lsh_bands(
    emb_df: DataFrame,
    emb_col: str = "embedding",
    dim: int | None = None,
    n_rows: int | None = None,
    n_bands: int = G.LSH_BANDS,
    id_col: str = "vec_id",
    expected_n: int | None = None,
) -> DataFrame:
    """Add ``bandkey0..bandkey{n_bands-1}`` — banded OR-construction LSH.

    One narrow codegen pass computes n_bands×n_rows integer hyperplane
    projections; each band key packs its ``n_rows`` sign bits. Two vectors
    are candidates iff they share ANY band key (recall grows with bands,
    precision with rows — the same trade the MinHash banding makes).
    """
    dim = dim or _dim(emb_df, emb_col)
    if n_rows is None:
        n_rows = band_rows_for(emb_df, id_col, expected_n)
    out = widen_scan(emb_df)
    for b in range(n_bands):
        out = out.withColumn(
            f"bandkey{b}", F.expr(G.lsh_band_key_expr(emb_col, dim, b, n_rows, SPARK))
        )
    return out


def cosine_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k of ``emb_df`` against the row ``query_id``.

    Returns (vec_id, cosine) for the k most similar vectors (excluding the
    query row itself), ties broken by vec_id for a deterministic result set.
    """
    q = emb_df.filter(F.col(id_col) == query_id).select(F.col(emb_col).alias("qv"))
    scored = (
        widen_scan(emb_df).filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.expr(G.cosine_expr(emb_col, "qv", SPARK)))
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc(id_col))
        .select(id_col, "cosine")
        .limit(k)
    )


def cosine_topk_batch(
    emb_df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one pass:
    the query set (tiny) broadcasts against the corpus, every (row, query)
    pair scores inside whole-stage codegen, and a per-query window keeps
    k — one corpus scan for |Q| queries instead of |Q| scans.

    Returns (query_id, vec_id, cosine), ties broken by vec_id. Scale
    shape: the scored relation is |corpus|×|Q| rows, shuffled once on
    query_id for the window; for large |Q| compose with the LSH/IVF
    candidate generators first so only candidates are scored (this
    operator is the exact verifier both of them already use per query).
    """
    from pyspark.sql import Window

    q = emb_df.filter(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("qv")
    )
    scored = (
        widen_scan(emb_df).crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.expr(G.cosine_expr(emb_col, "qv", SPARK)))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", id_col, "cosine")
    )


def lsh_ann_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_rows: int | None = None,
    expected_n: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine restricted to vectors sharing at
    least one LSH band key with the query (multi-probe OR-construction).

    Returns (vec_id, cosine). Candidates come from LSH_BANDS cells of
    ~LSH_TARGET_CELL vectors each, so the probe cost is bounded at any N;
    on a table clustered by band key each probe is partition-pruned.
    """
    dim = _dim(emb_df, emb_col)
    banded = with_lsh_bands(
        emb_df, emb_col, dim, n_rows=n_rows, id_col=id_col, expected_n=expected_n
    )
    keys = [f"bandkey{b}" for b in range(G.LSH_BANDS)]
    q = banded.filter(F.col(id_col) == query_id).select(
        F.col(emb_col).alias("qv"), *[F.col(kk).alias(f"q{kk}") for kk in keys]
    )
    match_any = None
    for kk in keys:
        cond = F.col(kk) == F.col(f"q{kk}")
        match_any = cond if match_any is None else (match_any | cond)
    cand = (
        banded.crossJoin(F.broadcast(q))
        .filter(match_any & (F.col(id_col) != query_id))
        .withColumn("cosine", F.expr(G.cosine_expr(emb_col, "qv", SPARK)))
    )
    return (
        cand.orderBy(F.desc("cosine"), F.asc(id_col))
        .select(id_col, "cosine")
        .limit(k)
    )


def _ivf_cell_expr(cents: list[list[int]]) -> "F.Column":
    """argmin over the centroid codebook: array_min of (sqdist, cell)
    structs — lexicographic struct ordering gives the deterministic
    (distance, cell-id) tie-break the oracle's row_number reproduces.

    This is the ORACLE SPEC, not the runtime path: the expression tree is
    O(n_cells × dim) literals in one projection — fine at the gate's 8×64,
    a Catalyst codegen blowup at production geometry (4096 cells × 1024
    dims). :func:`ivf_assign_fast` is the element-exact numpy twin that
    runs by default (pinned in tests/test_round4_ops.py, the
    fast_text.py pattern)."""
    entries = [
        F.struct(
            F.expr(G.ivf_sqdist_expr("qv", G.lit_arr(c, SPARK), SPARK)).alias("d"),
            F.lit(j).alias("c"),
        )
        for j, c in enumerate(cents)
    ]
    return F.array_min(F.array(*entries)).getField("c")


def ivf_assign_fast(
    emb_df: DataFrame,
    cents: list[list[int]],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    keep_embedding: bool = False,
) -> DataFrame:
    """Vectorized IVF cell assignment: ``mapInArrow`` + numpy argmin
    against the broadcast (closure-captured) codebook — the runtime twin
    of :func:`_ivf_cell_expr`, element-exact against the SQL spec:

    - quantization floor(x*IVF_SCALE) with the float32 multiply Spark's
      expression performs on a float column (then an exact widening to
      float64 for the floor);
    - integer squared-L2 via one int64 matmul per row chunk (exact — no
      float rounding; ||q||² + ||c||² − 2·q·C^T), row-chunked so peak
      memory is (chunk × n_cells) not (rows × n_cells × dim);
    - ties broken toward the SMALLEST cell id (strict-less update order),
      matching the (sqdist, cell) lexicographic min.

    Returns (``id_col``, qv array<bigint>, cell int [, ``emb_col``]).
    """
    import numpy as np
    import pyarrow as pa

    C = np.asarray(cents, dtype=np.int64)
    cn = (C * C).sum(axis=1)  # ||c||^2 per cell
    dim = C.shape[1]
    id_type = emb_df.schema[id_col].dataType.simpleString()
    emb_type = emb_df.schema[emb_col].dataType.simpleString()
    f32 = emb_type == "array<float>"
    ddl = f"{id_col} {id_type}, qv array<bigint>, cell int"
    out_cols = [id_col, "qv", "cell"]
    if keep_embedding:
        ddl += f", {emb_col} {emb_type}"
        out_cols.append(emb_col)
    CHUNK = 2048  # bounds the (chunk, n_cells) distance matrix

    def fn(batches):
        from xml2arrow_spark.env import task_setup

        task_setup()
        scale32 = np.float32(G.IVF_SCALE)
        for b in batches:
            emb = b.column(b.schema.get_field_index(emb_col))
            n = len(emb)
            vals = np.asarray(emb.flatten())
            if f32:
                # Spark computes x * 1000 IN float32 (float op int literal
                # promotes the literal); widening the product to float64
                # afterwards is exact, so the floor matches bit-for-bit
                prod = (vals.astype(np.float32) * scale32).astype(np.float64)
            else:
                prod = vals.astype(np.float64) * float(G.IVF_SCALE)
            qv = np.floor(prod).astype(np.int64).reshape(n, dim)
            cell = np.empty(n, dtype=np.int32)
            for s in range(0, n, CHUNK):
                qc = qv[s : s + CHUNK]
                qn = (qc * qc).sum(axis=1)
                # exact int64 distances; argmin returns the FIRST minimum
                # = smallest cell id on ties
                d = qn[:, None] + cn[None, :] - 2 * (qc @ C.T)
                cell[s : s + CHUNK] = d.argmin(axis=1)
            arrays = [
                b.column(b.schema.get_field_index(id_col)),
                pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int32) * dim, type=pa.int32()),
                    pa.array(qv.reshape(-1), type=pa.int64()),
                ),
                pa.array(cell, type=pa.int32()),
            ]
            if keep_embedding:
                arrays.append(emb)
            yield pa.RecordBatch.from_arrays(arrays, names=out_cols)

    sel = [id_col, emb_col]
    return emb_df.select(*sel).mapInArrow(fn, ddl)


def ivf_train(
    emb_df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = G.IVF_CELLS,
    iters: int = G.IVF_ITERS,
    use_fast: bool = True,
    train_milli: int | None = G.IVF_TRAIN_MILLI,
) -> list[list[int]]:
    """Integer-exact k-means codebook over floor(x*IVF_SCALE) quantized
    vectors — the IVF coarse quantizer.

    ``train_milli`` (default ``G.IVF_TRAIN_MILLI``): k-means iterates over
    the deterministic hash-bucket sample ``sample_hash(id) < train_milli``
    only — production IVF geometry (VERDICT r04 #3): the codebook needs a
    representative sample, not the corpus, so training cost is
    O(sample × iters) instead of ``iters`` full scans; callers then assign
    the FULL corpus once against the finished codebook. The sample rule is
    the same portable integer hash the sampler rides
    (:func:`sqlgen.sample_hash_expr`), a pure function of the id — so the
    DuckDB oracle reproduces sample and codebook bit-for-bit. ``None``
    trains on every vector (the pre-r05 behavior). Seeds stay the global
    ``id < n_cells`` rows either way.

    Determinism is the design constraint (the DuckDB oracle must reproduce
    the codebook bit-for-bit): initial centroids are the vectors with
    ``id_col < n_cells``; each round assigns every vector to its
    (sqdist, cell)-lexicographic-min centroid and recomputes centroids as
    ``floor(sum_i / count)`` per dimension — INTEGER sums are associative,
    so the distributed aggregation's order cannot change the result (a
    float mean would). Cells that lose all members keep their previous
    centroid. Each round is one narrow codegen assignment pass + one
    groupBy aggregation collecting ``n_cells`` rows to the driver — the
    codebook IS driver state, exactly how IVF training runs at scale
    (train on the corpus, broadcast the tiny codebook).

    ``use_fast`` (default) assigns cells via :func:`ivf_assign_fast` — the
    numpy twin, element-exact vs the SQL spec (pinned) — instead of the
    O(n_cells × dim) ``_ivf_cell_expr`` literal tree, which stays as the
    oracle-checkable specification."""
    dim = _dim(emb_df, emb_col)
    q = emb_df.select(
        F.col(id_col).alias("vid"),
        F.expr(G.ivf_quant_expr(emb_col, SPARK)).alias("qv"),
    )
    init = (
        q.filter(F.col("vid") < n_cells).orderBy("vid").select("qv").collect()
    )
    cents = [list(map(int, r["qv"])) for r in init]
    if len(cents) < n_cells:
        raise ValueError(f"need at least {n_cells} vectors to seed the codebook")
    if train_milli is None:
        train_df = emb_df
    else:
        # pushdown-friendly narrow predicate: the training passes scan only
        # the sampled fraction of the corpus
        train_df = emb_df.filter(
            F.expr(G.sample_hash_expr(id_col, SPARK)) < int(train_milli)
        )
    q_train = train_df.select(
        F.col(id_col).alias("vid"),
        F.expr(G.ivf_quant_expr(emb_col, SPARK)).alias("qv"),
    )
    for _ in range(iters):
        if use_fast:
            assign = ivf_assign_fast(train_df, cents, emb_col, id_col)
        else:
            assign = q_train.withColumn("cell", _ivf_cell_expr(cents))
        rows = (
            assign.groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        # EXACT integer floor division (//): float division rounds the sum
        # to double first, which can be off by one once a per-cell
        # coordinate sum exceeds 2^53 — breaking codebook bit-parity with
        # the oracle at scale (ADVICE r03). The oracle SQL uses the
        # matching mod-adjusted integer floor expression.
        updated = {
            int(r["cell"]): [int(r[f"s{i}"]) // int(r["n"]) for i in range(dim)]
            for r in rows
        }
        cents = [updated.get(j, cents[j]) for j in range(n_cells)]
    return cents


def ivf_ann_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = G.IVF_CELLS,
    iters: int = G.IVF_ITERS,
    nprobe: int = G.IVF_NPROBE,
    use_fast: bool = True,
    train_milli: int | None = G.IVF_TRAIN_MILLI,
) -> DataFrame:
    """IVF approximate top-k: exact cosine restricted to the ``nprobe``
    cells whose centroids are nearest the query — the inverted-file scale
    path (the brief's named alternative to the LSH-banded probe). On a
    table clustered by ``cell`` each probe is a partition-pruned scan of
    ~nprobe/n_cells of the corpus. Returns (vec_id, cosine).

    Training iterates over the deterministic ``train_milli``/1000
    hash-bucket sample (see :func:`ivf_train`); only the ONE final
    assignment pass touches the full corpus. ``use_fast`` routes training
    AND the probe assignment through the numpy :func:`ivf_assign_fast`
    twin (production-geometry shape); the SQL ``_ivf_cell_expr`` stays
    the oracle spec."""
    cents = ivf_train(
        emb_df, emb_col, id_col, n_cells, iters,
        use_fast=use_fast, train_milli=train_milli,
    )
    q = emb_df.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col),
        F.expr(G.ivf_quant_expr(emb_col, SPARK)).alias("qv"),
    )
    qrow = q.filter(F.col("vid") == query_id).select("qv").collect()[0]
    qv = [int(x) for x in qrow["qv"]]
    probe_cells = _probe_cells_for(qv, cents, nprobe)
    if use_fast:
        assigned = ivf_assign_fast(
            emb_df, cents, emb_col, id_col, keep_embedding=True
        ).withColumnRenamed(id_col, "vid")
    else:
        assigned = q.withColumn("cell", _ivf_cell_expr(cents))
    qv_df = emb_df.filter(F.col(id_col) == query_id).select(
        F.col(emb_col).alias("qemb")
    )
    cand = (
        assigned.filter(F.col("cell").isin(probe_cells) & (F.col("vid") != query_id))
        .crossJoin(F.broadcast(qv_df))
        .withColumn("cosine", F.expr(G.cosine_expr(emb_col, "qemb", SPARK)))
    )
    return (
        cand.orderBy(F.desc("cosine"), F.asc("vid"))
        .select(F.col("vid").alias(id_col), "cosine")
        .limit(k)
    )


def _probe_cells_for(qv: list[int], cents: list[list[int]], nprobe: int) -> list[int]:
    """nprobe nearest cells to a quantized query vector — integer sqdist,
    (distance, cell) lexicographic order (the spec's tie-break)."""
    dists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qv, c)), j)
        for j, c in enumerate(cents)
    )
    return [j for _, j in dists[:nprobe]]


def cluster_by_cell(
    emb_df: DataFrame,
    cents: list[list[int]],
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the embedding table CLUSTERED by IVF cell: one
    partition directory per coarse cell (``cell=<j>/``), assigned by the
    vectorized :func:`ivf_assign_fast`. This is the storage layout that
    makes the "probe = partition-pruned scan" claim real: an nprobe-cell
    probe reads nprobe/n_cells of the files, enforced by parquet partition
    pruning (plan-pinned in tests/test_round4_ops.py)."""
    assigned = ivf_assign_fast(emb_df, cents, emb_col, id_col, keep_embedding=True)
    assigned.select(id_col, emb_col, "cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_ann_topk_clustered(
    spark,
    path: str,
    cents: list[list[int]],
    query_vec: list[float],
    query_id: int | None = None,
    k: int = 5,
    nprobe: int = G.IVF_NPROBE,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe against a :func:`cluster_by_cell` store: quantize the
    query DRIVER-SIDE, pick the nprobe nearest cells from the (driver-held)
    codebook, and scan ONLY those partitions — the filter on the ``cell``
    partition column never touches the other cells' files. Exact cosine +
    top-k within the probed cells; returns (``id_col``, cosine)."""
    import numpy as np

    arr = np.asarray(query_vec)
    # float32-exact quantization when the stored column is float32
    emb_df = spark.read.parquet(path)
    f32 = emb_df.schema[emb_col].dataType.simpleString() == "array<float>"
    if f32:
        prod = (arr.astype(np.float32) * np.float32(G.IVF_SCALE)).astype(np.float64)
    else:
        prod = arr.astype(np.float64) * float(G.IVF_SCALE)
    qv = [int(x) for x in np.floor(prod).astype(np.int64)]
    probe_cells = _probe_cells_for(qv, cents, nprobe)
    cand = emb_df.filter(F.col("cell").isin(probe_cells))  # partition-pruned
    if query_id is not None:
        cand = cand.filter(F.col(id_col) != query_id)
    import pyarrow as pa

    qtype = "array<float>" if f32 else "array<double>"
    # arrow-backed one-row LocalRelation: a python-list createDataFrame is
    # RDD-backed and each action replays a ~0.3 s 1-task job on the
    # broadcast side (see dataset.py's local finishes)
    q_df = spark.createDataFrame(
        pa.table({"qemb": pa.array(
            [list(map(float, query_vec))],
            type=pa.list_(pa.float32() if f32 else pa.float64()),
        )}),
        schema=f"qemb {qtype}",
    )
    scored = cand.crossJoin(F.broadcast(q_df)).withColumn(
        "cosine", F.expr(G.cosine_expr(emb_col, "qemb", SPARK))
    )
    return (
        scored.orderBy(F.desc("cosine"), F.asc(id_col))
        .select(id_col, "cosine")
        .limit(k)
    )


def embedding_near_dup(
    emb_df: DataFrame,
    threshold: float = 0.3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_rows: int | None = None,
    expected_n: int | None = None,
    sig_path: str | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH.

    The fifth dedup modality (exact / MinHash+LSH / SimHash / n-gram Jaccard
    being the others), with the same plan shape as
    :func:`xml2arrow_spark.pipeline.dedup.lsh_near_dup_pairs`: one narrow
    pass computes LSH_BANDS band keys per vector; one (vector-ID, band-key)
    row per band — the embedding itself never rides the band union — goes
    into a bucket self-join; candidate id-pairs are deduped across bands;
    the embedding is re-joined exactly once per side and the exact
    sequential-fold cosine verifies. Because ``n_rows`` scales with N
    (:func:`with_lsh_bands`), a cell's self-join is O(target²) rows — the
    per-cell constant never grows with the corpus. Returns
    (vec_a, vec_b, cosine) with vec_a < vec_b.

    Scale shapes (mirror of ``lsh_near_dup_pairs``): pass ``sig_path`` for
    the two-phase signature table — phase 1 materializes (id, embedding,
    band keys) to parquet once, phase 2 reads it for every band branch and
    both payload joins (no executor-storage cache; also the natural
    incremental checkpoint). Without it the banded relation is persisted
    (the cache handle is attached as ``_sig_cache`` so callers can
    ``unpersist()`` after consuming). ``max_cell`` drops degenerate band
    cells (> max_cell vectors — e.g. the all-zeros embedding every failed
    encoder emits) before the self-join, bounding any one cell's candidate
    fan-out at max_cell²/2 — see
    :func:`xml2arrow_spark.pipeline.dedup.lsh_near_dup_pairs`.
    """
    dim = _dim(emb_df, emb_col)
    keys = [f"bandkey{b}" for b in range(G.LSH_BANDS)]
    banded_cols = with_lsh_bands(
        emb_df, emb_col, dim, n_rows=n_rows, id_col=id_col, expected_n=expected_n
    ).select(id_col, emb_col, *keys)
    from xml2arrow_spark.pipeline.dedup import (
        band_union,
        read_signatures,
        stored_band_union,
        write_signatures,
    )

    if sig_path is not None:
        write_signatures(
            banded_cols, sig_path, id_col, keys, batch_id=0, mode="overwrite"
        )
        banded = read_signatures(emb_df.sparkSession, sig_path, id_col)
        cache_handle = None
        exploded = stored_band_union(
            emb_df.sparkSession, sig_path, G.LSH_BANDS,
            id_alias="vid", max_cell=max_cell,
        )
    else:
        banded = banded_cols.persist()
        cache_handle = banded
        exploded = band_union(banded, id_col, keys, id_alias="vid", max_cell=max_cell)
    a, b_ = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_pos") == F.col("b.band_pos"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    vecs = banded.select(id_col, emb_col)
    cand = (
        cand.join(
            vecs.select(F.col(id_col).alias("vec_a"), F.col(emb_col).alias("ea")), "vec_a"
        ).join(
            vecs.select(F.col(id_col).alias("vec_b"), F.col(emb_col).alias("eb")), "vec_b"
        )
    )
    out = cand.withColumn(
        "cosine", F.expr(G.cosine_expr("ea", "eb", SPARK))
    ).filter(F.col("cosine") >= threshold).select("vec_a", "vec_b", "cosine")
    out._sig_cache = cache_handle
    out._drop_metrics = exploded._drop_metrics
    return out
