"""Per-block Bloom-filter index: point-lookup pruning on UNCLUSTERED data.

Zone maps (`operators/encode.py::prune_blocks_any`) prune point lookups only
when blocks are value-clustered on the probed column (``presort=`` at
encode); on hash-placed, unsorted data every block's [vmin, vmax] spans the
id space and nothing prunes. This module is the standard big-table answer
(parquet column bloom filters, Iceberg puffin blobs, HBase/Cassandra row
bloom filters): a small per-block bit array over the column's EXACT value
set, so a probe skips every block whose filter proves the id absent —
regardless of physical order. With the default geometry (10 bits/row, k=7)
the false-positive rate is <1%, i.e. a k-id lookup decodes ~k blocks out of
however many the unit holds.

Design (mirrors the reference's metadata/data split — the per-table
finalize bookkeeping of /root/reference/src/xml_parser.rs:491-511 — rather
than its block format):

- **Out of band.** Filters live in their own parquet tree
  ``<tree>/bloomidx/<column>/blocks/unit_id=*/``, one row per encoded
  block, NOT inside the block rows: the block format is unchanged, old
  datasets stay readable, and the index is droppable/rebuildable at any
  time. ~``bits_per_row/8`` bytes per indexed row (1.25 B at default).
- **Conservative on absence.** A missing index, a missing unit partition,
  or a null probe value keeps every candidate block — pruning can only
  skip work, never rows (the zone-map contract).
- **Mutation-safe by invalidation-then-rebuild.** ``_rewrite_units``
  removes the affected units' filter partitions BEFORE touching any block
  (`invalidate_units`), and rebuilds them after the manifest swap. A crash
  anywhere in between leaves those units unindexed — degraded, never
  wrong; replaying the mutation repairs the index with the data.
- **Driver-side probe.** A point-lookup batch touches ≤ min(k, n_units)
  units; their filter partitions are KB-to-MB-scale metadata, so the probe
  reads them with pyarrow on the driver (repo ground rule: metadata never
  rides a Spark job) and the surviving (unit_id, block_id) set becomes a
  literal pushdown filter on the blocks scan.

Hashing is the classic double-hash Bloom scheme (Kirsch & Mitzenmacher,
"Less Hashing, Same Performance"): two 64-bit halves of one blake2b digest
generate all k probe positions. Both the build (numpy, executor-side) and
the probe (driver-side) derive positions from the same function of the
same canonical ``str(value)`` bytes, so build/probe agreement is by
construction, not cross-engine luck.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

import numpy as np

from xml2arrow_spark.manifest import read_sidecar, write_sidecar

__all__ = [
    "build_bloom_index",
    "list_indexes",
    "invalidate_units",
    "bloom_survivors",
    "bloom_filter_expr",
    "audit_index",
    "BLOOM_SIDEVAR",
    "BLOOM_HASH_ID",
]

BLOOM_SIDEVAR = "_bloom.yaml"
# Identity of the value->bit-positions function, recorded in the index
# sidecar and checked before probing (the PLACEMENT_ID discipline): probing
# with a different hash than the build would silently drop true rows.
BLOOM_HASH_ID = "blake2b16_doublehash_v1"
BLOOM_DDL = "unit_id int, block_id long, m_bits int, bits binary"


def _hash_pair(value) -> tuple[int, int]:
    """(h1, h2) for the double-hash scheme; h2 forced odd so the probe
    sequence never degenerates to a single position."""
    d = hashlib.blake2b(str(value).encode("utf-8"), digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _m_bits(n_rows: int, bits_per_row: int) -> int:
    return max(64, ((n_rows * bits_per_row + 63) // 64) * 64)


def _positions(h1: int, h2: int, k: int, m: int) -> list[int]:
    """Driver-side probe positions; the explicit mod 2^64 mirrors numpy's
    uint64 wraparound on the build side exactly."""
    return [((h1 + i * h2) % 2**64) % m for i in range(k)]


def build_block_bloom(values, bits_per_row: int, k: int) -> tuple[int, bytes]:
    """Bit array over one block's values -> (m_bits, little-endian words).

    Nulls are skipped: a null can never be a probe hit (probe treats null
    values as unprunable instead)."""
    vals = [v for v in values if v is not None]
    m = _m_bits(max(len(vals), 1), bits_per_row)
    words = np.zeros(m // 64, dtype=np.uint64)
    if vals:
        pairs = np.array([_hash_pair(v) for v in vals], dtype=np.uint64)
        steps = np.arange(k, dtype=np.uint64)
        # uint64 wraparound is the build/probe-shared mod 2^64
        pos = (pairs[:, :1] + steps * pairs[:, 1:]) % np.uint64(m)
        np.bitwise_or.at(
            words, (pos >> np.uint64(6)).ravel(),
            np.uint64(1) << (pos & np.uint64(63)).ravel(),
        )
    return m, words.tobytes()


def _probe_block(bits: bytes, m: int, pairs: list[tuple[int, int]], k: int) -> bool:
    """True iff ANY of the hashed probe values may be present."""
    words = np.frombuffer(bits, dtype="<u8")
    for h1, h2 in pairs:
        if all(
            words[p >> 6] & (np.uint64(1) << np.uint64(p & 63))
            for p in _positions(h1, h2, k, m)
        ):
            return True
    return False


def _index_dir(tree: str, column: str) -> str:
    return os.path.join(tree, "bloomidx", column)


def list_indexes(tree: str) -> dict[str, dict]:
    """{column: sidecar dict} for every bloom index under ``tree``."""
    root = os.path.join(tree, "bloomidx")
    out = {}
    if not os.path.isdir(root):
        return out
    for column in sorted(os.listdir(root)):
        spath = os.path.join(root, column, BLOOM_SIDEVAR)
        if os.path.exists(spath):
            out[column] = read_sidecar(os.path.join(root, column), BLOOM_SIDEVAR)
    return out


def invalidate_units(tree: str, units: list[int]) -> None:
    """Remove the filter partitions for ``units`` from EVERY index of the
    tree. Called by the mutation core BEFORE any block is rewritten: from
    that moment until the post-swap rebuild, those units are unindexed —
    conservative, never stale."""
    import shutil

    for column in list_indexes(tree):
        for u in units:
            shutil.rmtree(
                os.path.join(_index_dir(tree, column), "blocks", f"unit_id={int(u)}"),
                ignore_errors=True,
            )


def _view_filters(view, column: str, bits_per_row: int, k: int):
    """``([m_bits], [bits])`` over every block of a
    :class:`~xml2arrow_spark.operators.encode.BlockStats` view, decoding
    only ``column`` — the one per-block step of both index builders."""
    from xml2arrow_spark.operators.blocks import decode_column

    filters = [
        build_block_bloom(
            decode_column(*view.payload(column, i)).to_pylist(), bits_per_row, k
        )
        for i in range(len(view))
    ]
    return [m for m, _bits in filters], [bits for _m, bits in filters]


def _computed_filters_df(
    spark, tree: str, column: str, bits_per_row: int, k: int,
    units: list[int] | None,
):
    """The filter rows as COMPUTED from the blocks on disk — one map-only
    pass decoding only ``column`` per block (shared by the index build and
    the deep audit, so 'stored equals recomputed' is checked against the
    very bytes a rebuild would write)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from xml2arrow_spark.operators.encode import payload_columns

    blocks = spark.read.parquet(os.path.join(tree, "blocks"))
    if units is not None:
        blocks = blocks.filter(F.col("unit_id").isin([int(u) for u in units]))
    blocks = blocks.select(
        "unit_id", "block_id", *payload_columns(blocks.columns, [column])
    )

    def build_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from xml2arrow_spark.env import task_setup
        from xml2arrow_spark.operators.encode import BlockStats

        task_setup()
        for b in batches:
            view = BlockStats.of_table(pa.Table.from_batches([b]), [column])
            m_bits, bits = _view_filters(view, column, bits_per_row, k)
            yield pa.RecordBatch.from_pydict(
                {
                    "unit_id": b.column(0).to_pylist(),
                    "block_id": b.column(1).to_pylist(),
                    "m_bits": m_bits,
                    "bits": bits,
                },
                schema=pa.schema(
                    [
                        pa.field("unit_id", pa.int32()),
                        pa.field("block_id", pa.int64()),
                        pa.field("m_bits", pa.int32()),
                        pa.field("bits", pa.binary()),
                    ]
                ),
            )

    return blocks.mapInArrow(build_fn, BLOOM_DDL)


def _build_bloom_local(
    tree: str,
    column: str,
    bits_per_row: int,
    k: int,
    units: list[int] | None,
    local_threshold_bytes: int,
) -> int | None:
    """Driver-local twin of the index build for SMALL block sets (r06):
    the Spark path is one mapInArrow job + a dynamic-overwrite partitioned
    write (~0.5-0.6 s of fixed machinery at local[32]) — the dominant cost
    of the post-mutation refresh in upsert/delete. This reads the target
    units' block rows via pyarrow, decodes ONLY the indexed column with
    the same ``decode_column`` kernels, builds the same filters, and
    writes byte-compatible per-unit parquet (block_id int64, m_bits
    int32, bits binary — the exact Spark file schema) with
    dotfile-then-rename. Returns the number of blocks indexed, or None
    when the target units' files exceed ``local_threshold_bytes`` (the
    caller runs the unchanged Spark job)."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from xml2arrow_spark.operators.encode import BlockStats, payload_columns

    bdir = os.path.join(tree, "blocks")
    if not os.path.isdir(bdir):
        return None
    unit_dirs = (
        sorted(d for d in os.listdir(bdir) if d.startswith("unit_id="))
        if units is None
        else [f"unit_id={int(u)}" for u in units]
    )
    unit_dirs = [d for d in unit_dirs if os.path.isdir(os.path.join(bdir, d))]
    total = 0
    for d in unit_dirs:
        for root, _dd, files in os.walk(os.path.join(bdir, d)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    if total > local_threshold_bytes:
        return None
    out_schema = pa.schema(
        [
            pa.field("block_id", pa.int64()),
            pa.field("m_bits", pa.int32()),
            pa.field("bits", pa.binary()),
        ]
    )
    idx_blocks = os.path.join(_index_dir(tree, column), "blocks")
    n_indexed = 0
    for d in unit_dirs:
        ds = pads.dataset(os.path.join(bdir, d))
        t = ds.to_table(columns=[
            "block_id", *payload_columns(ds.schema.names, [column])
        ])
        m_list, bits_list = _view_filters(
            BlockStats.of_table(t, [column]), column, bits_per_row, k
        )
        block_ids = t.column("block_id").to_pylist()
        # dynamic-overwrite semantics per unit partition
        pdir = os.path.join(idx_blocks, d)
        shutil.rmtree(pdir, ignore_errors=True)
        os.makedirs(pdir, exist_ok=True)
        part = pa.table(
            {"block_id": block_ids, "m_bits": m_list, "bits": bits_list},
            schema=out_schema,
        )
        name = f"part-local-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(pdir, "." + name + ".tmp")
        pq.write_table(part, tmp)
        os.rename(tmp, os.path.join(pdir, name))
        n_indexed += t.num_rows
    return n_indexed


def build_bloom_index(
    spark,
    tree: str,
    column: str,
    bits_per_row: int = 10,
    k: int = 7,
    units: list[int] | None = None,
    local_threshold_bytes: int = 64 << 20,
) -> dict:
    """Build (or refresh) the Bloom index of ``column`` for the encoded
    blocks tree at ``tree`` (a dataset path, or ``<path>/families/<fam>``).

    One map-only pass: each block row decodes ONLY the indexed column
    (nested layout: one entry of the ``cols`` struct; wide layout: the
    parquet scan reads just that column's payload) and emits one filter
    row. ``units=None`` rebuilds the whole index (the index dir is cleared
    first so units that no longer exist cannot leave stale partitions);
    ``units=[...]`` refreshes only those partitions via dynamic overwrite —
    the O(affected-units) shape mutations need. Geometry is recorded in a
    sidecar and REUSED by partial refreshes: mixed bits_per_row/k across
    partitions would make driver probes nonsense."""
    import shutil

    import yaml

    idx = _index_dir(tree, column)
    if units is not None and os.path.exists(os.path.join(idx, BLOOM_SIDEVAR)):
        side = read_sidecar(idx, BLOOM_SIDEVAR)
        if side.get("hash") != BLOOM_HASH_ID:
            raise ValueError(
                f"bloom index at {idx!r} was built with hash "
                f"{side.get('hash')!r}; this engine probes {BLOOM_HASH_ID!r}"
            )
        bits_per_row = int(side.get("bits_per_row", bits_per_row))
        k = int(side.get("k", k))
    if units is None:
        shutil.rmtree(idx, ignore_errors=True)
    os.makedirs(idx, exist_ok=True)
    write_sidecar(idx, yaml.safe_dump({
        "column": column,
        "bits_per_row": int(bits_per_row),
        "k": int(k),
        "hash": BLOOM_HASH_ID,
    }), BLOOM_SIDEVAR)

    if units is not None and not units:
        return {"blocks_indexed": 0}
    if local_threshold_bytes:
        n_local = _build_bloom_local(
            tree, column, bits_per_row, k, units, local_threshold_bytes
        )
        if n_local is not None:
            return {"blocks_indexed": int(n_local)}
    filt = _computed_filters_df(spark, tree, column, bits_per_row, k, units)
    filt.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("unit_id").parquet(os.path.join(idx, "blocks"))
    try:
        import pyarrow.parquet as pq

        n = pq.read_table(
            os.path.join(idx, "blocks"), columns=["block_id"]
        ).num_rows
    except Exception:
        n = 0
    return {"blocks_indexed": int(n)}


def bloom_survivors(
    tree: str, column: str, values: list, units: list[int]
) -> tuple[set[int], dict[int, list[int]]] | None:
    """Probe the index for a point-lookup batch.

    Returns ``(unprunable_units, {unit_id: [surviving block_id, ...]})`` —
    units in the first set keep ALL their blocks (no filter partition on
    disk: never built, or invalidated by an in-flight mutation); units in
    the dict keep only the listed blocks (possibly none: the batch's ids
    are provably absent from every block of that unit). Returns ``None``
    when the index, any null probe value, or a hash mismatch makes bloom
    pruning inapplicable as a whole."""
    import pyarrow.parquet as pq

    idx = _index_dir(tree, column)
    spath = os.path.join(idx, BLOOM_SIDEVAR)
    if not os.path.exists(spath) or any(v is None for v in values):
        return None
    side = read_sidecar(idx, BLOOM_SIDEVAR)
    if side.get("hash") != BLOOM_HASH_ID:
        return None
    k = int(side["k"])
    pairs = [_hash_pair(v) for v in values]
    unprunable: set[int] = set()
    survivors: dict[int, list[int]] = {}
    for u in units:
        pdir = os.path.join(idx, "blocks", f"unit_id={int(u)}")
        if not os.path.isdir(pdir):
            unprunable.add(int(u))
            continue
        try:
            t = pq.read_table(pdir)
        except Exception:
            unprunable.add(int(u))
            continue
        keep = [
            b
            for b, m, bits in zip(
                t.column("block_id").to_pylist(),
                t.column("m_bits").to_pylist(),
                t.column("bits").to_pylist(),
            )
            if _probe_block(bits, m, pairs, k)
        ]
        survivors[int(u)] = keep
    return unprunable, survivors


def audit_index(spark, tree: str, column: str, deep: bool = False) -> dict:
    """fsck for one Bloom index: is every stored filter partition still
    TRUE of the blocks it claims to cover?

    Metadata level: for every unit that HAS a filter partition, the stored
    (unit_id, block_id) key set must equal the on-disk blocks' key set —
    a stale partition (a mutation that somehow skipped invalidation, an
    operator restoring old index files) shows up as extra/missing keys.
    Units WITHOUT a partition are reported, not failed: missing-is-
    conservative is the index's contract, the probe keeps all their
    blocks. ``deep=True`` recomputes every covered block's filter from the
    decoded column through the SAME pass a rebuild would run and
    byte-compares against the stored bits — catching the case metadata
    cannot: identical block ids, different values (e.g. a replaced unit
    whose rewrite reproduced the same deterministic block ids).

    Returns ``{indexed_units, unindexed_units, stale_units,
    deep_mismatched_units, ok}``; ``ok`` = no stale (and, deep, no
    mismatch)."""
    from pyspark.sql import functions as F

    idx = _index_dir(tree, column)
    bdir = os.path.join(idx, "blocks")
    side = read_sidecar(idx, BLOOM_SIDEVAR)
    indexed = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(bdir)
        if d.startswith("unit_id=")
    ) if os.path.isdir(bdir) else []
    blocks_keys = (
        spark.read.parquet(os.path.join(tree, "blocks"))
        .select("unit_id", "block_id")
    )
    all_units = sorted(
        r["unit_id"]
        for r in blocks_keys.select("unit_id").distinct().collect()
    )
    unindexed = sorted(set(all_units) - set(indexed))
    if not indexed:
        return {
            "indexed_units": [], "unindexed_units": unindexed,
            "stale_units": [], "deep_mismatched_units": [], "ok": True,
        }
    stored = spark.read.parquet(bdir)
    # symmetric key-set difference per indexed unit, fully distributed:
    # a key present on both sides sums to 3, one-sided keys don't
    covered = blocks_keys.filter(F.col("unit_id").isin(indexed))
    tagged = covered.withColumn("src", F.lit(1)).unionByName(
        stored.select("unit_id", "block_id").withColumn("src", F.lit(2))
    )
    stale = sorted(
        r["unit_id"]
        for r in tagged.groupBy("unit_id", "block_id")
        .agg(F.sum("src").alias("s"))
        .filter(F.col("s") != 3)
        .select("unit_id")
        .distinct()
        .collect()
    )
    deep_bad: list[int] = []
    if deep:
        recomputed = _computed_filters_df(
            spark, tree, column, int(side["bits_per_row"]), int(side["k"]),
            indexed,
        ).withColumnRenamed("bits", "rebits").withColumnRenamed("m_bits", "rem")
        deep_bad = sorted(
            r["unit_id"]
            for r in stored.join(recomputed, ["unit_id", "block_id"], "inner")
            .filter(
                (F.col("m_bits") != F.col("rem"))
                | (F.col("bits") != F.col("rebits"))
            )
            .select("unit_id")
            .distinct()
            .collect()
        )
    return {
        "indexed_units": indexed,
        "unindexed_units": unindexed,
        "stale_units": stale,
        "deep_mismatched_units": deep_bad,
        "ok": not stale and not deep_bad,
    }


def bloom_filter_expr(tree: str, column: str, values: list, units: list[int]):
    """Bloom pruning as a Column predicate over a blocks DataFrame, or
    ``None`` when inapplicable. The surviving set is metadata-scale by
    construction (≤ len(values) true blocks + false positives), so it rides
    literal isin lists — pushable to the parquet scan."""
    from functools import reduce

    from pyspark.sql import functions as F

    probed = bloom_survivors(tree, column, values, units)
    if probed is None:
        return None
    unprunable, survivors = probed
    legs = []
    if unprunable:
        legs.append(F.col("unit_id").isin(sorted(unprunable)))
    for u, blks in survivors.items():
        if blks:
            legs.append(
                (F.col("unit_id") == int(u)) & F.col("block_id").isin(sorted(blks))
            )
    if not legs:
        return F.lit(False)
    return reduce(lambda a, b: a | b, legs)
