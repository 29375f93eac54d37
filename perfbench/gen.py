"""Seeded input generators for the benchmark.

The benchmark owns its generators instead of importing the engine's
(``xml2arrow_spark.sources.tokens``), so a change to the engine can never
silently change the workload. Every function is a pure function of its
arguments: the same seed gives byte-identical inputs.

- :func:`token_table` mirrors the F1 token fixture: log-normal ``n_tok``,
  Zipf-distributed token ids, a skewed categorical ``source``.
- :func:`lineitem_table` is a TPC-H-lineitem-shaped table sorted by
  ``l_orderkey`` (range-clustered), the geometry the zone-map operators
  prune on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "books", "code", "papers")
SOURCE_P = (0.55, 0.25, 0.12, 0.08)
RETURN_FLAGS = ("A", "N", "R")


def token_table(
    seed: int,
    n_rows: int,
    start_id: int = 0,
    vocab: int = 50257,
    zipf_a: float | None = 1.2,
) -> pa.Table:
    """``(doc_id string, tokens list<int32>, n_tok int32, source string)``.

    Token ids follow a power law with exponent ``zipf_a``, capped at
    ``vocab - 1`` (see :func:`_power_law_table`); ``zipf_a=None`` draws
    them uniformly from ``[0, vocab)`` (the F1 ``uniform_vocab`` variant)."""
    rng = np.random.default_rng(seed)
    n_tok = np.clip(rng.lognormal(5.0, 1.0, n_rows), 1, 8192).astype(np.int32)
    total = int(n_tok.sum())
    if zipf_a is None:
        values = rng.integers(0, vocab, total, dtype=np.int32)
    else:
        values = _power_law_table(vocab, zipf_a)[rng.integers(0, _QUANTILES, total)]
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    doc_id = pa.array([f"doc-{i:08d}" for i in range(start_id, start_id + n_rows)])
    source = pa.array(
        np.asarray(SOURCES, dtype=object)[rng.choice(len(SOURCES), n_rows, p=SOURCE_P)]
    )
    return pa.table(
        {
            "doc_id": doc_id,
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": source,
        }
    )


_QUANTILES = 1 << 20


def _power_law_table(vocab: int, zipf_a: float) -> np.ndarray:
    """Inverse CDF of the continuous Pareto law ``x = u^(-1/(a-1))``,
    floored and capped, at 2^20 evenly spaced quantiles: one integer draw
    and one gather per token give the Zipf shape at a fraction of the
    cost of ``numpy``'s rejection sampler."""
    u = (np.arange(_QUANTILES) + 0.5) / _QUANTILES
    # log space, capped before exponentiation: flat laws cannot overflow
    log_x = np.minimum(-np.log(u) / (zipf_a - 1.0), np.log(vocab))
    return (np.exp(log_x).astype(np.int32) - 1).clip(0, vocab - 1)


def lineitem_table(seed: int, n_orders: int) -> pa.Table:
    """Lineitem-shaped rows, 1-7 lines per order, sorted by ``l_orderkey``."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n_orders)
    okeys = np.cumsum(rng.integers(1, 8, n_orders)).astype(np.int64)
    total = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    return pa.table(
        {
            "l_orderkey": pa.array(np.repeat(okeys, lines)),
            "l_linenumber": pa.array(
                (np.arange(total) - starts + 1).astype(np.int32)
            ),
            "l_partkey": pa.array(rng.integers(1, 20_001, total, dtype=np.int64)),
            "l_quantity": pa.array(rng.integers(1, 51, total).astype(np.float64)),
            "l_returnflag": pa.array(
                np.asarray(RETURN_FLAGS, dtype=object)[
                    rng.choice(3, total, p=(0.25, 0.5, 0.25))
                ]
            ),
            "l_shipday": pa.array(rng.integers(0, 2557, total, dtype=np.int32)),
        }
    )


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` contiguous row ranges, one parquet
    file each (one file is one encode unit)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(np.int64)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="none",
        )


def token_fingerprint(table: pa.Table) -> tuple[int, int, int, int]:
    """(rows, tokens, position-weighted token sum, sum of ``n_tok``) of a
    token table — the same four numbers :data:`TOKEN_FOLD_SQL` computes
    on decoded rows."""
    tokens = table.column("tokens").combine_chunks()
    values = tokens.values.to_numpy().astype(np.int64)
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    pos = np.arange(values.size, dtype=np.int64) - np.repeat(offsets[:-1], np.diff(offsets))
    return (
        table.num_rows,
        int(values.size),
        int(((values + 1) * (pos + 1)).sum()),
        int(table.column("n_tok").to_numpy().sum()),
    )


# Over ``posexplode(tokens) AS (pos, tok)`` plus ``n_tok``: rows (every
# generated row has at least one token), tokens, sum((tok+1)*(pos+1)), and
# sum(n_tok). A term is below 2^20 * 2^13, so the sum stays exact in int64
# for any table under 2^30 tokens.
TOKEN_FOLD_SQL = (
    "sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END)",
    "count(*)",
    "sum(CAST(tok + 1 AS BIGINT) * (pos + 1))",
    "sum(CASE WHEN pos = 0 THEN n_tok ELSE 0 END)",
)
