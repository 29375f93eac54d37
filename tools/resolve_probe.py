#!/usr/bin/env python
"""Driver-side codec picks and resolve time, under the value-bounded sample
and under the 8,192-row reference sample.

``resolve_manifest_parquet`` samples scalar columns by rows (8,192) and
list columns by values (``plans/selector.py::SAMPLE_VALUES``). This probe
resolves every column of a table with the default all-``auto`` manifest of
the fused encoders (``CodecManifest.auto_for(schema, block_rows=65536)``)
twice: as shipped, and with the value bound lifted so list columns are
chosen from the whole 8,192-row sample. It prints two markdown tables:
each column's two picks, and each table's median resolve ms per arm. A
column whose pick differs also gets its stored bytes under each pick (the
whole table, encoded in ``block_rows`` blocks with
``operators/blocks.py::encode_column``).

``PATH`` is one parquet table (a file, or a directory of part files) or a
directory whose ``*.parquet`` entries are tables, each probed in turn.
Runs on the driver alone: no Spark session.

Usage: python tools/resolve_probe.py PATH [--reps 9]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _tables(path: str) -> list[str]:
    if os.path.isdir(path):
        entries = sorted(e for e in os.listdir(path) if e.endswith(".parquet"))
        if entries and not any(e.startswith("part-") for e in entries):
            return [os.path.join(path, e) for e in entries]
    return [path]


def _resolve(infos, manifest, reps: int) -> tuple[dict, float]:
    from xml2arrow_spark.operators.encode import resolve_manifest_parquet

    times, picks = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        resolved = resolve_manifest_parquet(infos, manifest)
        times.append((time.perf_counter() - t0) * 1e3)
        picks = {name: p.codec for name, p in resolved.columns.items()}
    return picks, statistics.median(times)


def _stored_bytes(infos, column: str, codec: str, block_rows: int) -> int:
    import pyarrow.parquet as pq

    from xml2arrow_spark.operators.blocks import encode_column

    total = 0
    for fpath, _ in infos:
        for batch in pq.ParquetFile(fpath).iter_batches(
            batch_size=block_rows, columns=[column]
        ):
            total += len(encode_column(batch.column(0), codec)[2])
    return total


def probe(table: str, reps: int) -> tuple[list[tuple], tuple]:
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.plans import selector
    from xml2arrow_spark.sources.files import parquet_file_infos

    infos = parquet_file_infos(table)
    schema = pq.read_schema(infos[0][0])
    manifest = CodecManifest.auto_for(from_arrow_schema(schema), block_rows=65536)
    bounded, bounded_ms = _resolve(infos, manifest, reps)
    with mock.patch.object(selector, "SAMPLE_VALUES", sys.maxsize):
        reference, reference_ms = _resolve(infos, manifest, reps)
    name = os.path.basename(table.rstrip("/"))
    rows = []
    for col in manifest.columns:
        effect = ""
        if bounded[col] != reference[col]:
            b, r = (_stored_bytes(infos, col, c, manifest.block_rows)
                    for c in (bounded[col], reference[col]))
            effect = f"{b:,} vs {r:,} B ({(b - r) / r:+.2%})"
        rows.append((name, col, str(schema.field(col).type),
                     bounded[col], reference[col], effect))
    return rows, (name, f"{bounded_ms:.1f}", f"{reference_ms:.1f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path")
    ap.add_argument("--reps", type=int, default=9)
    args = ap.parse_args()
    picks, times = [], []
    for table in _tables(args.path):
        rows, ms = probe(table, args.reps)
        picks += rows
        times.append(ms)
    print("| table | column | type | value-bounded | 8,192-row reference | "
          "stored bytes (bounded vs reference) |")
    print("|---|---|---|---|---|---|")
    for row in picks:
        print("| " + " | ".join(row) + " |")
    print()
    print("| table | resolve ms, value-bounded | resolve ms, 8,192-row reference |")
    print("|---|---|---|")
    for row in times:
        print("| " + " | ".join(row) + " |")


if __name__ == "__main__":
    main()
