"""Driver-side metadata-table primitives shared by every sink.

The repo-wide ground rule (CLAUDE.md): KB-scale metadata (manifest rows,
lineage rows) never goes through a Spark write job — a
``createDataFrame().write.parquet()`` of 128 tiny rows measured 4.6 s, 6x
the encode it was bookkeeping for. These helpers implement the one correct
pattern in one place: append = a uniquely/deterministically named parquet
file written to a HIDDEN tmp name and renamed into the directory (readers
— Spark and pyarrow both skip dot-prefixed files — can never observe a
torn file), read = a driver-side pyarrow directory scan.
"""

from __future__ import annotations

import os

import pyarrow as pa

__all__ = ["append_rows", "read_unit_ids", "sum_columns", "table_exists"]


def append_rows(mdir: str, rows: list[dict], schema: pa.Schema, name: str) -> None:
    """Atomically add one parquet file of metadata rows to directory
    ``mdir`` (a new file in a parquet directory IS append). ``name`` is the
    final file name — pass a uuid-based name for append-only tables, or a
    DETERMINISTIC name (e.g. epoch-keyed) when a replay must overwrite its
    own rows instead of duplicating them."""
    import pyarrow.parquet as pq

    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{name}.inprogress")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(mdir, name))


def table_exists(mdir: str) -> bool:
    """Whether metadata table ``mdir`` exists: a directory holding at
    least one visible file. A crash before the first append's rename
    leaves at most a hidden tmp file — still no table."""
    return os.path.isdir(mdir) and any(
        not n.startswith((".", "_")) for n in os.listdir(mdir)
    )


def read_unit_ids(mdir: str) -> set[int]:
    """The ``unit_id`` set of manifest directory ``mdir``, driver-side.

    Fails closed: only a manifest that does not exist yet
    (:func:`table_exists`) reads as empty. A manifest that exists but
    cannot be read RAISES: treating it as empty would make a resume
    re-encode every unit and append a duplicate manifest row for each."""
    import pyarrow.parquet as pq

    if not table_exists(mdir):
        return set()
    ids = pq.read_table(mdir, columns=["unit_id"]).column("unit_id")
    return set(ids.to_pylist())


def sum_columns(mdir: str, columns: list[str]) -> tuple[int, dict[str, int]]:
    """(row_count, {column: int sum}) over a metadata directory,
    driver-side. Raises if the directory does not exist/is empty — callers
    that tolerate a missing table wrap it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(mdir, columns=columns)
    return t.num_rows, {
        c: int(pc.sum(t.column(c)).as_py() or 0) for c in columns
    }
