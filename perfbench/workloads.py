"""The benchmark's workloads: their inputs, what one closed-loop op is, and
the expected answer each op is checked against.

Each workload has three op classes, reported under the same end-to-end
names on every workload:

============  ===========================================  ===========================================
class         ``ingest``                                   ``query``
============  ===========================================  ===========================================
primary       ``encode_parquet_dataset`` of the batch       five metadata aggregates on the small
              into a fresh store                            store (driver-local path)
secondary     full ``decode_dataset``, folded               two of them on the large store
                                                            (distributed path)
scan          ``decode_dataset(zone_filter, row_filter)``   ``decode_dataset(zone_filter, row_filter)``
              on the fresh store, folded                    on the small store
============  ===========================================  ===========================================

Expected answers are computed once, untimed: from the generated table
(``ingest``) or by DuckDB over the generated parquet (``query``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

CLASSES = ("primary", "secondary", "scan")
TOKEN_COLUMNS = ("doc_id", "tokens", "n_tok", "source")
DATASET_APIS = (
    "encode_parquet_dataset", "decode_dataset", "count_where",
    "group_count", "group_sum", "top_k",
)
LOCAL_BYTES_VALVE = 128 << 20  # the engine's default local_bytes dispatch limit

# sizes per scale: "full" is the benchmark, "smoke" the self-test
SCALES = {
    "full": {
        "ingest_rows": 20_000,
        "ingest_files": 4,
        "lineitem_orders": 100_000,
        "lineitem_files": 8,
        "large_rows": 240_000,
        "large_files": 8,
    },
    "smoke": {
        "ingest_rows": 2_000,
        "ingest_files": 4,
        "lineitem_orders": 2_000,
        "lineitem_files": 4,
        "large_rows": 2_000,
        "large_files": 4,
    },
}
# the large store must sit above LOCAL_BYTES_VALVE; its token ids are
# uniform over a 2^20 vocabulary (the F1 uniform_vocab variant, ~2.5 stored
# bytes per token against ~1.4 for the Zipf batch), so it crosses the valve
# with the fewest tokens to generate and encode
LARGE_VOCAB = 1 << 20


@dataclass
class Op:
    cls: str
    api: str
    run: Callable[[], Any]
    expect: Any
    # (n_blocks, n_pruned, n_interior) reported by a count_where op
    telemetry: tuple[int, int, int] | None = None


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _dirs, names in os.walk(path)
        for n in names
    )


def store_codecs(store: str) -> dict[str, str]:
    from xml2arrow_spark.manifest import CodecManifest
    from xml2arrow_spark.operators.dataset import MANIFEST_SIDECAR

    m = CodecManifest.from_yaml_file(os.path.join(store, MANIFEST_SIDECAR))
    return {c: p.codec for c, p in m.columns.items()}


def fold_tokens(df) -> tuple:
    """The :func:`gen.token_fingerprint` numbers of a decoded token table."""
    row = df.selectExpr("n_tok", "posexplode(tokens) AS (pos, tok)").selectExpr(
        *gen.TOKEN_FOLD_SQL).collect()[0]
    return tuple(int(v or 0) for v in row)


def write_token_files(path: str, seed: int, n_rows: int, n_files: int,
                      **shape) -> int:
    """Token table as ``n_files`` parquet files, each generated from its
    own derived seed (bounded memory). Returns the input's Arrow bytes."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(np.int64)
    arrow_bytes = 0
    for i in range(n_files):
        tbl = gen.token_table(
            seed * 1000 + i, int(bounds[i + 1] - bounds[i]), int(bounds[i]), **shape
        )
        arrow_bytes += tbl.nbytes
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="none")
    return arrow_bytes


class Workload:
    name = ""
    # untimed full cycles before the timed loop: JIT, Python workers and
    # page cache keep warming for several cycles after the first
    warm_cycles = 1
    # timed set-up repetitions; setup_s is their median
    setup_reps = 1

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = SCALES[scale]
        self.smoke = scale == "smoke"
        self.stored_ratios: list[float] = []
        self.codecs: dict[str, str] = {}
        # (n_blocks, n_pruned, n_interior) of every timed count_where
        self.telemetry: list[tuple[int, int, int]] = []

    def prepare(self) -> None:
        """One set-up rep: generate the inputs and build the stores."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute every expected answer (untimed, once)."""
        raise NotImplementedError

    def cycle(self, c: int) -> list[Op]:
        raise NotImplementedError

    def end_cycle(self, c: int) -> None:
        pass

    def probe_input(self):
        """(token table, codecs the store chose) for the codec probe."""
        raise NotImplementedError


class Ingest(Workload):
    """Encode a seeded token batch into a fresh store, read it back."""

    name = "ingest"
    warm_cycles = 2  # its set-up runs no Spark job, so the first cycle is cold
    setup_reps = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.in_dir = os.path.join(self.work, "ingest_in")

    def prepare(self) -> None:
        shutil.rmtree(self.in_dir, ignore_errors=True)
        self.in_bytes = write_token_files(
            self.in_dir, self.seed, self.sizes["ingest_rows"], self.sizes["ingest_files"]
        )

    def expect(self) -> None:
        tbl = self.table = pq.read_table(self.in_dir)
        n_tok = tbl.column("n_tok").to_numpy()
        self.full = gen.token_fingerprint(tbl)
        self.n_tokens = self.full[1]
        rng = np.random.default_rng(self.seed + 7)
        q0 = rng.uniform(0.2, 0.7)
        lo, hi = (int(x) for x in np.quantile(n_tok, [q0, q0 + 0.05]))
        self.scan_range = ("n_tok", lo, hi)
        self.scan = gen.token_fingerprint(tbl.filter(pa.array((n_tok >= lo) & (n_tok <= hi))))

    def _store(self, c: int) -> str:
        return os.path.join(self.work, f"ingest_store_{c}")

    def cycle(self, c: int) -> list[Op]:
        from xml2arrow_spark.operators.dataset import decode_dataset, encode_parquet_dataset

        spark, store, rng = self.spark, self._store(c), self.scan_range
        return [
            Op("primary", "encode_parquet_dataset",
               lambda: encode_parquet_dataset(spark, self.in_dir, store)["rows"],
               self.full[0]),
            Op("secondary", "decode_dataset",
               lambda: fold_tokens(decode_dataset(spark, store)), self.full),
            Op("scan", "decode_dataset",
               lambda: fold_tokens(decode_dataset(
                   spark, store, zone_filter=rng, row_filter=rng)),
               self.scan),
        ]

    def end_cycle(self, c: int) -> None:
        store = self._store(c)
        if os.path.isdir(store):
            self.stored_ratios.append(tree_bytes(store) / self.in_bytes)
            if not self.codecs:
                self.codecs = store_codecs(store)
        shutil.rmtree(store, ignore_errors=True)

    def probe_input(self):
        return self.table, self.codecs


class Query(Workload):
    """Read-only aggregate and scan mix over two stores built in set-up."""

    name = "query"
    N_VARIANTS = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        w = self.work
        self.small_in, self.small = os.path.join(w, "small_in"), os.path.join(w, "small")
        self.large_in, self.large = os.path.join(w, "large_in"), os.path.join(w, "large")

    def prepare(self) -> None:
        from pyspark.sql.pandas.types import from_arrow_schema

        from xml2arrow_spark.manifest import CodecManifest
        from xml2arrow_spark.operators.dataset import encode_parquet_dataset

        for d in (self.small_in, self.small, self.large_in, self.large):
            shutil.rmtree(d, ignore_errors=True)
        li = gen.lineitem_table(self.seed, self.sizes["lineitem_orders"])
        gen.write_files(li, self.small_in, self.sizes["lineitem_files"])
        # several blocks per file over range-clustered keys: the geometry
        # where zone maps prune some blocks and claim others interior
        encode_parquet_dataset(
            self.spark, self.small_in, self.small,
            manifest=CodecManifest.auto_for(from_arrow_schema(li.schema), block_rows=8192),
        )
        self.in_bytes = write_token_files(
            self.large_in, self.seed + 1, self.sizes["large_rows"],
            self.sizes["large_files"], vocab=LARGE_VOCAB, zipf_a=None,
        )
        # wide layout: an aggregate reads only its own columns' payload,
        # so dispatch and job machinery, not the token payload, set its cost
        encode_parquet_dataset(self.spark, self.large_in, self.large, layout="wide")
        large_bytes = tree_bytes(os.path.join(self.large, "blocks"))
        if not self.smoke and large_bytes <= LOCAL_BYTES_VALVE:
            raise RuntimeError(
                f"large store is {large_bytes} bytes, not above the "
                f"{LOCAL_BYTES_VALVE}-byte local dispatch valve"
            )
        print(f"# large store {large_bytes} bytes (local dispatch valve "
              f"{LOCAL_BYTES_VALVE})", flush=True)
        self.stored_ratios = [tree_bytes(self.large) / self.in_bytes]
        self.codecs = store_codecs(self.large)

    # -- seeded query specs and their DuckDB answers -------------------------

    def expect(self) -> None:
        import duckdb

        from xml2arrow_spark.operators.dataset import any_of

        rng = np.random.default_rng(self.seed + 11)
        con = duckdb.connect()
        small = f"read_parquet('{self.small_in}/*.parquet')"
        large = f"read_parquet('{self.large_in}/*.parquet')"
        ok_max = con.execute(f"SELECT max(l_orderkey) FROM {small}").fetchone()[0]
        n_tok = pq.read_table(self.large_in, columns=["n_tok"]).column("n_tok").to_numpy()

        def q(sql):
            return [tuple(int(v) if v is not None else None for v in r)
                    for r in con.execute(sql).fetchall()]

        self.small_specs, self.large_specs, self.scan_specs = [], [], []
        for _ in range(self.N_VARIANTS):
            lo = int(rng.integers(1, ok_max // 2))
            hi = lo + int(ok_max * rng.uniform(0.1, 0.4))
            d0 = int(rng.integers(0, 2200))
            ok = f"l_orderkey BETWEEN {lo} AND {hi}"
            rk = ("l_orderkey", lo, hi)
            self.small_specs.append([
                ("count_where", dict(predicate=rk, agg_col="l_linenumber"),
                 q(f"SELECT count(*), sum(l_linenumber) FROM {small} WHERE {ok}")[0]),
                ("count_where",
                 dict(predicate=any_of(rk, [("l_shipday", d0, d0 + 300),
                                            ("l_returnflag", ["R"])])),
                 q(f"SELECT count(*) FROM {small} WHERE ({ok}) OR "
                   f"(l_shipday BETWEEN {d0} AND {d0 + 300} AND l_returnflag IN ('R'))")[0]),
                ("group_count", dict(column="l_returnflag", where=rk),
                 sorted(con.execute(
                     f"SELECT l_returnflag, count(*) FROM {small} WHERE {ok} GROUP BY 1"
                 ).fetchall())),
                ("group_sum", dict(key="l_returnflag", agg_col="l_partkey", where=rk),
                 sorted(con.execute(
                     f"SELECT l_returnflag, count(*), count(l_partkey), "
                     f"CAST(sum(l_partkey) AS BIGINT), min(l_partkey), max(l_partkey) "
                     f"FROM {small} WHERE {ok} GROUP BY 1").fetchall())),
                ("top_k", dict(column="l_partkey", k=10, where=rk),
                 [r[0] for r in q(f"SELECT l_partkey FROM {small} WHERE {ok} AND "
                                  f"l_partkey IS NOT NULL ORDER BY 1 DESC LIMIT 10")]),
            ])
            a, b = (int(x) for x in np.quantile(n_tok, sorted(rng.uniform(0.1, 0.9, 2))))
            nt = f"n_tok BETWEEN {a} AND {b}"
            rn = ("n_tok", a, b)
            self.large_specs.append([
                ("count_where", dict(predicate=rn, agg_col="n_tok"),
                 q(f"SELECT count(*), sum(n_tok) FROM {large} WHERE {nt}")[0]),
                ("group_sum", dict(key="source", agg_col="n_tok", where=rn),
                 sorted(con.execute(
                     f"SELECT source, count(*), count(n_tok), CAST(sum(n_tok) AS BIGINT), "
                     f"min(n_tok), max(n_tok) FROM {large} WHERE {nt} GROUP BY 1"
                 ).fetchall())),
            ])
            s0 = int(rng.integers(1, ok_max - ok_max // 100))
            s1 = s0 + ok_max // 100
            self.scan_specs.append((
                ("l_orderkey", s0, s1),
                q(f"SELECT count(*), sum(l_linenumber), sum(l_partkey), "
                  f"sum(l_shipday) FROM {small} WHERE l_orderkey BETWEEN {s0} AND {s1}")[0],
            ))
        con.close()

    # -- ops ---------------------------------------------------------------------

    def _agg_op(self, cls: str, store: str, api: str, kw: dict, expect) -> Op:
        from xml2arrow_spark.operators import dataset

        fn = getattr(dataset, api)
        spark = self.spark
        op = Op(cls, api, None, expect)

        def run():
            rows = fn(spark, store, **kw).collect()
            if api == "count_where":
                r = rows[0]
                op.telemetry = (r["n_blocks"], r["n_pruned"], r["n_interior"])
                return (r["n_match"], r["n_sum"]) if "agg_col" in kw else (r["n_match"],)
            if api == "top_k":
                return [r[0] for r in rows]
            return sorted(tuple(r) for r in rows)

        op.run = run
        return op

    def cycle(self, c: int) -> list[Op]:
        from xml2arrow_spark.operators.dataset import decode_dataset

        v = c % self.N_VARIANTS
        ops = [self._agg_op("primary", self.small, api, kw, exp)
               for api, kw, exp in self.small_specs[v]]
        ops += [self._agg_op("secondary", self.large, api, kw, exp)
                for api, kw, exp in self.large_specs[v]]
        spark, small = self.spark, self.small
        f, exp = self.scan_specs[v]
        ops.append(Op(
            "scan", "decode_dataset",
            lambda: tuple(int(x or 0) for x in decode_dataset(
                spark, small, zone_filter=f, row_filter=f,
            ).selectExpr("count(*)", "sum(l_linenumber)", "sum(l_partkey)",
                         "sum(l_shipday)").collect()[0]),
            exp,
        ))
        return ops

    def probe_input(self):
        return pq.read_table(os.path.join(self.large_in, "part-00000.parquet")), self.codecs


WORKLOADS = {w.name: w for w in (Ingest, Query)}
