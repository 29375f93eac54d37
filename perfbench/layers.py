"""Per-layer metrics of a traced run, from the benchmark's spans, the
Spark event log and the codec probe.

A metric of a layer the workload never calls reads 0 (no time spent, no
work done there), so every traced run reports the same names."""

from __future__ import annotations

import statistics

from perfbench.trace import union_len
from perfbench.workloads import CLASSES, DATASET_APIS, TOKEN_COLUMNS

SPARK_FIELDS = (
    ("jobs_per_op", "jobs", "count"),
    ("stages_per_op", "stages", "count"),
    ("tasks_per_op", "tasks", "count"),
    ("executor_run_s", "run_s", "s"),
    ("executor_cpu_s", "cpu_s", "s"),
    ("gc_s", "gc_s", "s"),
    ("launch_tail_s", "launch_tail_s", "s"),
    ("shuffle_bytes", "shuffle_bytes", "bytes"),
    ("python_sent_bytes", "py_sent", "bytes"),
    ("python_recv_bytes", "py_recv", "bytes"),
    ("python_run_s", "py_run_s", "s"),
)
CODEC_FIELDS = (
    ("encode_ns_per_value", "ns"),
    ("decode_ns_per_value", "ns"),
    ("bytes_per_value", "bytes"),
)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer (name, unit), in report order."""
    names = [
        (f"codecs.{f}.{col}", unit)
        for f, unit in CODEC_FIELDS for col in TOKEN_COLUMNS
    ]
    names += [
        ("manifest.resolve_s", "s"),
        ("sources.file_infos_s", "s"),
        ("sources.file_infos_calls_per_op", "count"),
        ("sources.files_per_op", "count"),
    ]
    names += [(f"operators.dataset.{api}_s", "s") for api in DATASET_APIS]
    names += [
        ("operators.dataset.blocks_pruned_frac", "fraction"),
        ("operators.dataset.blocks_interior_frac", "fraction"),
    ]
    names += [(f"operators.dataset.local_path_frac.{c}", "fraction") for c in CLASSES]
    names += [(f"spark.{f}.{c}", unit) for f, _k, unit in SPARK_FIELDS for c in CLASSES]
    names += [(f"driver.{f}.{c}", unit) for f, unit in (
        ("py4j_calls_per_op", "count"), ("cpu_s", "s"), ("local_s", "s"),
    ) for c in CLASSES]
    names += [(f"trace.{c}_{m}", "ms") for m in ("p50_ms", "cpu_ms") for c in CLASSES]
    return names


def per_layer(wl, tracer, groups: dict, probe: dict, p50_ms: dict, cpu_ms: dict) -> dict:
    """{name: (value, unit)} for every name in :func:`metric_names`."""
    ops = [s for s in tracer.spans if "op_id" in s and not s["warm"]]
    kids = [s for s in tracer.spans if "op_id" not in s]
    values: dict[str, float] = {}

    for col in TOKEN_COLUMNS:
        for f, _unit in CODEC_FIELDS:
            values[f"codecs.{f}.{col}"] = probe[col][f]

    def dur(s):
        return s["end"] - s["start"]

    values["manifest.resolve_s"] = _median(
        dur(s) for s in kids if s["name"] == "manifest.resolve")
    infos = [s for s in kids if s["name"] == "sources.file_infos"]
    values["sources.file_infos_s"] = _median(dur(s) for s in infos)
    in_op = {o["op_id"]: [s for s in infos if s["parent"] == o["op_id"]] for o in ops}
    values["sources.file_infos_calls_per_op"] = _mean(len(v) for v in in_op.values())
    values["sources.files_per_op"] = _mean(
        sum(s.get("n", 0) for s in v) for v in in_op.values())

    for api in DATASET_APIS:
        values[f"operators.dataset.{api}_s"] = _median(
            dur(o) for o in ops if o["name"] == api)
    blocks = sum(t[0] for t in wl.telemetry)
    values["operators.dataset.blocks_pruned_frac"] = (
        sum(t[1] for t in wl.telemetry) / blocks if blocks else 0.0)
    values["operators.dataset.blocks_interior_frac"] = (
        sum(t[2] for t in wl.telemetry) / blocks if blocks else 0.0)

    empty = {k: 0 for _f, k, _u in SPARK_FIELDS} | {"spans": []}
    for c in CLASSES:
        cls_ops = [o for o in ops if o["cls"] == c]
        g = [groups.get(o["op_id"], empty) for o in cls_ops]
        values[f"operators.dataset.local_path_frac.{c}"] = _mean(
            float(x["jobs"] == 0) for x in g)
        for f, k, _unit in SPARK_FIELDS:
            values[f"spark.{f}.{c}"] = _mean(x[k] for x in g)
        values[f"driver.py4j_calls_per_op.{c}"] = _mean(o["py4j"] for o in cls_ops)
        values[f"driver.cpu_s.{c}"] = _mean(o["cpu"] for o in cls_ops)
        values[f"driver.local_s.{c}"] = _mean(
            dur(o) - union_len(
                (max(a, o["start"]), min(b, o["end"]))
                for a, b in x["spans"] if min(b, o["end"]) > max(a, o["start"])
            )
            for o, x in zip(cls_ops, g)
        )
        values[f"trace.{c}_p50_ms"] = p50_ms[c]
        values[f"trace.{c}_cpu_ms"] = cpu_ms[c]

    return {name: (values[name], unit) for name, unit in metric_names()}
