"""Tracing for the benchmark's traced run, plus the memory sampler.

Everything here is measured from OUTSIDE the engine: the benchmark records
a span around each of its own calls into the engine's public API, wraps a
few public driver-side functions and the py4j command channel from this
file, and reads Spark's plain JSON event log after the session stops.
Nothing under ``xml2arrow_spark/`` is modified.

Spans live in memory and are written out once, at exit.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")

# engine functions whose driver-side calls the traced run times, as
# (module, attribute, span name); each module looks the name up at call
# time (function-local import or module global), so a module-attribute
# wrapper sees every call
WRAPPED = (
    ("xml2arrow_spark.sources.files", "parquet_file_infos", "sources.file_infos"),
    ("xml2arrow_spark.operators.encode", "resolve_manifest_parquet", "manifest.resolve"),
    ("xml2arrow_spark.operators.dataset", "resolve_manifest_parquet", "manifest.resolve"),
)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


CLK_TCK = os.sysconf("SC_CLK_TCK")


class TreeCpu:
    """CPU seconds used so far by this process and every process below it
    (user + system, including reaped children), from ``/proc``. The pid
    list is cached; :meth:`refresh` re-walks the tree."""

    def __init__(self):
        self.refresh()

    def refresh(self) -> None:
        self.pids = [os.getpid(), *descendants(os.getpid())]

    def seconds(self) -> float:
        ticks = 0
        for p in self.pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / CLK_TCK


class RssSampler:
    """Peak summed RSS of this process and every process below it (the
    Spark JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans per op (name, start, end, parent, op id) and per-op counters.

    Disabled, every method is a no-op apart from yielding, so the untraced
    run pays nothing for it."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._op: dict | None = None
        self._n = 0
        self._undo: list = []

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        import importlib

        from py4j.clientserver import ClientServerConnection

        tracer = self
        orig_send = ClientServerConnection.send_command

        def send_command(conn, command):
            tracer.py4j_calls += 1
            return orig_send(conn, command)

        ClientServerConnection.send_command = send_command
        self._undo.append(
            lambda: setattr(ClientServerConnection, "send_command", orig_send)
        )
        for mod_name, attr, span in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, span))
            self._undo.append(lambda m=mod, a=attr, o=orig: setattr(m, a, o))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _wrap(self, fn, name):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["n"] = len(out)
                return out

        return wrapped

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, cls: str, api: str, warm: bool = False):
        """One closed-loop op: its own Spark job group, one span, and the
        py4j command and driver-thread CPU deltas. ``warm`` marks a
        warm-up op, which the per-layer report leaves out."""
        if not self.enabled:
            yield None
            return
        self._n += 1
        op_id = f"op{self._n:05d}"
        self.sc.setJobGroup(op_id, f"{cls}:{api}")
        rec = {
            "name": api, "cls": cls, "op_id": op_id, "parent": None, "warm": warm,
            "start": time.time(), "py4j": -self.py4j_calls,
            "cpu": -time.thread_time(),
        }
        self._op = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] += self.py4j_calls
            rec["cpu"] += time.thread_time()
            self._op = None
            self.spans.append(rec)
            self.sc.setJobGroup("idle", "between ops")

    @contextlib.contextmanager
    def span(self, name: str):
        """A child span inside the current op (or a root span outside one,
        e.g. during set-up)."""
        rec = {"name": name, "start": time.time()}
        if not self.enabled:
            yield rec
            return
        parent = self._op
        rec["parent"] = parent["op_id"] if parent else None
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)


# -- Spark event log ---------------------------------------------------------


def union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor time, GC, shuffle and
    Python-boundary bytes, job spans and launch/tail time. Times in s."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1e3,
                        "stages": list(e.get("Stage IDs", ())),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(e["Stage ID"], []).append(e)
    groups: dict[str, dict] = {}
    for j in jobs.values():
        g = groups.setdefault(j["group"], {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0.0, "py_sent": 0.0, "py_recv": 0.0,
            "py_run_s": 0.0, "launch_tail_s": 0.0, "spans": [],
        })
        end = j.get("end", j["start"])
        g["jobs"] += 1
        g["spans"].append((j["start"], end))
        task_iv = []
        ran_stages = 0
        for s in j["stages"]:
            ts = tasks.get(s, ())
            ran_stages += bool(ts)
            for t in ts:
                info, m = t["Task Info"], t.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                g["py_sent"] += _acc(info, "data sent to Python workers")
                g["py_recv"] += _acc(info, "data returned from Python workers")
                g["py_run_s"] += _acc(info, "time to run Python workers") / 1e3
                task_iv.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
        g["stages"] += ran_stages
        g["launch_tail_s"] += (end - j["start"]) - union_len(
            (max(a, j["start"]), min(b, end)) for a, b in task_iv if b > a
        )
    return groups


# -- codec kernels -------------------------------------------------------------


def codec_probe(table, codecs: dict[str, str], block_rows: int,
                n_blocks: int = 2, reps: int = 3) -> dict[str, dict]:
    """Driver-side ns/value and bytes/value of each column's codec, on
    blocks cut from the workload's own input with the codecs the store's
    manifest chose. Two untimed passes first: cold numpy probes pay
    first-touch page faults that a running encode does not."""
    import pyarrow as pa

    from xml2arrow_spark.operators.blocks import decode_column, encode_column

    out = {}
    for col, codec in codecs.items():
        arrs = [
            table.column(col).slice(i * block_rows, block_rows).combine_chunks()
            for i in range(n_blocks)
        ]
        n_values = sum(
            len(a.flatten()) if pa.types.is_list(a.type) else len(a) for a in arrs
        )
        enc_t, dec_t, nbytes, chosen = [], [], 0, codec
        for rep in range(reps + 2):
            t0 = time.perf_counter()
            encoded = [encode_column(a, codec) for a in arrs]
            t1 = time.perf_counter()
            for _c, meta, payload in encoded:
                decode_column(meta, payload)
            t2 = time.perf_counter()
            if rep >= 2:
                enc_t.append(t1 - t0)
                dec_t.append(t2 - t1)
            nbytes = sum(len(p) for _c, _m, p in encoded)
            chosen = encoded[0][0]
        out[col] = {
            "codec": chosen,
            "encode_ns_per_value": statistics.median(enc_t) * 1e9 / n_values,
            "decode_ns_per_value": statistics.median(dec_t) * 1e9 / n_values,
            "bytes_per_value": nbytes / n_values,
        }
    return out
