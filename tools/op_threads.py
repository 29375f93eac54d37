#!/usr/bin/env python
"""Split each benchmark op's process-tree CPU by the threads that spend it.

    python tools/op_threads.py --workload query --seed 7          # one checkout, one JSON line
    python tools/op_threads.py --workload query --seed 7 \\
        --compare parent=/path/to/other/checkout change=. --runs 3 \\
        --markdown BENCH/OP_THREADS.md                            # alternate two checkouts

One run starts the benchmark's Spark session (``perfbench/run.py``'s
``start_spark``), sets up a ``perfbench`` workload, runs ``--warm`` untimed
op cycles and then ``--cycles`` measured ones. Around every op it reads
``/proc`` for this process and every process below it (nothing else) and
charges the op's CPU (user + system) to one of these parts:

- ``jit``: the JVM's C1/C2 compiler threads (and the code-cache sweeper)
- ``py4j``: the JVM's py4j gateway threads (unnamed ``Thread-N``: py4j's
  server and one per driver connection)
- ``task``: executor task threads (``Executor task launch worker ...``)
- ``gc``: GC worker, G1 concurrent and VM threads
- ``sched``: every other JVM thread (DAG scheduler, result getters, RPC
  dispatchers, listener bus, AQE stage creators, ...), plus whatever
  threads ended during the op
- ``python``: the Python worker processes (the ``pyspark.daemon`` and its
  forked workers, including the reaped ones)
- ``driver``: this Python process

The parts sum to the op's process-tree CPU. The kernel counts CPU in
ticks (10 ms here), per thread and per process, so a part can read a tick
off, and ``sched`` (the JVM's total less its live threads) can read
slightly negative. ``jobs`` is the number of
Spark jobs the op ran (a job group per op), and ``daemons`` the number of
``pyspark.daemon`` processes the JVM has running after it: Spark keeps one
Python worker pool per worker env, so a job whose env differs from the
others' (an RDD beside ``mapInArrow``) shows as a second daemon. Each
figure is the median over the measured cycles, in ms, per op
(``class/api``).

With ``--compare``, each checkout runs in its own child process, in
alternating order, ``--runs`` times; the markdown table gives the median
of the per-run medians. The engine and ``perfbench`` are imported from the
checkout under test, which is also the run's working directory (PySpark's
Python workers import from the driver's working directory first); the work
directory (``.op_threads_work/`` in that checkout) is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

PARTS = ("jit", "py4j", "task", "gc", "sched", "python", "driver")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) of one /proc stat file."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if children else 13])


def _thread_part(name: str) -> str:
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre", "Sweeper")):
        return "jit"
    if name.startswith("Thread-"):
        return "py4j"
    if name.startswith("Executor task"):
        return "task"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "sched"


def snapshot(descendants) -> dict[str, int]:
    """CPU ticks so far per part, over this process and its descendants.
    JVM threads are read one by one, and ``sched`` also takes the JVM's
    CPU that no live thread accounts for (threads that have ended)."""
    out = dict.fromkeys(PARTS, 0)
    me = os.getpid()
    for pid in descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                total = _ticks(f"/proc/{pid}/stat", False)
                seen = 0
                for tid in os.listdir(f"/proc/{pid}/task"):
                    try:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            name = f.read().strip()
                        t = _ticks(f"/proc/{pid}/task/{tid}/stat", False)
                    except OSError:
                        continue
                    out[_thread_part(name)] += t
                    seen += t
                out["sched"] += total - seen
            elif comm.startswith("python"):
                out["python"] += _ticks(f"/proc/{pid}/stat", True)
        except OSError:
            continue
    out["driver"] = _ticks(f"/proc/{me}/stat", False)
    return out


def daemons(descendants) -> int:
    """The live ``pyspark.daemon`` processes below this one whose parent
    is the JVM (their forked workers share the command line)."""
    n = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            with open(f"/proc/{ppid}/comm") as f:
                n += f.read().strip() == "java"
        except OSError:
            continue
    return n


def run_one(args) -> dict:
    """Set up the workload in this process and measure its ops, from the
    checkout's directory: PySpark starts its Python workers in the
    driver's working directory and puts it first on their ``sys.path``,
    so run elsewhere the executors would import that directory's
    engine."""
    root = os.path.abspath(args.checkout)
    os.chdir(root)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(root, ".op_threads_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    from perfbench.run import start_spark, stop_spark
    from perfbench.trace import descendants
    from perfbench.workloads import WORKLOADS

    spark = start_spark(work, None)
    sc = spark.sparkContext
    samples: dict[str, dict[str, list[float]]] = {}
    failed = 0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, "full")
        wl.prepare()
        wl.expect()
        for c in range(-args.warm, args.cycles):
            for k, op in enumerate(wl.cycle(c)):
                group = f"op-threads-{c}-{k}"
                sc.setJobGroup(group, group)
                before = snapshot(descendants)
                try:
                    ok = op.run() == op.expect
                except Exception:  # counted, left out of the samples
                    ok = False
                after = snapshot(descendants)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                failed += not ok
                if c < 0 or not ok:
                    continue
                row = {p: (after[p] - before[p]) * 1e3 / CLK_TCK for p in PARTS}
                row["total"] = sum(row[p] for p in PARTS)
                row["jobs"] = jobs
                row["daemons"] = daemons(descendants)
                per = samples.setdefault(f"{op.cls}/{op.api}", {})
                for key, v in row.items():
                    per.setdefault(key, []).append(v)
            wl.end_cycle(c)
        sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    import xml2arrow_spark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "engine": os.path.dirname(xml2arrow_spark.__file__),
        "failed": failed,
        "ops": {
            op: {k: statistics.median(v) for k, v in per.items()}
            for op, per in sorted(samples.items())
        },
    }


def compare(args) -> None:
    arms = dict(a.split("=", 1) for a in args.compare)
    results: dict[str, list[dict]] = {name: [] for name in arms}
    for r in range(args.runs):
        order = list(arms) if r % 2 == 0 else list(arms)[::-1]
        for name in order:
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--checkout", os.path.abspath(arms[name]),
                   "--workload", args.workload,
                   "--seed", str(args.seed), "--cycles", str(args.cycles),
                   "--warm", str(args.warm)]
            t0 = time.time()
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=1800)
            lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
            if not lines:
                raise RuntimeError(f"{name} run failed:\n{out.stderr[-3000:]}")
            res = json.loads(lines[-1])
            results[name].append(res)
            print(f"# run {r} {name}: {time.time() - t0:.0f} s, "
                  f"{res['failed']} failed ops", flush=True)
    table = {
        name: {
            op: {k: statistics.median(run["ops"][op][k] for run in runs)
                 for k in runs[0]["ops"][op]}
            for op in runs[0]["ops"]
        }
        for name, runs in results.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "runs": args.runs, "table": table}))
    if args.markdown:
        lines = [
            f"### `{args.workload}` (seed {args.seed}, {args.warm} warm-up + "
            f"{args.cycles} measured cycles, median of {args.runs} runs per "
            f"checkout, alternating)",
            "",
            "| op | checkout | total | " + " | ".join(PARTS)
            + " | jobs | daemons |",
            "|---|---|---|" + "---|" * len(PARTS) + "---|---|",
        ]
        for op in table[next(iter(table))]:
            for name in table:
                row = table[name][op]
                lines.append(
                    f"| {op} | {name} | {row['total']:.0f} | "
                    + " | ".join(f"{row[p]:.0f}" for p in PARTS)
                    + f" | {row['jobs']:g} | {row['daemons']:g} |"
                )
        with open(args.markdown, "a") as f:
            f.write("\n".join(lines) + "\n\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cycles", type=int, default=8)
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--checkout", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--compare", nargs="+", metavar="NAME=DIR")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--markdown", help="append the comparison table here")
    args = ap.parse_args()
    if args.compare:
        compare(args)
    else:
        print(json.dumps(run_one(args)))


if __name__ == "__main__":
    main()
