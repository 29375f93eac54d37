#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

One closed loop with one client: the driver thread calls the engine's
public API and waits for each call. The run starts a local Spark session
sized to this host, sets up the workload (timed, ``setup_reps`` times),
warms up untimed, then runs whole op cycles until ``--seconds`` have
passed. Every answer is checked against an expected answer computed
untimed during set-up. Human-readable detail goes to stdout first; the
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Everything the run writes goes under ``.perfbench_work/`` (removed at
exit) and, for traced runs, the span file under ``.perfbench_out/``.
``--scale smoke`` shrinks every input for the self-test in ``smoke.py``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import CLASSES  # noqa: E402


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:6.1f} s] {msg}", flush=True)


def start_spark(work: str, event_log: str | None):
    """Local session sized to this host: one slot per core, UI and console
    progress off, every temp and log directory inside ``work``."""
    from xml2arrow_spark.env import set_kernel_malloc_env

    set_kernel_malloc_env()
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", "4g")
        # JVM temp files and no hsperfdata file under /tmp: the run writes only
        # inside its checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "512k")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process
    (the JVM and its Python workers) to end."""
    from perfbench.trace import descendants

    gateway = spark.sparkContext._gateway
    spark.stop()
    procs = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    for pid in procs:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    k = n - 11  # index with exactly ten samples above it
    return 100.0 * (k + 1) / n, s[k]


def run_loop(wl, tracer, seconds: float, warm: bool, sabotage: bool = False):
    """Whole op cycles until ``seconds`` have passed (at least one); with
    ``warm``, the workload's ``warm_cycles`` untimed cycles instead.
    ``sabotage`` replaces the first op's expected answer with one no
    engine can return, to show that the checks count a wrong answer."""
    from perfbench.trace import TreeCpu

    samples = {c: [] for c in CLASSES}
    cpu = {c: [] for c in CLASSES}
    tree = TreeCpu()
    by_api: dict[str, list[float]] = {}
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    c = -wl.warm_cycles if warm else 0
    while True:
        ops = wl.cycle(c)
        if sabotage and c == 0:
            ops[0].expect = ("sabotaged",)
        tree.refresh()
        for op in ops:
            attempted += 1
            ok = True
            c0 = tree.seconds()
            with tracer.op(op.cls, op.api, warm):
                t0 = time.perf_counter()
                try:
                    answer = op.run()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                dt = time.perf_counter() - t0
            dc = tree.seconds() - c0
            if ok and answer != op.expect:
                print(f"WRONG ANSWER {op.cls}/{op.api}: got {answer!r}, "
                      f"expected {op.expect!r}", file=sys.stderr)
                ok = False
            if not ok:
                failed += 1
            elif not warm:
                samples[op.cls].append(dt)
                cpu[op.cls].append(dc)
                by_api.setdefault(f"{op.cls}/{op.api}", []).append(dt)
                if op.telemetry:
                    wl.telemetry.append(op.telemetry)
        wl.end_cycle(c)
        c += 1
        done = c == 0 if warm else time.perf_counter() >= deadline
        if done:
            return samples, cpu, by_api, attempted, failed


def main(argv=None) -> int:
    from perfbench.workloads import SCALES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--sabotage", action="store_true",
                    help="corrupt one expected answer (self-test of the checks)")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # executor-side Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is using it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    from perfbench.trace import RssSampler, Tracer, codec_probe, parse_event_log
    from perfbench.workloads import TOKEN_COLUMNS, WORKLOADS

    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    with RssSampler() as rss:
        spark = start_spark(work, event_log)
        try:
            log(f"session start {time.perf_counter() - T_START:.2f} s")
            tracer = Tracer(bool(args.trace), spark.sparkContext)
            tracer.install()
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
            reps = []
            for _ in range(wl.setup_reps):
                t0 = time.perf_counter()
                with tracer.span("setup"):
                    wl.prepare()
                reps.append(time.perf_counter() - t0)
            log("setup reps " + " ".join(f"{r:.2f}" for r in reps) + " s")
            wl.expect()
            log("expected answers computed")
            *_, w_att, w_fail = run_loop(wl, tracer, 0, warm=True)
            log("warm-up done")
            t0 = time.perf_counter()
            samples, cpu, by_api, attempted, failed = run_loop(
                wl, tracer, args.seconds, warm=False, sabotage=args.sabotage)
            loop_s = time.perf_counter() - t0
            probe = None
            if args.trace:
                table, codecs = wl.probe_input()
                probe = codec_probe(table, {c: codecs[c] for c in TOKEN_COLUMNS},
                                    block_rows=min(8192, table.num_rows // 2))
                log("codec probe: " + " ".join(
                    f"{c}={v['codec']}" for c, v in probe.items()))
        finally:
            tracer.uninstall()
            stop_spark(spark)
            log("spark stopped")
    attempted += w_att
    failed += w_fail
    # a class with no correct op reads 0; the run is then marked incorrect
    p50 = {c: statistics.median(v) * 1e3 if v else 0.0 for c, v in samples.items()}
    cpu50 = {c: statistics.median(v) * 1e3 if v else 0.0 for c, v in cpu.items()}
    log(f"{args.workload}: {attempted} ops in {loop_s:.1f} s loop, {failed} failed "
        f"(op_fail_frac {failed / attempted:.4f}), peak rss {rss.peak / 2**20:.0f} MB")
    for c, v in samples.items():
        t = tail([x * 1e3 for x in v])
        log(f"  {c:9s} n={len(v):3d} p50={p50[c]:.1f} ms"
            + (f" p{t[0]:.0f}={t[1]:.1f} ms" if t else " (too few samples for a tail)")
            + " [" + " ".join(f"{x * 1e3:.0f}" for x in v) + "]"
            + f" cpu p50={cpu50[c]:.0f} ms [" + " ".join(f"{x * 1e3:.0f}" for x in cpu[c]) + "]")
    for api, v in sorted(by_api.items()):
        log(f"  {api:32s} n={len(v):3d} p50={statistics.median(v) * 1e3:.1f} ms")
    if args.workload == "ingest" and samples["primary"]:
        tok = wl.n_tokens
        log(f"  encode_tok_per_s={tok / statistics.median(samples['primary']):.0f} "
            f"decode_tok_per_s={tok / statistics.median(samples['secondary']):.0f}")
    if args.trace:
        from perfbench.layers import per_layer

        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        metrics = per_layer(wl, tracer, parse_event_log(event_log), probe, p50, cpu50)
        log("event log parsed")
        for name, (value, unit) in metrics.items():
            log(f"  {name} = {value:.6g} {unit}")
    else:
        metrics = {
            "setup_s": (statistics.median(reps), "s"),
            "primary_cpu_ms": (cpu50["primary"], "ms"),
            "secondary_cpu_ms": (cpu50["secondary"], "ms"),
            "scan_cpu_ms": (cpu50["scan"], "ms"),
            "stored_bytes_per_input_byte": (statistics.median(wl.stored_ratios), "ratio"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "xml2arrow_spark")):
        print(f"no xml2arrow_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
