#!/usr/bin/env python
"""Codec-kernel timing grid: bit-(un)pack and the integer decoders that ride it.

Times, per value, each of ``pack`` (``codecs/bitpack.py::pack_uint``),
``unpack`` (``unpack_uint``) and the ``decode_pdict``, ``decode_pfor`` and
``decode_for`` codecs (through ``codecs.decode_values``) over a grid of
bit width x value count. Every cell gets one untimed warm-up call, then
the best of ``--reps`` timed calls. Inputs come from one fixed seed per
cell, so two checkouts time the same values:

- pack / unpack: uniform values of exactly ``width`` bits;
- for: the same values as an int32 (width <= 30) or int64 stream;
- pfor: the same values with 1 % outliers 8 bits wider (at most 62 bits);
- pdict: Zipf(1.2) values over a ``width``-bit range (``w_exc`` = width).

``--match`` times the predicate kernels instead: ``match_mask``
(``operators/blocks.py::match_mask_column``) and ``match_decode``
(``match_decode_column``) over one 8,192-row block of each code-stream
codec (``dict``, ``rle``, ``pdict``, ``dict_str``), without and with 1 in
8 rows NULL, for an IN-list of 4 of the block's 64 distinct values (about
1 row in 16 matches; ``pdict`` also holds 1 % exceptions).

Run on one checkout, it prints one JSON object (``cell -> ns/value``).
With ``--compare``, it times each named checkout in its own interpreter,
alternating the checkouts for ``--rounds`` rounds so both see the same
machine window, keeps each cell's best round, and writes a markdown table.

Usage:
  python tools/kernel_bench.py [--root CHECKOUT] [--reps 5] [--quick|--match]
  python tools/kernel_bench.py --compare parent=/path/a change=. \\
      [--rounds 2] [--match] [--markdown BENCH/KERNELS.md]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

WIDTHS = (1, 3, 6, 8, 11, 13, 17, 20, 25, 31, 40, 57, 63)
SIZES = (5_000, 65_536, 1_190_000)
OPS = ("pack", "unpack", "decode_pdict", "decode_pfor", "decode_for")
MATCH_OPS = ("match_mask", "match_decode")
MATCH_CODECS = ("dict", "rle", "pdict", "dict_str")
MATCH_ROWS = 8_192
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _values(op: str, width: int, n: int):
    import numpy as np

    rng = np.random.default_rng(width * 1_000_003 + n)
    hi = (1 << width) - 1
    v = rng.integers(0, hi, n, dtype=np.uint64, endpoint=True)
    v[0] = hi
    if op in ("pack", "unpack"):
        return v
    dtype = np.int32 if width <= 30 else np.int64
    if op == "decode_pdict":
        z = np.minimum(rng.zipf(1.2, n), hi) - 1
        z[0] = hi
        return z.astype(dtype)
    if op == "decode_pfor":
        wide = (1 << min(width + 8, 62)) - 1
        v[rng.choice(n, max(1, n // 100), replace=False)] = max(wide, hi)
    return v.astype(dtype)


def _cell(op: str, width: int, n: int, reps: int) -> float:
    from xml2arrow_spark.codecs import bitpack, decode_values, encode_values

    values = _values(op, width, n)
    if op == "pack":
        fn, args = bitpack.pack_uint, (values, width)
    elif op == "unpack":
        fn, args = bitpack.unpack_uint, (bitpack.pack_uint(values, width), n, width)
    else:
        fn, args = decode_values, encode_values(op.split("_", 1)[1], values)
    fn(*args)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best * 1e9 / n


def _match_block(codec: str, nulls: bool):
    """One encoded ``codec`` block of MATCH_ROWS rows over 64 distinct
    values, and an IN-list of 4 of them."""
    import numpy as np
    import pyarrow as pa

    from xml2arrow_spark.operators.blocks import encode_column

    n = MATCH_ROWS
    rng = np.random.default_rng(MATCH_CODECS.index(codec) * 2 + nulls)
    domain = np.sort(rng.choice(1 << 20, 64, replace=False)).astype(np.int64)
    if codec == "rle":
        slots = np.repeat(rng.integers(0, 64, n // 32), 32)
    else:
        slots = rng.integers(0, 64, n)
    values = domain[slots]
    if codec == "pdict":  # 1 % exceptions outside the top values
        values[rng.choice(n, n // 100, replace=False)] = rng.integers(
            1 << 20, (1 << 22) - 1, n // 100)
    wanted = domain[[3, 17, 40, 58]].tolist()
    if codec == "dict_str":
        values = np.array([f"v{v:07d}" for v in values], dtype=object)
        wanted = [f"v{v:07d}" for v in wanted]
    arr = pa.array(values.tolist(), mask=(
        np.arange(n) % 8 == 5 if nulls else None))
    _, meta, data = encode_column(arr, codec)
    m = json.loads(meta)
    got = (m.get("values_meta") or m.get("str_meta") or {}).get("codec")
    assert got == codec, (codec, got)
    return meta, data, wanted


def _match_cell(op: str, codec: str, nulls: bool, reps: int) -> float:
    from xml2arrow_spark.operators import blocks

    meta, data, wanted = _match_block(codec, nulls)
    fn = blocks.match_mask_column if op == "match_mask" else blocks.match_decode_column
    args = (meta, data, wanted, None, None)
    assert fn(*args) is not None
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best * 1e9 / MATCH_ROWS


def measure_match(reps: int) -> dict:
    return {
        f"{op}|{codec}{'+nulls' if nulls else ''}|{MATCH_ROWS}":
            _match_cell(op, codec, nulls, reps * 4)
        for codec in MATCH_CODECS for nulls in (False, True) for op in MATCH_OPS
    }


def measure(reps: int, sizes, widths) -> dict:
    out = {}
    for n in sizes:
        r = reps if n >= 1_000_000 else reps * 4
        for width in widths:
            for op in OPS:
                out[f"{op}|{width}|{n}"] = _cell(op, width, n, r)
    return out


def compare(trees: dict, rounds: int, reps: int, flags: list) -> dict:
    best: dict = {name: {} for name in trees}
    for _ in range(rounds):
        for name, root in trees.items():
            cmd = [sys.executable, os.path.abspath(__file__), "--root", root,
                   "--reps", str(reps)] + flags
            got = json.loads(subprocess.run(
                cmd, check=True, capture_output=True, text=True).stdout)
            for cell, ns in got.items():
                best[name][cell] = min(ns, best[name].get(cell, float("inf")))
    return best


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.machine()


def markdown(best: dict, rounds: int, reps: int, flags: list) -> str:
    names = list(best)
    first = best[names[0]]
    host = f"{os.cpu_count()}-core {_cpu_model()}"
    lines = [
        "# BENCH/KERNELS.md — codec-kernel ns per value",
        "",
        f"Generated by `python tools/kernel_bench.py --compare "
        f"{' '.join(f'{n}=...' for n in names)} --rounds {rounds} --reps {reps}"
        f"{''.join(' ' + f for f in flags)}` "
        f"on a {host} host, one Python process per checkout, the checkouts "
        f"alternated for {rounds} rounds in one window; each cell is its best "
        f"round's best-of-{reps} (x4 below 1 M values) after one warm-up call. "
        "Lower is better; the last column is "
        f"{names[0]} / {names[-1]} (\"view\": a zero-copy result, under "
        "0.05 ns/value).",
        "",
        "| op | width or codec | n | " + " | ".join(f"{n} ns/v" for n in names)
        + " | speed-up |",
        "|---|---:|---:|" + "---:|" * (len(names) + 1),
    ]
    for cell in first:
        op, width, n = cell.split("|")
        vals = [best[name][cell] for name in names]
        lines.append(
            f"| {op} | {width} | {int(n):,} | "
            + " | ".join(f"{v:.1f}" for v in vals)
            + (f" | {vals[0] / vals[-1]:.2f}x |" if vals[-1] >= 0.05 else " | view |")
        )
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=REPO, help="checkout to import the engine from")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--quick", action="store_true", help="n = 65,536 only")
    ap.add_argument("--match", action="store_true",
                    help="time the predicate kernels per code-stream codec")
    ap.add_argument("--compare", nargs="+", metavar="NAME=CHECKOUT")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--markdown", help="write the comparison table here")
    args = ap.parse_args(argv)
    if args.compare:
        trees = dict(t.split("=", 1) for t in args.compare)
        flags = ["--quick"] * args.quick + ["--match"] * args.match
        text = markdown(compare(trees, args.rounds, args.reps, flags),
                        args.rounds, args.reps, flags)
        if args.markdown:
            with open(args.markdown, "w") as f:
                f.write(text)
        print(text)
        return 0
    sys.path.insert(0, os.path.abspath(args.root))
    if args.match:
        print(json.dumps(measure_match(args.reps)))
        return 0
    sizes = (65_536,) if args.quick else SIZES
    print(json.dumps(measure(args.reps, sizes, WIDTHS)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
