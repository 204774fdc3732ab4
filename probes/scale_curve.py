#!/usr/bin/env python3
"""Scale curve of the medallion pipeline, layer by layer.

    python3 probes/scale_curve.py

Runs perfbench's traced ``backfill`` (bronze backlog -> silver -> gold,
checked against DuckDB) at 1x, 10x and 100x its ``devices`` size, each
in its own process with perfbench's session settings, and prints one
markdown row per size. Layer columns are perfbench's per-layer medians
over the traced operations; events/s is the median over the untraced
ones. A size that fails or runs past TIMEOUT_S is printed as failed,
with the reason.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "perfbench"))

import run  # noqa: E402

FACTORS = (1, 10, 100)
TIMEOUT_S = 20 * 60
LAYERS = ("silver.wall_ms", "gold.wall_ms", "silver.shuffle_write_mb",
          "gold.shuffle_write_mb", "silver.spill_mb", "gold.jobs")


def sizes(factor: int) -> dict:
    base = run.SIZES["backfill"]
    return {"backfill": {**base, "devices": base["devices"] * factor}}


def measure(factor: int) -> str:
    code = (
        "import sys; sys.path[:0] = ['perfbench', 'probes']; import run, scale_curve; "
        "sys.exit(run.main(['--workload', 'backfill', '--seed', '1', '--seconds', '16', "
        f"'--trace', '1'], sizes=scale_curve.sizes({factor})))"
    )
    row = f"| {factor}x | {sizes(factor)['backfill']['devices']} |"
    t0 = time.perf_counter()
    try:
        proc = subprocess.run([sys.executable, "-c", code], cwd=run.ROOT, capture_output=True,
                              text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return row + f" failed: no result within {TIMEOUT_S // 60} min |"
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2 or not lines[-2].startswith("samples "):
        return row + f" failed: exit {proc.returncode}: {proc.stderr.strip()[-300:]!r} |"
    result, raw = json.loads(lines[-1]), json.loads(lines[-2].removeprefix("samples "))
    ok = [x for x in raw["samples"] if not x["traced"] and not x["failed"]]
    events = ok[0]["events"] if ok else 0
    rate = statistics.median(x["events"] / x["wall_ms"] * 1e3 for x in ok) if ok else 0.0
    layers = " | ".join(f"{result['metrics'][k]['value']:,.1f}" for k in LAYERS)
    verdict = f"{'pass' if result['correct'] else 'FAIL'}: {result['failed']} of {result['attempted']} ops failed"
    return (row + f" {events:,} | {layers} | {rate:,.0f} | {verdict} |"
            f" {time.perf_counter() - t0:,.0f} |")


def main() -> int:
    print(f"vCPUs {os.cpu_count()}, task slots {max(1, os.cpu_count() // 2)}")
    print("| size | devices | events | " + " | ".join(LAYERS)
          + " | events/s | DuckDB check | run s |")
    print("|---" * (len(LAYERS) + 6) + "|")
    for factor in FACTORS:
        print(measure(factor), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
