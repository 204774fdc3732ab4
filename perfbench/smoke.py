#!/usr/bin/env python3
"""Smoke check of the benchmark at minimal size.

    python3 perfbench/smoke.py

Runs every workload untraced and traced on tiny inputs, each in its own
process, and asserts that every metric prints with its unit, that the
output checks pass, that the generator writes the same bytes for a seed
in two processes and other bytes for another seed, and that the planted
counts match the DuckDB recomputation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SIZES = {
    "backfill": {"devices": 20, "minutes": 300, "warmup": 1, "warmup_full": 1},
    "hourly": {"devices": 20, "history_hours": 2, "warmup": 1},
}


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(result line, raw samples line) of one small run."""
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import run, smoke; "
        f"sys.exit(run.main(['--workload', '{workload}', '--seed', '{seed}', "
        f"'--seconds', '1', '--trace', '{trace}'], sizes=smoke.SIZES))"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=run.ROOT, capture_output=True,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} seed {seed} trace {trace} exited {proc.returncode}:\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2].removeprefix("samples "))


def main() -> int:
    for workload in sorted(run.WORKLOADS):
        digests = {}
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            result, raw = bench(workload, seed, trace)
            units = run.PER_LAYER if trace else run.END_TO_END
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == units, (workload, trace, got)
            assert all(isinstance(v["value"], float) for v in result["metrics"].values()), result
            setup = raw["setup"]
            if "planted" in setup:
                p = setup["planted"]
                assert setup["expected_silver_rows"] == p["events"] - p["oor"], setup
            digests.setdefault(seed, set()).add(setup["generator_digest"])
            print(f"ok {workload} seed={seed} trace={trace} attempted={result['attempted']}")
        assert len(digests[1]) == 1, f"{workload}: seed 1 bytes differ between processes"
        assert digests[1] != digests[2], f"{workload}: seeds 1 and 2 give the same bytes"
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
