"""Steadiness check: run one workload repeatedly, each run with another
seed, and print each metric's median, quartiles and spread (IQR as a share
of the median). The bounds in BENCHMARK.json come from this output.

    python3 perfbench/steady.py --workload text --seeds 1-10 --seconds 10
    python3 perfbench/steady.py --workload text --seeds 1-3 --seconds 10 --trace

With ``--trace`` every seed is run untraced and then traced, and the
traced run prints its overhead against the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, f"{HERE}/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        if line.startswith(("trace overhead", "measured")):
            print(f"  seed {seed}: {line}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    shares = []
    for seed in parse_seeds(a.seeds):
        res = run_once(a.workload, seed, a.seconds, 0)
        shares.append(res["failed"] / res["attempted"])
        print(f"  seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        if a.trace:
            run_once(a.workload, seed, a.seconds, 1)
    print(f"{a.workload}: {len(shares)} runs, failed share per run {sorted(set(shares))}")
    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else 0.0
        print(f"{a.workload}: {name} median {med:.6g} {units[name]} "
              f"q1 {q1:.6g} q3 {q3:.6g} spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
