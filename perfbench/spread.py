#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule
computes it: for each metric, the distance between the first and third
quartile of its values over N seeds, as a share of their median.

    python3 perfbench/spread.py --workload llm_graph --seeds 1-10 [--seconds 20]

Runs one benchmark process per seed, one after another, and prints one
line per metric with its median, spread and bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
        result = json.loads(out.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / statistics.median(xs)
        note = "  (only its median shift is bounded)" if m["name"] == "setup_s" else ""
        print(f"{m['name']:>14}: median {statistics.median(xs):.4g} {m['unit']}  "
              f"spread {spread:.3f}  bound {m['bound']}  n={len(xs)}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
