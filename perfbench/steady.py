"""Steadiness check: run each workload with several seeds and report, per
end-to-end metric, the quartile spread (Q3 - Q1) / median and the median,
against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Run from the root of a checkout. Each run is the benchmark command with
``--trace 0`` and ``--seconds`` = run_seconds; each run has its own seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(contract: dict, workload: str, seed: int) -> dict:
    cmd = contract["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(contract["run_seconds"]), "--trace", "0",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=180,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from perfbench.stats import quartile_spread

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        contract = json.load(f)
    names = args.workload or [w["name"] for w in contract["workloads"]]
    steady = True
    for w in names:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        results = []
        for seed in seeds:
            results.append(run_once(contract, w, seed))
            print(f"  {w} seed={seed} " + " ".join(
                f"{k}={v['value']:.6g}" for k, v in results[-1]["metrics"].items()
            ), flush=True)
        ok = all(r["correct"] for r in results)
        steady &= ok
        print(f"{w}: {args.runs} runs, all correct: {ok}", flush=True)
        for m in contract["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            spread = quartile_spread(vals)
            within = spread <= m["bound"]
            steady &= within
            print(f"  {m['name']:28s} median={statistics.median(vals):<12.6g} "
                  f"spread={spread:.4f} bound={m['bound']} "
                  f"{'ok' if within else 'TOO WIDE'}"
                  f"{'' if spread < m['bound'] / 3 else ' (above a third of the bound)'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
