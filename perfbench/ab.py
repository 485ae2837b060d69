"""Interleaved A/B: time two checkouts of the program with these benchmark
files, in alternating pairs within one window.

    python3 perfbench/ab.py --a ../parent --b . --workload bulk_scrape

Ten pairs, seeds 1-10 as in baseline.json: each seed runs on both sides,
A first on odd seeds and B first on even ones, each for BENCHMARK.json's
``run_seconds``. Prints, per end-to-end metric, each side's quartiles, the
median of the paired B/A ratios, and the share of pairs B won.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(1, 11)


def run_one(root: str, workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--source-root", root],
        capture_output=True, text=True, check=True, timeout=900)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{root}: incorrect output: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--a", required=True)
    p.add_argument("--b", required=True)
    p.add_argument("--workload", required=True)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    runs = {"a": [], "b": []}
    for seed in SEEDS:
        order = ("a", "b") if seed % 2 else ("b", "a")
        for side in order:
            runs[side].append(run_one(getattr(args, side), args.workload,
                                      seed, spec["run_seconds"]))
    report = {}
    for name, sense in better.items():
        a = [r[name] for r in runs["a"]]
        b = [r[name] for r in runs["b"]]
        ratios = [y / x for x, y in zip(a, b)]
        wins = sum((y < x) if sense == "lower" else (y > x)
                   for x, y in zip(a, b))
        report[name] = {
            "a_quartiles": statistics.quantiles(a, n=4),
            "b_quartiles": statistics.quantiles(b, n=4),
            "paired_ratio_b_over_a_median": statistics.median(ratios),
            "b_win_share": wins / len(a),
        }
    print(json.dumps({"workload": args.workload, "pairs": len(SEEDS),
                      "metrics": report}, indent=1))


if __name__ == "__main__":
    main()
