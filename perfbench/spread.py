#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

Runs `run.py` once per seed on one workload (untraced) and prints, per
metric, the median and the quartile spread (q3 - q1) / median, with the
quartiles `statistics.quantiles(values, n=4)` gives, next to the
metric's bound from BENCHMARK.json.

Usage: python3 perfbench/spread.py --workload cli_log --seeds 1-10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            sys.exit(f"seed {seed}: incorrect output ({res})")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    for k, vs in values.items():
        print(f"{a.workload} {k}: median {stats.median(vs):.4g} "
              f"spread {stats.quartile_spread(vs):.3f} "
              f"bound {bounds.get(k)} (n={len(vs)})")


if __name__ == "__main__":
    main()
