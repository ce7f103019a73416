#!/usr/bin/env python3
"""Derive the catalog workloads' entry lists from the committed timings.

Inputs: `timings/sf0.01.json` and `timings/sf0.1.json`, per-entry
`graft.Bench` timings (min of two noop-sink runs, 4 cores) on the
benchmark machine, and the `excluded` map in `catalog_lists.json`
(entries that fail on the generated tables, or whose time moves too much
between runs to be bounded, each with its reason).

Rules, over the entries not excluded:
  catalog_large  entries in order of their data share
                 (t(sf0.1) - t(sf0.01)) / t(sf0.1), largest first; each
                 is taken if the sum of the taken entries' t(sf0.1)
                 stays within LARGE_BUDGET_S, else skipped;
  catalog_small  every N-th entry in sorted-name order (positions 0, N,
                 2N, ...) that is not in catalog_large, with N the
                 smallest step whose picks' t(sf0.01) sum stays within
                 SMALL_BUDGET_S.
The budgets keep one pass of each workload short enough for several
passes per run.

Usage: python3 perfbench/derive_lists.py   (rewrites catalog_lists.json)
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
LISTS = os.path.join(HERE, "catalog_lists.json")
LARGE_BUDGET_S = 5.0
SMALL_BUDGET_S = 2.5


def load(name):
    with open(os.path.join(HERE, "timings", name), encoding="utf-8") as f:
        return json.load(f)["entries"]


def derive(small, large, excluded):
    names = sorted(n for n in small if n in large and n not in excluded)
    by_share = sorted(names, key=lambda n: (large[n] - small[n]) / large[n],
                      reverse=True)
    big, total = [], 0.0
    for n in by_share:
        if total + large[n] <= LARGE_BUDGET_S:
            big.append(n)
            total += large[n]
    rest = [n for n in names if n not in big]
    for step in range(1, len(rest) + 1):
        pick = rest[::step]
        if sum(small[n] for n in pick) <= SMALL_BUDGET_S:
            return big, pick, step
    raise ValueError("no step fits the small budget")


def main():
    small, large = load("sf0.01.json"), load("sf0.1.json")
    with open(LISTS, encoding="utf-8") as f:
        excluded = json.load(f).get("excluded", {})
    big, pick, step = derive(small, large, excluded)
    out = {
        "rule": __doc__.split("Rules, over the entries not excluded:")[1]
        .split("The budgets")[0].split(),
        "excluded": excluded,
        "catalog_large": {
            "budget_s": LARGE_BUDGET_S,
            "entries": big,
            "t_sf0.1_s": {n: large[n] for n in big},
            "data_share": {n: round((large[n] - small[n]) / large[n], 4)
                           for n in big}},
        "catalog_small": {
            "budget_s": SMALL_BUDGET_S, "step": step,
            "entries": pick,
            "t_sf0.01_s": {n: small[n] for n in pick}},
    }
    out["rule"] = " ".join(out["rule"])
    with open(LISTS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"catalog_large: {len(big)} entries, catalog_small: {len(pick)} "
          f"entries (every {step}th)")


if __name__ == "__main__":
    main()
