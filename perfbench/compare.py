#!/usr/bin/env python3
"""Diff two sets of benchmark run records, per workload and per metric.

Each side is a run record (`.bench_out/<workload>-s<seed>-t<trace>.json`,
written by run.py) or a directory of them. Records are grouped by
workload and trace flag; within a group every numeric value (end-to-end
metrics, per-layer metrics, per-operation medians, per-family pass time
and the other layer numbers) is reduced to its median over the side's
records, and the two medians are printed with their change.

Usage: python3 perfbench/compare.py BEFORE AFTER [--all]
  --all  also print values that did not change
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    recs = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            r = json.load(fh)
        if isinstance(r, dict) and "workload" in r and "metrics" in r:
            recs.append(r)
    return recs


def flatten(rec):
    """{(section, name): number} for every numeric value in a record."""
    out = {}

    def walk(prefix, v):
        if isinstance(v, bool):
            return
        if isinstance(v, (int, float)):
            out[prefix] = float(v)
        elif isinstance(v, dict):
            if set(v) == {"value", "unit"}:
                walk(prefix, v["value"])
            else:
                for k, x in v.items():
                    walk(f"{prefix}.{k}" if prefix else k, x)

    for section in ("end_to_end", "metrics", "op_median_s", "layers"):
        for k, v in (rec.get(section) or {}).items():
            walk(f"{section}/{k}", v)
    out["run/failed_frac"] = float(rec["failed_frac"])
    return out


def group(recs):
    g = {}
    for r in recs:
        g.setdefault((r["workload"], r["trace"]), []).append(flatten(r))
    return g


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    before, after = group(load(a.before)), group(load(a.after))
    if not before or not after:
        sys.exit("compare: no run records found on one side")
    for key in sorted(set(before) | set(after)):
        wl, trace = key
        b, c = before.get(key, []), after.get(key, [])
        print(f"== {wl} (trace {trace}): {len(b)} before, {len(c)} after")
        names = sorted({n for r in b + c for n in r})
        for n in names:
            bv = [r[n] for r in b if n in r]
            cv = [r[n] for r in c if n in r]
            if not bv or not cv:
                side = "after" if cv else "before"
                print(f"  {n:<58} only {side}")
                continue
            mb, mc = stats.median(bv), stats.median(cv)
            if mb == mc and not a.all:
                continue
            change = f"{(mc - mb) / abs(mb) * 100:+8.1f}%" if mb else "      n/a"
            print(f"  {n:<58} {mb:>14.6g} {mc:>14.6g} {change}")


if __name__ == "__main__":
    main()
