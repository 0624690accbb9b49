#!/usr/bin/env python3
"""Compares two benchmark reports, refusing ones from different regimes.

Usage: python3 perfbench/compare.py <base report> <new report>

A report is the JSON that perfbench/run.py prints before its result line
(the object under "report") or writes to perfbench/.work/results/. Two
reports compare only when their workload, core count, nproc, heap and
scale factor agree; otherwise this exits with code 2 and names every
mismatch. It then prints each metric's base and new value, their ratio,
and whether the change is beyond the metric's bound in BENCHMARK.json.
"""
import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REGIME_KEYS = ("cores", "nproc", "sf", "heap")


def load(path):
    with open(path) as fh:
        data = json.load(fh)
    return data.get("report", data)


def mismatches(a, b):
    out = []
    if a["workload"] != b["workload"]:
        out.append(f"workload {a['workload']} vs {b['workload']}")
    for k in REGIME_KEYS:
        if a["regime"].get(k) != b["regime"].get(k):
            out.append(f"{k} {a['regime'].get(k)} vs {b['regime'].get(k)}")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    bad = mismatches(a, b)
    if bad:
        print("refused: the reports come from different regimes: " + "; ".join(bad),
              file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(BENCH, os.pardir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for name in sorted(set(a["end_to_end"]) & set(b["end_to_end"])):
        x, y = a["end_to_end"][name], b["end_to_end"][name]
        if x is None or y is None:
            continue
        ratio = y / x if x else float("nan")
        note = ""
        m = bounds.get(name)
        if m:
            worse = ratio - 1 if m["better"] == "lower" else 1 - ratio
            note = "  WORSE THAN BOUND" if worse > m["bound"] else ""
        print(f"{name:20s} {x:14.4f} {y:14.4f} {ratio:8.3f}{note}")
    for name in sorted(set(a.get("per_layer", {})) & set(b.get("per_layer", {}))):
        x, y = a["per_layer"][name], b["per_layer"][name]
        print(f"{name:30s} {x:16.4f} {y:16.4f}")


if __name__ == "__main__":
    main()
