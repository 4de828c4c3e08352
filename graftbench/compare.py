#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 graftbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records, one JSON object per line, as `run.py`
appends them to `graftbench/work/runs.jsonl`. For every (workload,
end-to-end metric) it prints each side's median and quartiles (Python's
`statistics.quantiles(values, n=4)`), the change of the medians as a
share of the base median, and a verdict against the metric's bound in
BENCHMARK.json:

- `worse` / `better`: the medians moved by more than the bound;
- `same`: they moved by less;
- `unresolved`: a side's quartile spread exceeds the bound, so the move
  cannot be read — unless every run of one side beats every run of the
  other, which reads as `better` or `worse`.

Exits 1 when any metric reads `worse`, else 0.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["host"]["workload"], []).append(r["metrics"])
    return runs


def summary(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(base, change, bound, lower_is_better):
    bq1, bmed, bq3 = summary(base)
    cq1, cmed, cq3 = summary(change)
    move = (cmed - bmed) / bmed
    worse = move > 0 if lower_is_better else move < 0
    spread = max((bq3 - bq1) / bmed, (cq3 - cq1) / cmed)
    if spread > bound:
        better_all = max(change) < min(base) if lower_is_better else min(change) > max(base)
        worse_all = min(change) > max(base) if lower_is_better else max(change) < min(base)
        return move, spread, "better" if better_all else "worse" if worse_all else "unresolved"
    if abs(move) <= bound:
        return move, spread, "same"
    return move, spread, "worse" if worse else "better"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    base, change = load(a.base), load(a.change)
    any_worse = False
    print(f"{'workload':16} {'metric':14} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'move':>8} {'spread':>7} {'bound':>6}  verdict")
    for w in sorted(set(base) & set(change)):
        for m in metrics:
            bv = [r[m["name"]]["value"] for r in base[w] if m["name"] in r]
            cv = [r[m["name"]]["value"] for r in change[w] if m["name"] in r]
            if not bv or not cv:
                continue
            move, spread, v = verdict(bv, cv, m["bound"], m["better"] == "lower")
            any_worse |= v == "worse"
            b, c = summary(bv), summary(cv)
            print(f"{w:16} {m['name']:14} "
                  f"{b[1]:>12.4g} [{b[0]:.4g}, {b[2]:.4g}]".ljust(61) +
                  f"{c[1]:>12.4g} [{c[0]:.4g}, {c[2]:.4g}]".ljust(31) +
                  f"{move:>+8.1%} {spread:>7.1%} {m['bound']:>6.0%}  {v}  "
                  f"(n={len(bv)}/{len(cv)} {m['unit']})")
    return 1 if any_worse else 0


if __name__ == "__main__":
    sys.exit(main())
