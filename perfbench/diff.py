#!/usr/bin/env python3
"""Diff two rounds of benchmark records, per workload and metric.

    python3 perfbench/diff.py BEFORE AFTER [--layers]

BEFORE and AFTER are record files or directories of them (run.py writes
one per run under perfbench/out/records/). For every workload and
end-to-end metric (per-layer metrics too with --layers, from traced
records) it prints each side's median and quartiles, the change of the
median, and whether the change is worse than the metric's bound in
BENCHMARK.json. Exits 1 when any end-to-end metric regressed past its
bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        runs.setdefault(rec["workload"], []).append(rec)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--layers", action="store_true", help="also diff per-layer metrics")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = [("e2e", m) for m in spec["end_to_end"]]
    if a.layers:
        metrics += [("layers", m) for m in spec["per_layer"]]
    before, after = load(a.before), load(a.after)
    regressed = False
    print(f"{'workload':12s} {'metric':28s} {'before q1/med/q3':>32s} {'after q1/med/q3':>32s}"
          f" {'change':>8s} {'bound':>6s}  verdict")
    for wl in sorted(set(before) | set(after)):
        for section, m in metrics:
            xs = [r[section][m["name"]] for r in before.get(wl, []) if m["name"] in r.get(section, {})]
            ys = [r[section][m["name"]] for r in after.get(wl, []) if m["name"] in r.get(section, {})]
            if not xs or not ys:
                continue
            qa, qb = quartiles(xs), quartiles(ys)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            worse = change if m["better"] == "lower" else -change
            bound = m.get("bound")
            if bound is None:
                verdict = "-"
            elif worse > bound:
                verdict, regressed = "WORSE than bound", True
            else:
                verdict = "within bound"
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{wl:12s} {m['name']:28s} {fmt(qa):>32s} {fmt(qb):>32s} {change:+8.1%}"
                  f" {bound if bound is not None else '':>6}  {verdict}  (n={len(xs)}/{len(ys)})")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
