#!/usr/bin/env python3
"""Compare two sets of benchmark runs against BENCHMARK.json's bounds.

    python3 perfbench/compare.py BASE... --cand CAND... [--base-trace 0] [--cand-trace 0]

BASE and CAND are report files or directories of them (run.py keeps one
per run in .bench_build/reports). For each workload and end-to-end metric
it prints both sets' median and quartiles, the relative spread of each
set, the change of the candidate's median, and a verdict:

  ok          the candidate is not worse than the base by more than the bound
  worse       the candidate's median is worse by more than the bound
  unresolved  a set's spread is wider than the bound (setup_s excepted),
              so the two medians cannot be told apart at that bound

Comparing a set with itself in a second window is the A/A check; comparing
untraced runs with traced ones (--cand-trace 1) shows the tracing overhead.
Exits 1 if any verdict is not ok.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(base, cand, better):
    """How much worse the candidate's median is, as a share of the base's."""
    change = (cand - base) / base if base else 0.0
    return change if better == "lower" else -change


def verdict(base_values, cand_values, metric):
    bound = metric["bound"]
    b, c = quartiles(base_values)[1], quartiles(cand_values)[1]
    if metric["name"] != "setup_s" and max(spread(base_values), spread(cand_values)) > bound:
        return "unresolved"
    return "worse" if worse_by(b, c, metric["better"]) > bound else "ok"


def load(paths, trace):
    """{workload: {metric: [values]}} from report files."""
    out = {}
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if int(r["trace"]) != trace:
            continue
        m = out.setdefault(r["workload"], {})
        for k, v in r["end_to_end"].items():
            m.setdefault(k, []).append(v["value"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="+")
    ap.add_argument("--cand", nargs="+", required=True)
    ap.add_argument("--base-trace", type=int, default=0)
    ap.add_argument("--cand-trace", type=int, default=0)
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)
    base, cand = load(a.base, a.base_trace), load(a.cand, a.cand_trace)
    failed = False
    print(f"{'workload':<13} {'metric':<17} {'bound':>5} {'n':>5} "
          f"{'base q1/med/q3':>30} {'cand q1/med/q3':>30} {'spread b/c':>13} {'worse':>7}  verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            bv, cv = base.get(w, {}).get(m["name"]), cand.get(w, {}).get(m["name"])
            if not bv or not cv:
                print(f"{w:<13} {m['name']:<17} missing runs")
                failed = True
                continue
            bq, cq = quartiles(bv), quartiles(cv)
            v = verdict(bv, cv, m)
            failed |= v != "ok"
            print(f"{w:<13} {m['name']:<17} {m['bound']:>5} {len(bv):>2}/{len(cv):<2} "
                  f"{'/'.join(f'{x:.4g}' for x in bq):>30} {'/'.join(f'{x:.4g}' for x in cq):>30} "
                  f"{spread(bv):>6.3f}/{spread(cv):<6.3f} {worse_by(bq[1], cq[1], m['better']):>+7.3f}  {v}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
