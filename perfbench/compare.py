#!/usr/bin/env python3
"""Summarize and compare sets of benchmark results.

    python3 perfbench/compare.py summary perfbench/results
    python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR

A result set is a directory (or a list of files) of the records
`perfbench/run.py` keeps under `perfbench/results/` (`*.json`, not the
`*.trace.json` span files).

`summary` prints, per workload and metric, the run count, the median,
the quartiles and the spread: the distance between the quartiles as a
share of the median (Python's `statistics.quantiles(values, n=4)`).
End-to-end metrics whose spread is wider than their bound in
BENCHMARK.json are marked unresolved.

`compare` reads the untraced runs of a parent and a change, pairs them by
seed (in run order where seeds repeat), and judges each end-to-end metric
per workload by the rule of choosing-metrics section 8:

  gain        the change wins at least 9/10 of the pairs (ties count for
              neither side), there are at least 10 pairs, and the medians
              differ by more than the parent's own quartile distance;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  either side's spread is wider than the bound, unless every
              change run reads better than every parent run;
  same        none of the above.
"""

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}, {m["name"]: m for m in b["per_layer"]}


def load_records(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += glob.glob(os.path.join(p, "*.json"))
        else:
            files.append(p)
    recs = []
    for f in sorted(files):
        if f.endswith(".trace.json"):
            continue
        with open(f) as fh:
            recs.append(json.load(fh))
    return recs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf") if q3 != q1 else 0.0


def fmt(x):
    return f"{x:.6g}"


def summary(args):
    e2e, layers = load_bench()
    recs = load_records(args.paths)
    if not recs:
        sys.exit("no result records found")
    groups = {}
    for r in recs:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    for (workload, traced), rs in sorted(groups.items()):
        kind = "per-layer" if traced else "end-to-end"
        fails = sum(r["failed"] for r in rs)
        tries = sum(r["attempted"] for r in rs)
        print(f"\n{workload} ({kind}, {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}, "
              f"failed {fails}/{tries})")
        print(f"  {'metric':34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}  note")
        defs = layers if traced else e2e
        source = "layers" if traced else "e2e"
        for name in defs:
            vals = [r[source][name] for r in rs if isinstance(r[source].get(name), (int, float))]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            sp = spread(vals)
            note = ""
            bound = defs[name].get("bound")
            if bound is not None and sp > bound:
                note = f"unresolved: spread above bound {bound}"
            elif bound is not None:
                note = f"bound {bound}"
            print(f"  {name:34} {len(vals):>3} {fmt(med):>12} {fmt(q1):>12} {fmt(q3):>12} "
                  f"{sp:>8.4f}  {note}")


def pair(parent, change):
    """Pairs of (parent, change) runs with the same seed, in run order."""
    by_seed = {}
    for r in parent:
        by_seed.setdefault(r["seed"], []).append(r)
    pairs = []
    for r in change:
        if by_seed.get(r["seed"]):
            pairs.append((by_seed[r["seed"]].pop(0), r))
    return pairs


def judge(p_vals, c_vals, pairs, better, bound):
    lower = better == "lower"
    def better_than(a, b):
        return a < b if lower else a > b
    p_med = statistics.median(p_vals)
    c_med = statistics.median(c_vals)
    wins = sum(1 for p, c in pairs if better_than(c, p))
    q1, _, q3 = quartiles(p_vals)
    worse_by = (c_med - p_med) / abs(p_med) if lower else (p_med - c_med) / abs(p_med)
    all_better = all(better_than(c, p) for c in c_vals for p in p_vals)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(c_med - p_med) > (q3 - q1) \
            and better_than(c_med, p_med):
        verdict = "gain"
    elif worse_by > bound:
        verdict = "regression"
    elif (spread(p_vals) > bound or spread(c_vals) > bound) and not all_better:
        verdict = "unresolved"
    else:
        verdict = "same"
    return p_med, c_med, wins, worse_by, verdict


def compare(args):
    e2e, _ = load_bench()
    parent = [r for r in load_records([args.parent]) if not r["trace"]]
    change = [r for r in load_records([args.change]) if not r["trace"]]
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    if not workloads:
        sys.exit("the two sets share no workload with untraced runs")
    for w in workloads:
        ps = [r for r in parent if r["workload"] == w]
        cs = [r for r in change if r["workload"] == w]
        pairs = pair(ps, cs)
        print(f"\n{w}: {len(ps)} parent runs, {len(cs)} change runs, {len(pairs)} seed pairs")
        print(f"  {'metric':18} {'parent':>12} {'change':>12} {'worse by':>9} {'wins':>7} {'bound':>6}  verdict")
        for name, m in e2e.items():
            p_vals = [r["e2e"][name] for r in ps if name in r["e2e"]]
            c_vals = [r["e2e"][name] for r in cs if name in r["e2e"]]
            if not p_vals or not c_vals:
                continue
            pv = [(p["e2e"][name], c["e2e"][name]) for p, c in pairs]
            p_med, c_med, wins, worse_by, verdict = judge(p_vals, c_vals, pv, m["better"], m["bound"])
            print(f"  {name:18} {fmt(p_med):>12} {fmt(c_med):>12} {worse_by:>+9.3f} "
                  f"{wins:>3}/{len(pv):<3} {m['bound']:>6}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("summary", help="median, quartiles and spread per workload and metric")
    s.add_argument("paths", nargs="+")
    c = sub.add_parser("compare", help="judge a change against its parent, metric by metric")
    c.add_argument("parent")
    c.add_argument("change")
    a = ap.parse_args()
    summary(a) if a.cmd == "summary" else compare(a)


if __name__ == "__main__":
    main()
