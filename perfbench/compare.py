#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--end-to-end]

Each directory holds result files written by perfbench/run.py (one JSON
per run). For every (workload, metric) present in both sets it prints each
side's median and quartiles, the change of the median, the fraction of
pairs the change wins (runs are paired by seed, else by order) and a
verdict:

  regression   the change's median is worse than the base's by more than
               the metric's bound in BENCHMARK.json
  unresolved   the base's own spread (interquartile range / median) exceeds
               the bound, and not every change run beats every base run
  gain         the change wins at least 9 of 10 pairs and its median
               differs by more than the base's interquartile range
  same         none of the above

Per-layer metrics have no bound; they get the change and win fraction
only. --end-to-end compares the end-to-end values every result file
records, also those of traced runs: comparing an untraced set with a
traced one gives the tracing overhead.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d, end_to_end):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" not in r:
            continue
        vals = r["end_to_end"] if end_to_end else \
            {k: v["value"] for k, v in r["metrics"].items()}
        for k, v in vals.items():
            runs.setdefault((r["workload"], k), []).append((r.get("seed"), v))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def pairs(a, b):
    by_seed = dict(a)
    common = [(by_seed[s], v) for s, v in b if s in by_seed]
    if common:
        return common
    return list(zip([v for _, v in a], [v for _, v in b]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--end-to-end", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load(a.base, a.end_to_end), load(a.change, a.end_to_end)
    keys = sorted(set(base) & set(change))
    if not keys:
        sys.exit("no (workload, metric) is present in both sets")

    print(f"{'workload':15} {'metric':24} {'n':>5} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'change':>8} {'wins':>5}  verdict")
    for w, m in keys:
        info = meta.get(m, {"better": "lower"})
        lower = info["better"] == "lower"
        av = [v for _, v in base[(w, m)]]
        bv = [v for _, v in change[(w, m)]]
        am, bm = statistics.median(av), statistics.median(bv)
        aq, bq = quartiles(av), quartiles(bv)
        better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
        ps = pairs(base[(w, m)], change[(w, m)])
        wins = sum(1 for x, y in ps if better(y, x)) / max(1, len(ps))
        rel = (bm - am) / am if am else float("nan")
        worse_by = rel if lower else -rel
        verdict = ""
        if "bound" in info and am:
            spread = (aq[1] - aq[0]) / abs(am)
            all_better = all(better(y, x) for x in av for y in bv)
            if worse_by > info["bound"]:
                verdict = "regression"
            elif spread > info["bound"] and not all_better:
                verdict = "unresolved"
            elif wins >= 0.9 and abs(bm - am) > aq[1] - aq[0]:
                verdict = "gain"
            else:
                verdict = "same"
        n = f"{len(av)}/{len(bv)}"
        a_s = f"{am:.5g} [{aq[0]:.4g}, {aq[1]:.4g}]"
        b_s = f"{bm:.5g} [{bq[0]:.4g}, {bq[1]:.4g}]"
        print(f"{w:15} {m:24} {n:>5} {a_s:>30} {b_s:>30} "
              f"{rel:>+8.1%} {wins:>5.2f}  {verdict}")


if __name__ == "__main__":
    main()
