#!/usr/bin/env python3
"""Compares two sets of benchmark result files, e.g. a parent and a change.

    python3 perfbench/compare.py <base dir or files...> -- <change dir or files...>

Result files are the JSON records `run.py` writes (default directory
`.bench_build/perfbench/results`). For every workload and end-to-end metric
it prints each side's median and quartiles, how many seed-matched pairs the
change wins, and a verdict:

  regression   the change's median is worse than the base's by more than the
               metric's bound in BENCHMARK.json
  gain         the change wins at least 9 in 10 pairs and the medians differ
               by more than the base's own quartile spread
  unresolved   the base's own quartile spread is wider than the bound, and the
               change neither wins nor loses every pair
  within bound otherwise

From traced runs (`--trace 1`) it prints each per-layer metric's median on
both sides and the change.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(args):
    files = []
    for a in args:
        files += sorted(glob.glob(os.path.join(a, "*.json"))) if os.path.isdir(a) else [a]
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, section, metric):
    return [(r["seed"], r[section][metric]["value"]) for r in runs if metric in r[section]]


def fmt(x):
    return f"{x:.4g}"


def main():
    if "--" not in sys.argv:
        sys.exit(__doc__)
    cut = sys.argv.index("--")
    base, change = load(sys.argv[1:cut]), load(sys.argv[cut + 1:])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = sorted({r["workload"] for r in base + change})

    print("end to end (untraced runs)")
    print(f"{'workload':14} {'metric':16} {'base median [q1, q3]':30} "
          f"{'change median [q1, q3]':30} {'wins':8} verdict")
    for w in workloads:
        b_runs = [r for r in base if r["workload"] == w and not r["trace"]]
        c_runs = [r for r in change if r["workload"] == w and not r["trace"]]
        for name, m in metrics.items():
            b, c = values(b_runs, "end_to_end", name), values(c_runs, "end_to_end", name)
            if not b or not c:
                continue
            lower = m["better"] == "lower"
            bq, cq = quartiles([v for _, v in b]), quartiles([v for _, v in c])
            b_seed, c_seed = dict(b), dict(c)
            seeds = sorted(set(b_seed) & set(c_seed))
            if seeds:
                pairs = [(b_seed[s], c_seed[s]) for s in seeds]
            else:  # no common seeds: pair the runs in the order they were read
                pairs = [(x, y) for (_, x), (_, y) in zip(b, c)]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            losses = sum(1 for x, y in pairs if (y > x if lower else y < x))
            worse = (cq[1] - bq[1]) / bq[1] * (1 if lower else -1)
            spread = (bq[2] - bq[0]) / bq[1]
            if worse > m["bound"]:
                verdict = "regression"
            elif wins >= 0.9 * len(pairs) and -worse * bq[1] > bq[2] - bq[0]:
                verdict = "gain"
            elif spread > m["bound"] and wins < len(pairs) and losses < len(pairs):
                verdict = "unresolved"
            else:
                verdict = "within bound"
            print(f"{w:14} {name:16} "
                  f"{fmt(bq[1]) + ' [' + fmt(bq[0]) + ', ' + fmt(bq[2]) + ']':30} "
                  f"{fmt(cq[1]) + ' [' + fmt(cq[0]) + ', ' + fmt(cq[2]) + ']':30} "
                  f"{str(wins) + '/' + str(len(pairs)):8} {verdict} "
                  f"(median {(cq[1] - bq[1]) / bq[1]:+.1%})")

    print("\nper layer (traced runs): median base -> median change")
    for w in workloads:
        b_runs = [r for r in base if r["workload"] == w and r["trace"]]
        c_runs = [r for r in change if r["workload"] == w and r["trace"]]
        if not b_runs or not c_runs:
            continue
        names = sorted(set(b_runs[0]["per_layer"]) & set(c_runs[0]["per_layer"]))
        for name in names:
            b = statistics.median(v for _, v in values(b_runs, "per_layer", name))
            c = statistics.median(v for _, v in values(c_runs, "per_layer", name))
            unit = b_runs[0]["per_layer"][name]["unit"]
            delta = f"{(c - b) / b:+.1%}" if b else "n/a"
            print(f"{w:14} {name:32} {fmt(b):>10} -> {fmt(c):>10} {unit:6} {delta}")


if __name__ == "__main__":
    main()
