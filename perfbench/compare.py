#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py <parent> <change>

Each argument is a results directory (`.bench_build/results` of a
checkout, one `<workload>.jsonl` per workload, a line per run) or a
single `.jsonl` file. Runs are paired by workload, trace mode and seed.

End-to-end metrics (untraced runs) get each side's median and
quartiles, the pairs the change won (ties count for neither side) and
a verdict:
  - gain: the change won at least 9/10 of the pairs and the medians
    differ by more than the parent's own quartile spread;
  - regression: the change's median is worse than the parent's by more
    than the metric's bound in BENCHMARK.json;
  - unresolved: the parent's spread is wider than the bound and not every
    change run beats every parent run;
  - flat: none of the above.
Per-layer metrics (traced runs) are listed side by side with the change
in their medians; they carry no verdict.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(line) for line in fh if line.strip()]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def series(runs, workload, trace, metric):
    return {r["seed"]: r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]}


def verdict(p, c, better, bound):
    sign = 1 if better == "higher" else -1
    pairs = sorted(set(p) & set(c))
    won = sum(1 for s in pairs if sign * (c[s] - p[s]) > 0)
    lost = sum(1 for s in pairs if sign * (c[s] - p[s]) < 0)
    pv, cv = list(p.values()), list(c.values())
    pq1, pm, pq3 = quartiles(pv)
    cm = statistics.median(cv)
    worse = -sign * (cm - pm) / pm if pm else 0.0
    spread = (pq3 - pq1) / pm if pm else 0.0
    if pairs and won >= 0.9 * len(pairs) and abs(cm - pm) > pq3 - pq1:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not (min(cv) > max(pv) if sign > 0 else max(cv) < min(pv)):
        v = "unresolved"
    else:
        v = "flat"
    return won, lost, len(pairs), v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    print("== end to end (untraced runs)")
    print(f"{'workload':20} {'metric':14} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won/lost/pairs':>15} verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            p, c = series(parent, w, 0, m["name"]), series(change, w, 0, m["name"])
            if not p or not c:
                continue
            won, lost, n, v = verdict(p, c, m["better"], m["bound"])
            fp = "/".join(f"{x:.4g}" for x in quartiles(list(p.values())))
            fc = "/".join(f"{x:.4g}" for x in quartiles(list(c.values())))
            print(f"{w:20} {m['name']:14} {fp:>30} {fc:>30} {f'{won}/{lost}/{n}':>15} {v}")
    print("\n== per layer (traced runs): median parent -> change")
    for w in workloads:
        for m in spec["per_layer"]:
            p, c = series(parent, w, 1, m["name"]), series(change, w, 1, m["name"])
            if not p or not c:
                continue
            pm, cm = statistics.median(p.values()), statistics.median(c.values())
            if pm == 0 and cm == 0:
                continue
            rel = f"{(cm - pm) / pm:+.1%}" if pm else "new"
            print(f"{w:20} {m['name']:38} {pm:12.4g} -> {cm:12.4g} {m['unit']:6} {rel}")


if __name__ == "__main__":
    main()
