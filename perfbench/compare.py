#!/usr/bin/env python3
"""Compares two sets of benchmark results.

    python3 perfbench/compare.py <before> <after>

Each argument is a results directory (run.py writes perfbench/.work/results/)
or a file of JSON records, one per line. Per workload and end-to-end
metric it prints both sets' medians and quartiles and a verdict against
the metric's bound in BENCHMARK.json: "better"/"worse" when the medians
differ by more than the bound and the quartile ranges do not overlap,
otherwise "unresolved". It also prints the median share of CPU time
stolen by other guests during each set's runs. For traced records it
then lists the per-layer self-time and phase-time deltas, largest
first, so a regression names its layer.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    if os.path.isdir(path):
        return [json.load(open(f)) for f in sorted(glob.glob(os.path.join(path, "*.json")))]
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, better, bound):
    (a1, am, a3), (b1, bm, b3) = a, b
    if am == 0:
        return "unresolved"
    change = (bm - am) / abs(am)
    worse = change > bound if better == "lower" else change < -bound
    improved = change < -bound if better == "lower" else change > bound
    overlap = b1 <= a3 and a1 <= b3
    if worse and not overlap:
        return "worse"
    if improved and not overlap:
        return "better"
    return "unresolved"


def series(records, workload, section, metric):
    return [r[section][metric] for r in records
            if r["stamp"]["workload"] == workload and metric in r.get(section, {})]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    before, after = load(sys.argv[1]), load(sys.argv[2])
    hosts = {(r["stamp"]["host"], r["stamp"]["nproc"]) for r in before + after}
    if len(hosts) > 1:
        print(f"warning: results come from different hosts/core counts: {sorted(hosts)}")
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'workload':16} {'metric':18} {'before q1/med/q3':>28} {'after q1/med/q3':>28}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            a = series(before, w, "end_to_end", m["name"])
            b = series(after, w, "end_to_end", m["name"])
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
            print(f"{w:16} {m['name']:18} {fmt(qa):>28} {fmt(qb):>28}  "
                  f"{verdict(qa, qb, m['better'], m['bound'])}")
    for w in workloads:
        steal = [[r["timing"]["cpu_steal_share"] for r in rs
                  if r["stamp"]["workload"] == w and r.get("timing", {}).get("cpu_steal_share") is not None]
                 for rs in (before, after)]
        if all(steal):
            print(f"{w:16} {'cpu steal share':18} {statistics.median(steal[0]):>28.3f} "
                  f"{statistics.median(steal[1]):>28.3f}  (host contention, not a metric)")
    for w in workloads:
        rows = []
        for m in spec["per_layer"]:
            name = m["name"]
            if not (name.startswith("self.") or name.endswith("_s")):
                continue
            a = series(before, w, "layers", name)
            b = series(after, w, "layers", name)
            if a and b:
                rows.append((statistics.median(b) - statistics.median(a), name,
                             statistics.median(a), statistics.median(b)))
        if rows:
            print(f"\n{w}: per-layer time deltas (after - before, median of traced runs)")
            for d, name, ma, mb in sorted(rows, key=lambda r: -abs(r[0])):
                print(f"  {name:28} {ma:10.3f} -> {mb:10.3f}  {d:+.3f} s")


if __name__ == "__main__":
    main()
