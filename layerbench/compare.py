#!/usr/bin/env python3
"""Compare two sets of layered-benchmark runs.

    python3 layerbench/compare.py BASE_DIR NEW_DIR

Each directory holds run records as run.py writes them
(`<workload>-seed<n>-trace<0|1>.json`, by default under
layerbench/.work/records/). For every workload and end-to-end metric it
prints the median and quartiles of each set, the spread (interquartile range
over median) and a verdict against the metric's bound in BENCHMARK.json:
`unresolved` when either set's spread exceeds the bound (the sets are too
noisy to tell a change of that size) unless every new run reads better than
every base run, else `worse`/`better` when the new median moved past the
bound, `same` otherwise. For each workload it also
counts the runs whose host lost more than STEAL_LIMIT of its CPU time to the
hypervisor (`host_steal_frac` in the record); such runs slow down as a whole
and are the usual cause of an `unresolved` verdict. It then prints the
per-layer medians of the traced runs and their deltas.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STEAL_LIMIT = 0.02


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(q):
    return (q[2] - q[0]) / q[1] if q[1] else 0.0


def verdict(va, vb, qa, qb, bound, better):
    base, new = qa[1], qb[1]
    if base == 0:
        return "n/a"
    if spread(qa) > bound or spread(qb) > bound:
        lo, hi = (vb, va) if better == "lower" else (va, vb)
        return "better" if max(lo) < min(hi) else "unresolved"
    change = (new - base) / base
    worse = change > bound if better == "lower" else change < -bound
    improved = change < -bound if better == "lower" else change > bound
    return "worse" if worse else "better" if improved else "same"


def stolen(runs):
    return sum(1 for r in runs if (r.get("host_steal_frac") or 0.0) > STEAL_LIMIT)


def main(argv):
    if len(argv) != 2:
        raise SystemExit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(argv[0]), load(argv[1])
    workloads = [w["name"] for w in spec["workloads"]]
    print(f"{'workload':20} {'metric':14} {'base q1/med/q3':>30} "
          f"{'new q1/med/q3':>30} {'spread':>13} {'change':>8}  verdict")
    for w in workloads:
        ra, rb = a.get((w, 0), []), b.get((w, 0), [])
        if not ra or not rb:
            print(f"{w:20} (no untraced runs in one of the sets)")
            continue
        print(f"{w:20} runs with host steal > {STEAL_LIMIT:.0%}: "
              f"base {stolen(ra)}/{len(ra)}, new {stolen(rb)}/{len(rb)}")
        for m in spec["end_to_end"]:
            n = m["name"]
            va = [r["end_to_end"][n]["value"] for r in ra]
            vb = [r["end_to_end"][n]["value"] for r in rb]
            qa, qb = quartiles(va), quartiles(vb)
            sa, sb = spread(qa), spread(qb)
            ch = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"{w:20} {n:14} {fmt(qa):>30} {fmt(qb):>30} "
                  f"{sa:6.3f}/{sb:6.3f} {ch:+8.3f}  "
                  f"{verdict(va, vb, qa, qb, m['bound'], m['better'])} "
                  f"(n={len(va)}/{len(vb)}, bound {m['bound']})")
    print()
    print(f"{'workload':20} {'per-layer metric':36} {'base':>12} {'new':>12} {'delta':>12}")
    for w in workloads:
        ra, rb = a.get((w, 1), []), b.get((w, 1), [])
        if not ra or not rb:
            print(f"{w:20} (no traced runs in one of the sets)")
            continue
        for n in sorted(ra[0]["per_layer"]):
            va = statistics.median(r["per_layer"][n]["value"] for r in ra)
            vb = statistics.median(r["per_layer"][n]["value"] for r in rb
                                   if n in r["per_layer"])
            print(f"{w:20} {n:36} {va:12.4g} {vb:12.4g} {vb - va:+12.4g}")


if __name__ == "__main__":
    main(sys.argv[1:])
