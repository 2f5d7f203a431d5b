#!/usr/bin/env python3
"""Compare two result sets of the benchmark, one row per workload and
end-to-end metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

A result set is the JSON lines ``run.py --record FILE`` appends, one per
run. Runs are paired by seed. Each row gives both sides' median and
quartiles, the share of pairs the change wins (ties count for neither), and
a verdict under the metric's bound from BENCHMARK.json:

- ``regression (failures)``: some change run failed a query or the oracle
  check (its ``failed`` count is not 0), whatever the medians say; every
  metric of that workload gets this verdict, so nothing reads as a gain;
- ``unresolved``: either side's spread (inter-quartile distance over the
  median) exceeds the bound, and not every change run beats every base run;
- ``regression``: the change's median is worse by more than the bound;
- ``gain``: the change wins at least 9 in 10 pairs and the medians differ by
  more than the base's inter-quartile distance;
- ``no change`` otherwise.

Result sets that differ in cpus, heap, scratch resolution or seed set are
refused (exit 2): their numbers are not comparable.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb.stats import quartiles, spread, win_fraction  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def context(runs):
    """What must match for two sets to be comparable."""
    return {
        "cpus": sorted({r["cpus"] for r in runs}),
        "heap": sorted({r["max_heap_mb"] for r in runs}),
        "scratch": sorted({r["scratch"].split(":")[0] for r in runs}),
        "seeds": sorted({(r["workload"], r["seed"]) for r in runs}),
    }


def comparable(base, change):
    """The list of reasons two result sets cannot be compared."""
    cb, cc = context(base), context(change)
    why = [f"{k} differs: {cb[k]} vs {cc[k]}" for k in cb if cb[k] != cc[k]]
    for k in ("cpus", "heap", "scratch"):
        for side, c in (("base", cb), ("change", cc)):
            if len(c[k]) > 1:
                why.append(f"{side} mixes {k}: {c[k]}")
    return why


def verdict(base, change, better, bound):
    def worse(a, b):  # how much worse a is than b, as a share of b
        return ((a - b) if better == "lower" else (b - a)) / abs(b) if b else 0.0

    bq1, bm, bq3 = quartiles(base)
    cm = quartiles(change)[1]
    all_better = (max(change) < min(base)) if better == "lower" else (min(change) > max(base))
    if max(spread(base), spread(change)) > bound:
        return "gain (every run)" if all_better else "unresolved"
    if worse(cm, bm) > bound:
        return "regression"
    if win_fraction(base, change, better) >= 0.9 and abs(cm - bm) > bq3 - bq1:
        return "gain"
    return "no change"


def rows(base, change, spec):
    out = []
    for wl in sorted({r["workload"] for r in base}):
        b = {r["seed"]: r for r in base if r["workload"] == wl}
        c = {r["seed"]: r for r in change if r["workload"] == wl}
        seeds = sorted(b)
        failed = sum(c[s]["failed"] for s in seeds)
        for m in spec["end_to_end"]:
            bv = [b[s]["end_to_end"][m["name"]] for s in seeds]
            cv = [c[s]["end_to_end"][m["name"]] for s in seeds]
            out.append({
                "workload": wl, "metric": m["name"], "unit": m["unit"], "n": len(seeds),
                "base": quartiles(bv), "change": quartiles(cv),
                "win": win_fraction(bv, cv, m["better"]),
                "failed": failed,
                "verdict": "regression (failures)" if failed
                           else verdict(bv, cv, m["better"], m["bound"]),
            })
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    base, change = load(a.base), load(a.change)
    why = comparable(base, change)
    if why:
        print("refusing to compare: " + "; ".join(why), file=sys.stderr)
        return 2

    def fmt(q):
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    print(f"{'workload':<18} {'metric':<12} {'n':>3} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'win':>5}  verdict")
    failures = {}
    for r in rows(base, change, spec):
        print(f"{r['workload']:<18} {r['metric']:<12} {r['n']:>3} {fmt(r['base']):>30} "
              f"{fmt(r['change']):>30} {r['win']:>5.2f}  {r['verdict']}")
        if r["failed"]:
            failures[r["workload"]] = r["failed"]
    for wl, n in failures.items():
        print(f"{wl}: {n} change query run(s) failed a query or the oracle check")
    return 0


if __name__ == "__main__":
    sys.exit(main())
