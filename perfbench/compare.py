#!/usr/bin/env python3
"""Compare two sets of benchmark result files metric by metric.

    python3 perfbench/compare.py --base A/graph-seed*-trace0.json \
                                 --new  B/graph-seed*-trace0.json

Each file is a result written by run.py (<build dir>/results/<workload>-seed<n>-trace<t>.json;
copy them away before the next build of another commit). For every metric the
tool prints each side's median, quartiles and spread (interquartile distance
over the median) and the change of the median. It refuses to compare runs
made with different core counts, of different workloads, or mixing traced and
untraced runs: numbers from different core counts are never compared. For
traced runs it also says whether the counts later changes cite repeat exactly
across the runs of each side.
"""
import argparse
import json
import statistics
import sys

REPEATED = ("exec.jobs", "queries.construct_jobs", "caching.persisted_rdds", "catalyst.exchanges")


def load(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def key(run):
    return (run["env"]["cores"], run["workload"], "per_layer" if run.get("per_layer") else "end_to_end")


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    keys = {key(r) for r in base + new}
    if len(keys) != 1:
        cores = sorted({k[0] for k in keys})
        why = f"core counts differ: {cores}" if len(cores) > 1 else f"runs differ: {sorted(keys)}"
        print(f"compare: refused, {why}", file=sys.stderr)
        sys.exit(2)
    cores, workload, kind = keys.pop()
    print(f"{workload}, {cores} cores, {kind}: {len(base)} base runs, {len(new)} new runs")
    print(f"  {'metric':32s} {'base median [q1, q3] spread':>40s}    {'new median [q1, q3] spread':>40s}  change")
    for name, m in base[0]["summary"]["metrics"].items():
        b = [r["summary"]["metrics"][name]["value"] for r in base]
        n = [r["summary"]["metrics"][name]["value"] for r in new]
        bq, nq = quartiles(b), quartiles(n)

        def cell(q):
            spread = (q[2] - q[0]) / q[1] if q[1] else float("nan")
            return f"{q[1]:12.4f} [{q[0]:.4f}, {q[2]:.4f}] {spread:.3f}"
        change = (nq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        print(f"  {name:32s} {cell(bq):>40s} -> {cell(nq):>40s} {m['unit']:6s} {change:+7.2f}%")
    for side, runs in (("base", base), ("new", new)):
        failed = sum(r["summary"]["failed"] for r in runs)
        if failed:
            print(f"  {side}: {failed} failed calls, boundary steps or checks")
        if kind == "per_layer":
            for m in REPEATED:
                values = sorted({r["summary"]["metrics"][m]["value"] for r in runs})
                print(f"  {side}: {m} {'repeats: ' if len(values) == 1 else 'DIFFERS across runs: '}"
                      f"{', '.join(f'{v:g}' for v in values)}")


if __name__ == "__main__":
    main()
