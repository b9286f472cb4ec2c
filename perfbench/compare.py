#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

Usage:

    python3 perfbench/compare.py BASE CHANGE [--bench BENCHMARK.json]

BASE and CHANGE are each a results directory (the per-run JSON files the
benchmark writes under .bench_build/perfbench/results/) or a file of
captured run output; every line holding a JSON object with "workload" and
"metrics" counts as one run. Untraced runs give the end-to-end rows, traced
runs the per-layer rows.

For every workload x metric the table shows each side's median and
quartiles over its runs and the change of the medians. An end-to-end row
is "unresolved" when either side's spread (interquartile range over the
median) exceeds the metric's bound, unless every CHANGE run beats every
BASE run; otherwise it is "worse" when the change's median is worse by more
than the bound, else "better" or "same". A pipeline stage whose span moved
beyond the base's spread is labelled "cpu changed" when its task CPU time
moved too, else "span only" (the stage waited or overlapped differently).
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    """Runs under `path`, as {(workload, trace): [metrics, ...]}."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    doc = json.loads(line)
                except ValueError:
                    continue
                if "workload" in doc and "metrics" in doc:
                    key = (doc["workload"], str(doc.get("trace", "0")))
                    runs.setdefault(key, []).append(
                        {k: v["value"] if isinstance(v, dict) else v
                         for k, v in doc["metrics"].items()})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(args.base), load(args.change)
    if not base or not change:
        sys.exit("compare: no runs found on one side")

    fmt = "{:<16} {:<36} {:>24} {:>24} {:>8}  {}"
    print(fmt.format("workload", "metric", "base med [q1,q3]", "change med [q1,q3]", "delta", "verdict"))
    for key in sorted(set(base) & set(change)):
        workload, trace = key
        a_runs, b_runs = base[key], change[key]
        names = sorted({n for r in a_runs + b_runs for n in r})
        med = {}
        for name in names:
            a = [r[name] for r in a_runs if name in r]
            b = [r[name] for r in b_runs if name in r]
            if not a or not b:
                continue
            (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
            med[name] = (a, b)
            spec = specs.get(name, {})
            lower = spec.get("better", "lower") == "lower"
            delta = (bm - am) / abs(am) if am else 0.0
            verdict = ""
            if "bound" in spec:
                bound = spec["bound"]
                beats_all = (max(b) < min(a)) if lower else (min(b) > max(a))
                worse = delta > bound if lower else -delta > bound
                if max(spread(a), spread(b)) > bound and not beats_all:
                    verdict = "unresolved"
                elif worse:
                    verdict = "worse"
                elif (delta < 0) == lower and abs(bm - am) > a3 - a1:
                    verdict = "better"
                else:
                    verdict = "same"
            print(fmt.format(workload, name, f"{am:.4g} [{a1:.4g},{a3:.4g}]",
                             f"{bm:.4g} [{b1:.4g},{b3:.4g}]", f"{delta:+.1%}", verdict))
        if trace == "1":
            for name in names:
                if not (name.startswith("pipeline.") and name.endswith(".span_s")) or name not in med:
                    continue
                stage = name[len("pipeline."):-len(".span_s")]
                a, b = med[name]
                qa = quartiles(a)
                if abs(quartiles(b)[1] - qa[1]) <= qa[2] - qa[0]:
                    continue
                cpu = med.get(f"pipeline.{stage}.task_cpu_s")
                moved_cpu = cpu and abs(quartiles(cpu[1])[1] - quartiles(cpu[0])[1]) > \
                    quartiles(cpu[0])[2] - quartiles(cpu[0])[0]
                print(f"{workload:<16} stage {stage}: {'cpu changed' if moved_cpu else 'span only'}")


if __name__ == "__main__":
    main()
