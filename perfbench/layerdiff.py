#!/usr/bin/env python3
"""Print two sets of benchmark results side by side, layer by layer.

    python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are each a result file written by run.py
(.bench_build/results/<workload>-seed<n>-trace<t>.json) or a directory of
them. Results are grouped by workload; where a side has several runs of a
workload, each metric is the median over those runs. For every end-to-end,
figure and per-layer metric the table shows both values and the ratio
NEW / BASE, with its base.
"""
import json
import os
import statistics
import sys

SECTIONS = ("end_to_end", "figures", "per_layer")


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".json") and not f.endswith(".spans.jsonl"))
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault(r["workload"], []).append(r)
    return runs


def medians(runs):
    """(section, metric) -> (median value, unit, runs) over a workload's runs."""
    vals = {}
    for r in runs:
        for sec in SECTIONS:
            for k, m in r.get(sec, {}).items():
                if m["value"] is not None:
                    vals.setdefault((sec, k), (m["unit"], []))[1].append(m["value"])
        vals.setdefault(("checks", "failed_ops_ratio"), ("ratio", [])
                        )[1].append(r["failed"] / max(1, r["attempted"]))
    return {k: (statistics.median(v), u, len(v)) for k, (u, v) in vals.items()}


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted(set(base) | set(new)):
        b = medians(base.get(wl, []))
        n = medians(new.get(wl, []))
        print(f"\n== {wl}: base {len(base.get(wl, []))} run(s), new {len(new.get(wl, []))} run(s)")
        print(f"{'section':10s} {'metric':34s} {'unit':6s} {'base':>12s} {'new':>12s} {'new/base':>9s}")
        for key in sorted(set(b) | set(n), key=lambda k: (SECTIONS + ("checks",)).index(k[0])):
            bv = b.get(key, (None, None, 0))
            nv = n.get(key, (None, None, 0))
            unit = bv[1] or nv[1]
            ratio = (f"{nv[0] / bv[0]:.3f}" if bv[0] not in (None, 0) and nv[0] is not None
                     else "-")
            print(f"{key[0]:10s} {key[1]:34s} {unit:6s} {fmt(bv[0]):>12s} {fmt(nv[0]):>12s} {ratio:>9s}")


if __name__ == "__main__":
    main()
