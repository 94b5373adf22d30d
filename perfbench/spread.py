#!/usr/bin/env python3
"""Run one workload on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of the runs, as
a share of their median (statistics.quantiles(values, n=4)), next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload tick --seeds 1-10 [--seconds N]

`--seconds` defaults to BENCHMARK.json's run_seconds. The per-run lines
and the summary go to .bench_build/spread-<workload>.json as well.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        res = json.loads(last) if proc.returncode == 0 else {}
        runs.append({"seed": seed, "wall_s": wall, "exit": proc.returncode, **res})
        vals = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"correct {res.get('correct')} failed {res.get('failed')} {vals}", flush=True)

    summary = {}
    for name, bound in bounds.items():
        values = [r["metrics"][name]["value"] for r in runs if "metrics" in r]
        if len(values) < 2:
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound}
        flag = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "OVER")
        print(f"{name:12s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
              f"spread {spread:.3f}  bound {bound}  {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", f"spread-{args.workload}.json"), "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
