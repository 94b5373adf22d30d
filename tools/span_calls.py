#!/usr/bin/env python3
"""Per-call view of perfbench span files.

    python3 tools/span_calls.py A.spans.jsonl [B.spans.jsonl]

For every span name (one engine call, a streaming phase, an op root) it
prints the number of calls n and, as medians over the calls, the wall time,
the self time and the count and summed duration of the Spark jobs started
under the call (its job spans at any depth). Given two arguments it prints
both sides and the ratio B / A of each median.

An argument is a `.spans.jsonl` file that `perfbench/run.py --trace 1`
writes next to its result file, or a directory: every `*.spans.jsonl` in
it is pooled, so the calls of several seeds make one sample. Job spans
("job <id>", layer spark) are counted under their callers, not listed.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def is_job(s):
    return s["layer"] == "spark" and s["name"].startswith("job ")


def calls(path):
    """{name: [(wall_ms, self_ms, jobs, job_ms)]} over one spans file."""
    spans = []
    with open(path) as f:
        for line in f:
            if line.strip():
                spans.append(json.loads(line))
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs_under(sid):
        n, ms, todo = 0, 0.0, list(children.get(sid, ()))
        while todo:
            c = todo.pop()
            if is_job(c):
                n += 1
                ms += c["dur_ms"]
            todo.extend(children.get(c["id"], ()))
        return n, ms

    out = {}
    for s in spans:
        if not is_job(s):
            n, ms = jobs_under(s["id"])
            out.setdefault((s["layer"], s["name"]), []).append(
                (s["dur_ms"], s["self_ms"], n, ms))
    return out


def load(arg):
    files = (sorted(glob.glob(os.path.join(arg, "*.spans.jsonl")))
             if os.path.isdir(arg) else [arg])
    if not files:
        sys.exit(f"span_calls: no .spans.jsonl under {arg}")
    pooled = {}
    for p in files:
        for k, xs in calls(p).items():
            pooled.setdefault(k, []).extend(xs)
    return {k: (len(xs),) + tuple(statistics.median(x[i] for x in xs) for i in range(4))
            for k, xs in pooled.items()}


def fmt(v):
    return "-" if v is None else f"{v:.1f}"


def ratio(a, b):
    return "-" if a is None or b is None or a == 0 else f"{b / a:.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="spans file or directory (the base)")
    ap.add_argument("b", nargs="?", help="spans file or directory to compare")
    args = ap.parse_args()
    a = load(args.a)
    cols = ("wall_ms", "self_ms", "jobs", "job_ms")
    if args.b is None:
        print(f"{'layer':<10} {'name':<32} {'n':>5} " + " ".join(f"{c:>9}" for c in cols))
        for (layer, name), (n, *ms) in sorted(a.items(), key=lambda kv: -kv[1][1]):
            print(f"{layer:<10} {name:<32} {n:>5} " + " ".join(f"{fmt(v):>9}" for v in ms))
        return
    b = load(args.b)
    print(f"{'layer':<10} {'name':<32} {'n A':>5} {'n B':>5} " +
          " ".join(f"{c + ' A':>11} {c + ' B':>11} {'B/A':>6}" for c in cols))
    keys = sorted(set(a) | set(b), key=lambda k: -max(a.get(k, (0, 0))[1], b.get(k, (0, 0))[1]))
    for k in keys:
        na, *ma = a.get(k, (0, None, None, None, None))
        nb, *mb = b.get(k, (0, None, None, None, None))
        print(f"{k[0]:<10} {k[1]:<32} {na:>5} {nb:>5} " +
              " ".join(f"{fmt(x):>11} {fmt(y):>11} {ratio(x, y):>6}" for x, y in zip(ma, mb)))


if __name__ == "__main__":
    main()
