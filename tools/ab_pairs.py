#!/usr/bin/env python3
"""Paired A/B of two revisions on one perfbench workload or on graft.Bench queries.

    python3 tools/ab_pairs.py --base HEAD~1 --change HEAD --workload tick \\
        --pairs 10 --first-seed 101 [--seconds 12] [--trace 0] [--dir DIR]
    python3 tools/ab_pairs.py --base HEAD~1 --change HEAD \\
        --bench q111_datasource_read,q116_catalog_sql [--sf DIR] --pairs 10

Exports each revision into its own directory under DIR (`git archive`, so
each side builds into its own `target/` and `.bench_build/`, the
repository's working tree is left as it is and no worktree is registered
in its `.git`), then runs
`python3 perfbench/run.py` alternately in the two: pair i uses seed
first-seed + i on both sides, and the side that runs first alternates from
pair to pair (ABBA), so drift in the host's speed falls on both sides
alike. `--change WORKTREE` benchmarks the current working tree: tracked
files as they are on disk plus staged new files (`git stash create`).

Before the pairs, each side runs once untimed (seed 0) so that the sbt build
and a cold page cache land outside the measured runs (`--no-warmup` skips
it).

With `--trace 1` each run's metrics are the per-layer map of its last line
plus the end-to-end figures of the result file it writes
(`.bench_build/results/<workload>-seed<N>-trace1.json`), so a traced A/B
also reads as the untraced one's no-regression check.

For every metric of the runs it prints each side's median and
quartiles (statistics.quantiles, n=4), the change's win fraction over the
pairs (the direction comes from BENCHMARK.json), the ratio of the medians
with both bases, and whether the difference of the medians exceeds the
base's interquartile range. All runs and the summary go to
DIR/ab_pairs-<workload>.json. The benchmark itself (perfbench/) is only
run, never edited.

With `--bench q1,q2,...` a run is instead `sbt -batch 'runMain graft.Bench'`
with SPARK_GRAFT_BENCH_ONLY set to those exact query names and
SPARK_GRAFT_SF_DIR to `--sf` (default /root/testdata/sf0.01): each run
times every named query (median of graft.Bench's iterations after its own
warm-up), and the metrics are the per-query seconds plus their `total`,
all lower-is-better. Pairs alternate order the same way; a run counts as
correct when every named query finished (graft.Bench reports -1 for a
failed one). The summary goes to DIR/ab_pairs-bench.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          stdout=subprocess.PIPE, text=True, **kw).stdout.strip()


def resolve(rev):
    if rev == "WORKTREE":
        # a commit object holding the index and the tracked working files;
        # empty output means there is nothing uncommitted
        return git("stash", "create") or git("rev-parse", "HEAD")
    return git("rev-parse", "--verify", f"{rev}^{{commit}}")


def export(commit, dest):
    if os.path.exists(dest):
        sys.exit(f"ab_pairs: {dest} exists; pass an empty --dir")
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", commit],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {commit} failed")


def run(side, checkout, workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
    except json.JSONDecodeError:
        res = {}
    if trace and res:
        # a traced run's last line carries the per-layer map only; its
        # end-to-end figures are in the result file it wrote
        path = os.path.join(checkout, ".bench_build", "results",
                            f"{workload}-seed{seed}-trace1.json")
        with open(path) as f:
            e2e = json.load(f)["end_to_end"]
        res.setdefault("metrics", {}).update(
            {k: {"value": m["value"], "unit": m["unit"]} for k, m in e2e.items()
             if m["value"] is not None})
    return {"side": side, "seed": seed, "exit": proc.returncode,
            "wall_s": round(time.time() - t0, 1), **res}


def run_bench(side, checkout, queries, sf, pair):
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=queries, SPARK_GRAFT_SF_DIR=sf)
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=checkout, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    res = {}
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith('{"metric"'):
            try:
                res = json.loads(line)
            except json.JSONDecodeError:
                pass
            break
    times = res.get("queries", {})
    metrics = {q: {"value": v} for q, v in times.items() if v >= 0}
    if metrics:
        metrics["total"] = {"value": res["value"]}
    failed = sum(1 for v in times.values() if v < 0)
    return {"side": side, "seed": pair, "exit": proc.returncode,
            "wall_s": round(time.time() - t0, 1), "metrics": metrics,
            "correct": proc.returncode == 0 and bool(times) and failed == 0,
            "failed": failed}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="revision of the base side")
    ap.add_argument("--change", required=True, help="revision of the change side, or WORKTREE")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", help="a perfbench workload")
    mode.add_argument("--bench", help="comma-separated exact graft.Bench query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="graft.Bench data directory (--bench only)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, help="perfbench seed of pair 1 (--workload only)")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dir", help="empty directory for the two checkouts (default: a temp dir)")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()
    if args.workload and args.first_seed is None:
        ap.error("--workload needs --first-seed")
    if args.bench:
        args.first_seed = 1  # pair numbers stand in for seeds
    label = args.workload or "bench"

    def one(side, seed):
        if args.bench:
            return run_bench(side, dirs[side], args.bench, args.sf, seed)
        return run(side, dirs[side], args.workload, seed, seconds, args.trace)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    end_to_end = {m["name"] for m in spec["end_to_end"]}

    work = args.dir or tempfile.mkdtemp(prefix="ab_pairs-")
    os.makedirs(work, exist_ok=True)
    revs = {"base": resolve(args.base), "change": resolve(args.change)}
    dirs = {side: os.path.join(work, side) for side in revs}
    for side, commit in revs.items():
        export(commit, dirs[side])
        print(f"{side}: {args.base if side == 'base' else args.change} = {commit} -> {dirs[side]}",
              flush=True)

    if not args.no_warmup:
        for side in ("base", "change"):
            r = one(side, 0)
            print(f"warm-up {side}: exit {r['exit']} wall {r['wall_s']}s", flush=True)
            if r["exit"] != 0:
                sys.exit(f"ab_pairs: the {side} side does not run; see "
                         f"{'graft.Bench' if args.bench else 'python3 perfbench/run.py'} "
                         f"in {dirs[side]}")

    runs = []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = one(side, seed)
            runs.append(r)
            # traced runs carry ~45 metrics: those show in the summary only
            shown = {k: round(v["value"], 4) for k, v in r.get("metrics", {}).items()
                     if args.trace == 0 or k in end_to_end}
            print(f"pair {i + 1} seed {seed} {side:6s}: exit {r['exit']} wall {r['wall_s']}s "
                  f"correct {r.get('correct')} failed {r.get('failed')} {shown}", flush=True)

    def values(side, name):
        return {r["seed"]: r["metrics"][name]["value"] for r in runs
                if r["side"] == side and name in r.get("metrics", {})}

    names = sorted({k for r in runs for k in r.get("metrics", {})})
    summary = {}
    if args.bench:
        print(f"\ngraft.Bench {args.bench} on {args.sf}: {args.pairs} pairs")
    else:
        print(f"\n{args.workload}: {args.pairs} pairs, seeds {args.first_seed}-"
              f"{args.first_seed + args.pairs - 1}, {seconds:g} s runs, trace {args.trace}")
    print(f"{'metric':32s} {'base median [q1, q3]':28s} {'change median [q1, q3]':28s} "
          f"{'ratio':>7s} {'wins':>6s}  diff>IQR(base)")
    for name in names:
        b, c = values("base", name), values("change", name)
        paired = [s for s in b if s in c]
        if not paired:
            continue
        bq, cq = quartiles(sorted(b.values())), quartiles(sorted(c.values()))
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for s in paired if (c[s] < b[s] if lower else c[s] > b[s]))
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        resolved = abs(cq[1] - bq[1]) > (bq[2] - bq[0])
        summary[name] = {"base": {"median": bq[1], "q1": bq[0], "q3": bq[2], "n": len(b)},
                         "change": {"median": cq[1], "q1": cq[0], "q3": cq[2], "n": len(c)},
                         "ratio": ratio, "wins": wins, "pairs": len(paired),
                         "better": "lower" if lower else "higher",
                         "diff_exceeds_base_iqr": resolved}
        bs = f"{bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
        cs = f"{cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]"
        print(f"{name:32s} {bs:28s} {cs:28s} {ratio:7.3f} {wins:3d}/{len(paired):<2d}  "
              f"{'yes' if resolved else 'no'}  ({cq[1]:.4g} / {bq[1]:.4g})")
    failed = [r for r in runs if r["exit"] != 0 or not r.get("correct")]
    print(f"runs not correct or failed: {len(failed)} of {len(runs)}")
    out = os.path.join(work, f"ab_pairs-{label}.json")
    with open(out, "w") as f:
        json.dump({"revisions": revs, "args": vars(args), "seconds": seconds,
                   "runs": runs, "summary": summary}, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
