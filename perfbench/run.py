#!/usr/bin/env python3
"""Pipeline benchmark: builds the engine and the harness from source, runs
one workload in a fresh JVM, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload tick --seed 1 --seconds 12 --trace 0

Workloads: tick, stream-read, query-mix, backfill (see perfbench/README.md).
`--trace 1` records spans and prints the per-layer metrics instead of the
end-to-end ones. `--plant` plants one wrong expectation per check family,
to show that the checks report it. The last line of standard output is one
JSON object: correct, attempted, failed and metrics. Results and spans go
to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = "/root/testdata/sf0.01"  # query-mix's input tables
# tick and stream-read are the gated workloads in BENCHMARK.json; query-mix
# and backfill run the same way but cost too much per run to be gated
WORKLOADS = ("tick", "stream-read", "query-mix", "backfill")
QUERY_MIX_ROWS = ("q45_frame_sample", "q83_repetition", "q86_bucketed_join")

END_TO_END = ("setup_s", "op_p50_s")
# the per-layer metrics of the last line with --trace 1 (BENCHMARK.json's
# per_layer); a layer that does not run on a workload reports 0
LAYER_UNITS = {
    "ingest.tick_ms": "ms", "ingest.files_detected": "count", "ingest.useful_ratio": "ratio",
    "graph.processed_ms": "ms", "graph.backwards_ms": "ms", "graph.backwards_useful_ratio": "ratio",
    "table.commits": "count", "table.stage_ms": "ms", "table.harvest_ms": "ms",
    "table.promote_ms": "ms", "table.publish_ms": "ms", "table.files_written": "count",
    "table.live_files": "count", "table.bytes_per_input_byte": "ratio",
    "table.open_ms": "ms", "table.read_partition_ms": "ms", "table.read_at_ms": "ms",
    "table.changes_ms": "ms", "sources.format_read_ms": "ms",
    "streaming.batches": "count", "streaming.get_batch_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.hop_drain_ms": "ms", "streaming.hop_commits": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_ms": "ms",
    "spark.driver_gap_ms": "ms", "spark.task_ms": "ms", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    **{f"self.{l}_ms": "ms" for l in
       ("bench", "ingest", "graph", "table", "sources", "streaming", "spark")},
    "jvm.gc_ms": "ms", "jvm.peak_rss_mb": "MB",
}
# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, p) for p in
             ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties")]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("the engine's sources (build.sbt, src/main) are not in this checkout")
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        die("sbt is not on the PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=850, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1].strip(),
                   "build_s": time.time() - t0}, f)
    return cp[-1].strip()


def run_jvm(cp, args, out):
    """Run perfbench.Main in its own process group and wait for it. Its
    temp files and Spark's local dirs stay under the run's directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--sf", SF_DIR] + (["--plant"] if args.plant else [])
    proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=args.seconds + 140)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("the benchmark JVM timed out")
    if code != 0:
        die(f"the benchmark JVM exited with {code}")


def oracle_check(args, qdir, result):
    """Compare each query-mix row's result with its DuckDB oracle, using the
    comparator of tools/check_oracle.py. One check per row."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    if args.plant:
        path = os.path.join(qdir, "oracle_sql.json")
        with open(path) as f:
            oracle = json.load(f)
        row = QUERY_MIX_ROWS[0]
        oracle[row] = f"SELECT * FROM ({oracle[row]}) AS planted LIMIT 0"
        with open(path, "w") as f:
            json.dump(oracle, f)
    proc = subprocess.run([sys.executable, checker, SF_DIR, qdir], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=120)
    ok = {l.split()[1].rstrip(":") for l in proc.stdout.splitlines() if l.startswith("[ok]")}
    for row in QUERY_MIX_ROWS:
        result["attempted"] += 1
        if row not in ok:
            result["failed"] += 1
            result["failures"].append(f"oracle check {row} failed")
    result["oracle_output"] = proc.stdout.strip().splitlines()


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="plant a wrong expectation in every check family")
    args = ap.parse_args()

    cp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}" + ("-planted" if args.plant else "")
    out = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(cp, args, out)
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    if args.workload == "query-mix":
        oracle_check(args, os.path.join(out, "query-mix"), result)
    for d in ("work", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    attempted, failed = result["attempted"], result["failed"]
    result["failed_ops_ratio"] = failed / max(1, attempted)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    if args.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(results, tag + ".spans.jsonl"))

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    print(f"session: {result['session']}")
    for section in ("end_to_end", "figures", "per_layer"):
        for k, m in result[section].items():
            print(f"  {section:10s} {k:34s} {fmt(m['value']):>12s} {m['unit']:6s} n={m['n']}")
    print(f"  failed_ops_ratio {result['failed_ops_ratio']:.6g} ({failed} of {attempted})")
    for line in result["failures"]:
        print(f"  FAILED: {line}")

    if args.trace:
        layer = result["per_layer"]
        metrics = {k: {"value": layer.get(k, {}).get("value") or 0.0, "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        e2e = result["end_to_end"]
        metrics = {k: {"value": e2e[k]["value"] if e2e[k]["value"] is not None else 0.0,
                       "unit": e2e[k]["unit"]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
