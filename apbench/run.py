#!/usr/bin/env python3
"""Benchmark of the apollospark product path and its query suite.

Usage (from the root of a checkout):

    python3 apbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  rpc_backfill   historical `graft run` jobs over an HCL schema, through
                 JSON-RPC against a loopback node, into the CSV sink
  ops_mix        passes over eleven SparkEntry queries, each run to completion
                 into a local checkpoint, on the sf0.01 tables kept in
                 apbench/tables

The first run in a checkout compiles the program's sources together with the
harness (apbench/harness, sbt); later runs reuse the build until a source
file changes. Each run gets its own working directory (Spark warehouse,
checkpoints, temp files) under apbench/.work, removed when the run ends.

Each ops_mix result is checked against apbench/ops_mix_sf0.01.hashes: the
row count and OpsMix.resultHash of each query's graft.Verify output on the
same tables, output that passed tools/check.py.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end-to-end with --trace 0, per-layer
with --trace 1). The full record of the run (every per-operation sample,
spans, load averages, and which end-to-end metric each per-layer metric is
meant to move) is kept in apbench/out/<workload>-seed<n>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
BUILD_STAMP = os.path.join(HARNESS, "target", "apbench-build.json")
WORKLOADS = ("rpc_backfill", "ops_mix")
JVM_TIMEOUT_S = 170

# The end-to-end metric each per-layer metric is meant to move. Counts are
# per operation: per backfill job, or per ops_mix pass. Every ext.<query>_s
# moves ops_mix/op_p50_s.
MOVES = {
    "model.parse_ms": "rpc_backfill/op_p50_s",
    "engine.compile_ms": "rpc_backfill/op_p50_s",
    "engine.sinks.csv_ms": "rpc_backfill/op_p50_s",
    **{f"sources.{m}": "rpc_backfill/rows_per_s" for m in (
        "calls.eth_getLogs", "calls.eth_getBlockByNumber", "calls.eth_blockNumber",
        "rejected_32005", "node_busy_ms", "rows_per_call", "header_cache_hit_ratio")},
    # only stream_index_upsert runs a stream
    **{f"streaming.{m}": "ops_mix/op_p50_s" for m in (
        "batches", "rows_per_batch", "trigger_ms", "latest_offset_ms", "add_batch_ms",
        "wal_commit_ms", "query_planning_ms")},
    **{f"spark.{m}": "ops_mix/op_p50_s, rpc_backfill/op_p50_s" for m in (
        "jobs", "stages", "tasks", "task_run_s", "plan_ms", "driver_gap_ms",
        "shuffle_write_mb", "spill_mb")},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# Prefixes of the per-layer metrics each workload must emit in a traced run.
# The other metrics belong to layers the workload never reaches.
REACHES = {
    "rpc_backfill": ("model.", "engine.", "sources.", "spark."),
    "ops_mix": ("ext.", "streaming.", "spark."),
}


def moves(metric):
    return "ops_mix/op_p50_s" if metric.startswith("ext.") else MOVES[metric]


def fail(msg):
    print(f"apbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program sources and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources at {os.path.join(ROOT, 'src', 'main', 'scala')}")
    stamp = source_stamp()
    try:
        with open(BUILD_STAMP) as f:
            prev = json.load(f)
        if prev.get("stamp") == stamp:
            return prev["classpath"]
    except (OSError, ValueError):
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    with open(BUILD_STAMP, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, work, report):
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}", f"-Dderby.system.home={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "apbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--report", report,
            "--data", os.path.join(BENCH, "tables", "sf0.01"),
            "--expected", os.path.join(BENCH, "ops_mix_sf0.01.hashes")]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    with open(log_path, errors="replace") as f:
        for line in f:
            if line.startswith("[apbench]"):
                sys.stderr.write(line)
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail("timed out" if code is None else f"JVM exited with {code}")


def cpu_times():
    """Machine-wide (busy, steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7], sum(v[:8])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = os.path.join(work, "report.json")
    try:
        run_jvm(classpath, args, work, report)
        with open(report) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["loadavg_harness"] = {"start": load_start, "end": os.getloadavg()[0]}
    busy, steal, total = (b - a for a, b in zip(cpu_start, cpu_times()))
    rec["cpu_share"] = {"busy": busy / max(total, 1), "steal": steal / max(total, 1)}
    rec["moves"] = {m["name"]: moves(m["name"]) for m in spec["per_layer"]}
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{{}}.json"
    other = os.path.join(out_dir, name.format(1 - args.trace))
    if os.path.exists(other):
        # tracing overhead: traced end-to-end values minus untraced ones
        with open(other) as f:
            o = json.load(f)
        traced, plain = (rec, o) if args.trace else (o, rec)
        rec["tracing_overhead"] = {k: traced["end_to_end"][k] - v
                                   for k, v in plain["end_to_end"].items()}
    with open(os.path.join(out_dir, name.format(args.trace)), "w") as f:
        json.dump(rec, f)

    declared = spec["per_layer" if args.trace else "end_to_end"]
    measured = rec["per_layer" if args.trace else "end_to_end"]
    unknown = set(measured) - {m["name"] for m in declared}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    required = [m["name"] for m in declared
                if not args.trace or m["name"].startswith(REACHES[args.workload])]
    missing = [k for k in required if k not in measured]
    if missing:
        fail(f"metrics not measured: {missing}")
    # a per-layer metric of a layer this workload never reaches reads 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    if args.trace:
        for k, m in metrics.items():
            print(f"apbench: {k} = {m['value']:.6g} {m['unit']}, moves {moves(k)}", file=sys.stderr)
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
