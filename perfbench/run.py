#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload cdc_poll --seed 1 --seconds 20 --trace 0

Builds graft and the harness from the checkout's sources on first use
(sbt, offline; outputs under .bench_build/ and the sbt target dirs), then
runs one JVM at local[<nproc>] for the workload and prints, as the last
line of stdout, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json.
With --trace 1 they are its per-layer metrics: that run starts a traced
and an untraced JVM on the same seed, and the tracing overhead is the
difference of their changed_ms_p50. A layer the workload does not
exercise (its `not_exercised` list in workloads.json) reads 0; any other
missing metric is an error. The exit code is non-zero when an output
check fails.
Inputs come from --seed and the read-only source tables under
$GRAFT_BENCH_DATA (default: `data` in workloads.json); every file a run writes lives
under .bench_build/ and is removed at the end, except the span file.
"""
import argparse
import fcntl
import fnmatch
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
RUN_LIMIT_S = 172  # every JVM of one run, after the build

# Spark 4 on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input: graft's sources and build, the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt (offline) unless already built.
    Concurrent runs serialize on a lock so only one of them builds."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        opts.append("-Dsbt.repository.config=" + repo_cfg)
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def run_jvm(args, trace, classpath, data, heap, deadline):
    """One benchmark JVM for the workload; its result dict, or None."""
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "work"))
    cmd = (["java", "-Xmx" + heap, "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--cores", str(cores), "--data", data,
              "--config", os.path.join(HERE, "workloads.json"),
              "--work", os.path.join(run_dir, "work"), "--outdir", run_dir,
              "--t0ms", str(int(time.time() * 1000))])
    log = os.path.join(run_dir, "jvm.log")
    result = None
    p = None
    try:
        with open(log, "w") as fh:
            j0 = time.time()
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                p.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                pass
            jvm_wall = time.time() - j0
        res_file = os.path.join(run_dir, "result.json")
        if os.path.exists(res_file):
            with open(res_file) as fh:
                result = json.load(fh)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        if result is None or result.get("status") != "ok":
            with open(log) as fh:
                tail = fh.read()[-4000:]
            print(tail, file=sys.stderr)
    finally:
        # the JVM never outlives this script, on a timeout or a signal
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is not None:
        info = dict(result.get("info", {}))
        info["jvm_wall_s"] = round(jvm_wall, 3)
        print(f"perfbench: trace={trace} {json.dumps(info)}", file=sys.stderr)
        for f in result["failures"]:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
    return result


def main():
    # SIGTERM unwinds like an exception, so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/build.sbt", "perfbench/workloads.json",
                 "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a full graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}")
    data = os.environ.get("GRAFT_BENCH_DATA", cfg["data"])
    if not os.path.isdir(data):
        die(f"source tables {data} not found")

    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    # a traced run also runs the untraced JVM on the same seed, for the
    # tracing overhead; odd seeds run the traced one first, so order cancels
    order = [0] if args.trace == 0 else [1, 0] if args.seed % 2 else [0, 1]
    results = {}
    for trace in order:
        results[trace] = run_jvm(args, trace, classpath, data, cfg["heap"], deadline)
        if results[trace] is None:
            die("the benchmark JVM produced no result")
    result = results[args.trace]

    metrics = {}
    if args.trace:
        plain, traced = results[0]["metrics"], results[1]["metrics"]
        if plain.get("changed_ms_p50") is None or traced.get("changed_ms_p50") is None:
            die("changed_ms_p50 was not measured, so neither is the tracing overhead")
        diff = traced["changed_ms_p50"] - plain["changed_ms_p50"]
        result["metrics"]["trace.overhead_ms"] = diff
        result["metrics"]["trace.overhead_ratio"] = diff / plain["changed_ms_p50"]
    skip = cfg["workloads"][args.workload]["not_exercised"]
    for m in bench["per_layer"] if args.trace else bench["end_to_end"]:
        v = result["metrics"].get(m["name"])
        if v is None:
            if args.trace and any(fnmatch.fnmatchcase(m["name"], p) for p in skip):
                v = 0.0  # a layer this workload does not exercise
            else:
                die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = all(r["status"] == "ok" and r["failed"] == 0 for r in results.values())
    print(json.dumps({
        "correct": correct,
        "attempted": sum(int(r["attempted"]) for r in results.values()),
        "failed": sum(int(r["failed"]) for r in results.values()),
        "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
