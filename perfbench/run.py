#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <dashboards|replication> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark's JVM
side with sbt (perfbench/build.sbt) into .bench_build/. Every run then
makes its inputs from the seed, starts one fresh JVM with a fixed heap
on a scratch root of its own, checks the program's outputs against
DuckDB and the generator's own tallies, and removes the scratch root.

With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones; a traced run also
leaves its span list in .bench_build/spans/<workload>-<seed>.json.
When the JVM fails, the tail of its log goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import inputs  # noqa: E402

BUILD = ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the JVM side once per source tree; return
    the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(root, BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (log in {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(root, cp, workload, inputs_dir, scratch, trace, start_ns):
    out = os.path.join(scratch, "result.json")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: in a one-minute JVM the C2 compiler never finishes with
    # Spark's generated classes, and its threads take cores from the
    # timed phase, so wall times swing with compile activity
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(scratch, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'spark-warehouse')}",
            f"-Dderby.system.home={scratch}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--inputs", inputs_dir,
            "--scratch", scratch, "--trace", str(trace),
            "--start-ns", str(start_ns), "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    log = os.path.join(scratch, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=lf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -1
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            lines = [l for l in f.read().splitlines()
                     if " INFO " not in l and " WARN " not in l]
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        return None
    with open(out) as f:
        return json.load(f)


def metric_specs(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dashboards", "replication"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft", "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the engine: {need} is missing in {root}")
    cp = build(root)

    # set-up starts here: everything after the build counts in setup_s
    start_ns = time.time_ns()
    scratch = os.path.join(root, BUILD, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        inputs_dir = os.path.join(scratch, "inputs")
        made = inputs.make(a.workload, a.seed, a.seconds, inputs_dir)
        res = run_jvm(root, cp, a.workload, inputs_dir, scratch, a.trace,
                      start_ns)
        if res is None:
            fail("the JVM run failed")
        bad = checks.check(a.workload, made, inputs_dir, scratch, res)
        if a.trace:
            spans_dir = os.path.join(root, BUILD, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            shutil.copy(os.path.join(scratch, "spans.json"),
                        os.path.join(spans_dir, f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    values = res["layers"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]}
               for m in metric_specs(root, a.trace)}
    failed = min(res["attempted"], res["failed"] + bad["failed"])
    info = dict(res["info"], check_failures=bad["reasons"][:10])
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": not bad["reasons"],
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
