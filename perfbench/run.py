#!/usr/bin/env python3
"""Benchmark of the tick serving path and the query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tick_query --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

The first run builds the engine and the harness with sbt (from source,
into perfbench/target) and later runs reuse that build while the sources
are unchanged. Each run starts one benchmark JVM with a fresh run
directory (its temp dir, Spark's local dir and the tick store), deletes
it afterwards, and prints every metric with its unit. The last line of
standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the per-layer metrics are printed instead of the
end-to-end ones, and the spans and the end-to-end metric each per-layer
metric should move go to perfbench/target/traces/.

--smoke runs every workload for a few ops on tiny inputs, traced and
untraced, and checks that every metric named in BENCHMARK.json is
printed with its unit.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
DATA = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JVM_OPTS = [
    "-Xmx3g",
    "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    opt
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """The Spark install to compile against: SPARK_HOME, else the first
    directory on the PATH with a spark-submit beside a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install: set SPARK_HOME or put its bin directory on the PATH")


def build():
    """Compile with sbt unless the last build used the same sources."""
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt build failed")
    cp = [l.strip() for l in p.stdout.splitlines()
          if l.startswith("/") and os.path.join(TARGET, "scala-2.13", "classes") in l]
    if not cp:
        fail("sbt printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP, "w") as fh:
        fh.write(fp)
    return cp[-1]


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def expected_metrics(trace):
    return {m["name"]: m["unit"] for m in benchmark()["per_layer" if trace else "end_to_end"]}


def run_jvm(classpath, workload, seed, seconds, trace, smoke):
    """Run one benchmark JVM under a deadline; return its report."""
    run_dir = os.path.join(TARGET, "runs", "%d-%d" % (os.getpid(), time.time_ns()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath, "perfbench.Main",
            workload, str(seed), str(seconds), "1" if trace else "0", run_dir, out,
            DATA, "1" if smoke else "0"])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM did not finish within %d s" % JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            fail("benchmark JVM exited with code %s and no result" % code)
        with open(out) as fh:
            return json.load(fh)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def check_metrics(report, trace):
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in report["metrics"].items()}
    problems = ["%s: missing" % k for k in want if k not in got]
    problems += ["%s: unit %s, expected %s" % (k, got[k], want[k])
                 for k in want if k in got and got[k] != want[k]]
    problems += ["%s: not in BENCHMARK.json" % k for k in got if k not in want]
    problems += ["%s: no value" % k for k, v in report["metrics"].items()
                 if not isinstance(v["value"], (int, float))]
    return problems


def run_one(classpath, workload, seed, seconds, trace, smoke):
    report = run_jvm(classpath, workload, seed, seconds, trace, smoke)
    problems = check_metrics(report, trace)
    if problems:
        fail("metrics do not match BENCHMARK.json: " + "; ".join(problems))
    if trace:
        traces = os.path.join(TARGET, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, "%s-seed%d.json" % (workload, seed))
        with open(path, "w") as fh:
            json.dump({k: report[k] for k in ("metrics", "moves", "spans")}, fh, indent=1)
    for name, m in report["metrics"].items():
        moves = report.get("moves", {}).get(name)
        print("%-36s %14.6g %-6s%s" % (name, m["value"], m["unit"],
                                       "  moves: " + moves if trace and moves else ""))
    return {"correct": bool(report["correct"]), "attempted": int(report["attempted"]),
            "failed": int(report["failed"]), "metrics": report["metrics"]}


def main():
    # a terminated run must not leave its JVM behind: turn SIGTERM into
    # SystemExit so run_jvm's cleanup kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft", "tick", "TickHttpServer.scala"),
                 os.path.join(ROOT, "BENCHMARK.json"), os.path.join(DATA, "sf0.001", "rows.tsv"),
                 os.path.join(DATA, "sf0.1", "events.parquet")):
        if not os.path.exists(need):
            fail("not a checkout of the engine: %s is missing" % os.path.relpath(need, ROOT))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    workloads = [w["name"] for w in benchmark()["workloads"]]
    if args.workload and args.workload not in workloads:
        fail("unknown workload %s; BENCHMARK.json has %s" % (args.workload, ", ".join(workloads)))
    classpath = build()
    if args.smoke:
        bad = []
        for w in workloads:
            for trace in (False, True):
                print("== smoke %s trace=%d" % (w, trace))
                r = run_one(classpath, w, args.seed, 1, trace, smoke=True)
                if not r["correct"]:
                    bad.append("%s trace=%d: %d of %d ops failed" % (w, trace, r["failed"], r["attempted"]))
        if bad:
            fail("smoke: " + "; ".join(bad))
        print("smoke: every workload printed every metric of BENCHMARK.json with its unit")
        return
    result = run_one(classpath, args.workload, args.seed, args.seconds, bool(args.trace), smoke=False)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
