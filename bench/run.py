#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage (from the repository root):

    python3 bench/run.py --workload <serve_mixed|suite_sf0.01> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the harness (its own sbt build here, depending on the repository's
library build) when either changed, then runs the workload in one JVM. Every metric is
printed as `metric <name> <value> <unit>`; the last line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. Exits non-zero without
a result line when the library sources are missing, the build fails, the
run fails or it overruns its time limit.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("serve_mixed", "suite_sf0.01")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    want = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_tmp = os.path.join(TARGET, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={sbt_tmp}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("bench: building harness and library", file=sys.stderr)
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    cp = [l for l in p.stdout.splitlines() if "target" in l and "classes" in l and ":" in l]
    sys.stderr.write("\n".join(l for l in p.stdout.splitlines()[-40:] if l not in cp) + "\n")
    if p.returncode != 0 or not cp:
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(want)


def run(args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ActiveProcessorCount=4",
            "-XX:ReservedCodeCacheSize=512m", "-XX:MaxMetaspaceSize=1g",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.harness.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", OUT, "--data", os.path.join(BENCH, "data")]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"), "w") as fh:
        fh.write(err)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(err[-2000:])
        fail(f"run failed with exit code {p.returncode}")
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(err[-2000:])
        fail("run printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}")
    t0 = time.time()
    build()
    print(f"bench: ready after {time.time() - t0:.1f} s", file=sys.stderr)
    run(args)


if __name__ == "__main__":
    main()
