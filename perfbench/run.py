#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload x10_heavy --seed 1 --seconds 6 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(perfbench/build.sbt pulls in the root build.sbt unchanged) and generates
the x10 input with graft.tools.SoakGen; later runs reuse both until a
source file changes. Each run then starts one JVM with a fresh work
directory under perfbench/.work/runs/, removed when the run ends. The last
line of standard output is the run's JSON result; diagnostics go to
standard error. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data")
X10 = os.path.join(WORK, "x10")
WORKLOADS = ("x10_heavy", "stream_ladder")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 870
HEAP = "6g"
# a fixed floor keeps the collector from shrinking the heap after each
# checkpoint's full collection and growing it back during the next phase
HEAP_MIN = "2g"
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, deadline, stdout):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} did not finish in time")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def java_cmd(classpath, tmpdir, main, args):
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xms{HEAP_MIN}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=1g",
             "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmpdir}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             "-cp", classpath, main] + args)


def build(deadline):
    """Compile (once per source digest) and return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        fresh = (os.path.exists(stamp) and os.path.exists(cp_file)
                 and open(stamp).read() == digest)
        if not fresh:
            code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                   "export Runtime/fullClasspath"],
                                  BENCH, deadline, subprocess.PIPE)
            lines = [l for l in out.splitlines() if l.strip()]
            if code != 0 or not lines or "perfbench" not in lines[-1]:
                print(out[-4000:], file=sys.stderr)
                die("build failed")
            with open(cp_file, "w") as fh:
                fh.write(lines[-1].strip())
            with open(stamp, "w") as fh:
                fh.write(digest)
        classpath = open(cp_file).read().strip()
        if not os.path.isdir(X10):
            prep = os.path.join(WORK, "prepare")
            shutil.rmtree(prep, ignore_errors=True)
            shutil.rmtree(X10 + ".tmp", ignore_errors=True)
            os.makedirs(os.path.join(prep, "tmp"))
            code, _ = run_child(java_cmd(classpath, os.path.join(prep, "tmp"), "perfbench.Prepare",
                                         [os.path.join(DATA, "sf0.1"), X10, prep]),
                                prep, deadline, sys.stderr)
            shutil.rmtree(prep, ignore_errors=True)
            if code != 0 or not os.path.isdir(X10):
                die("generating the x10 input failed")
        return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append this run's output fingerprints to a file")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "data", "sf0.1"), os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout")

    start = time.time()
    built = os.path.exists(os.path.join(WORK, "build.stamp"))
    classpath = build(start + (RUN_LIMIT_S if built else BUILD_LIMIT_S))
    deadline = max(start + RUN_LIMIT_S, time.time() + RUN_LIMIT_S - 10)

    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
                "--data", DATA, "--x10", X10, "--work", run_dir,
                "--expected", os.path.join(BENCH, "expected.tsv"),
                "--trace-out", os.path.join(WORK, "traces")]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        code, out = run_child(java_cmd(classpath, os.path.join(run_dir, "tmp"), "perfbench.Main", args),
                              run_dir, deadline, subprocess.PIPE)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        die(f"run failed with exit code {code}")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        die(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(wanted.items()))}")
    print(lines[-1])


if __name__ == "__main__":
    main()
