#!/usr/bin/env python3
"""Hermetic benchmark of the osm-admin engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources (once per
source state; the build lives in .bench_build/), then runs one workload in
one JVM at local[N], N = min(4, nproc). The JVM generates its inputs from
the seed (cached in .bench_build/work/inputs), measures, checks every
output and prints one JSON object as the last line of standard output.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BUILD, "sbt-target")
WORK = os.path.join(BUILD, "work")
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build: engine sources and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(TARGET, "source.digest")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building engine + benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    log(f"build took {time.time() - t:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as f:
        return f.read().strip()


def heap_gb():
    """Half the machine's memory, clamped to [2, 4] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 4


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no engine sources under ./src/main/scala/graft: run from the root of a checkout")
        return 2
    classpath = build()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    deadline = time.time() + RUN_TIMEOUT_S
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", WORK]
    # inputs first, in their own JVM (a no-op when cached), so the
    # measuring JVM starts in the same state either way
    rc, _ = run_java(classpath, common + ["--generate", "1"], deadline)
    if rc != 0:
        log(f"input generation failed (exit {rc})")
        return rc
    rc, out = run_java(classpath, common + ["--seconds", str(a.seconds), "--trace", a.trace],
                       deadline)
    lines = [l for l in out.splitlines() if l.strip()]
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result:
            print(l, file=sys.stderr)
    if result is None:
        log(f"no result line (JVM exit {rc})")
        return rc or 4
    print(result, flush=True)
    return rc


def run_java(classpath, args, deadline):
    """Run perfbench.Main in a JVM; stop it (and wait) at the deadline."""
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            env=env, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 3, ""
    return proc.returncode, out


if __name__ == "__main__":
    sys.exit(main())
