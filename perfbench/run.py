#!/usr/bin/env python3
"""Layered build / serve / NRT benchmark of the lucenespark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve|small --seed N \
        --seconds S --trace 0|1

Compiles the engine and the benchmark with sbt (offline) when the sources
changed since the last build, then runs one measurement in a fresh JVM.
Compilation happens before anything is timed. The last line of standard
output is the result object; the full report, with the host block and every
span of a traced run, goes to perfbench/out/.
"""

import argparse
import ctypes
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
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# One run must end within 180 s; the first, which compiles, within 900 s.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the benchmark build compiles, in a stable order."""
    roots = [os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def die_with_parent():
    """In the child: get SIGKILL when this script dies, however it dies."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def run_bounded(cmd, cwd, env, limit_s, stdout):
    """Run `cmd` in its own process group; kill the group after `limit_s`,
    or when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, preexec_fn=die_with_parent)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(digest):
    """Compile with sbt when the sources changed; returns the classpath."""
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("compiling (sbt, offline)")
    t0 = time.time()
    rc, _ = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        HERE, env, BUILD_LIMIT_S, sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"perfbench: sbt build failed (exit {rc})")
    log(f"compiled in {time.time() - t0:.0f} s")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    with open(CLASSPATH) as fh:
        return fh.read().strip()


def heap_gb():
    """Half of MemTotal, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        rev = out.stdout.strip() if out.returncode == 0 else "nogit"
    except (OSError, subprocess.TimeoutExpired):
        rev = "nogit"
    return f"{rev}+src.{digest[:12]}"


def main():
    # turn SIGTERM into SystemExit so the child group is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "small"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit(f"perfbench: no engine sources under {ROOT}; "
                         "run from a checkout of the repository")
    digest = source_hash()
    classpath = build(digest)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, "work", run_id)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    report = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    # ParallelGC as in the engine's own build: no concurrent GC threads
    # competing with the four executor threads
    cmd = [java, f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--report", report]
    env = dict(os.environ, PERFBENCH_COMMIT=commit_id(digest))
    try:
        rc, out = run_bounded(cmd, ROOT, env, RUN_LIMIT_S, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: measurement exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    for line in lines[:-1]:
        print(line)
    if rc != 0 or not lines:
        raise SystemExit(f"perfbench: measurement failed (exit {rc})")
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS or result["attempted"] < 1:
        raise SystemExit(f"perfbench: malformed result {lines[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
