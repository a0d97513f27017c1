#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 membench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the benchmark
together with the engine sources of the checkout (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run is one fresh JVM
in a fresh scratch directory under membench/target/work, removed afterwards.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Exits non-zero when the
build fails, an output check fails or the run does not finish in time.
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
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"membench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src", "main"), ENGINE_SRC):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = (os.path.exists(cp_file) and os.path.exists(stamp_file)
                 and open(stamp_file).read() == stamp)
        if not fresh:
            log = os.path.join(TARGET, "logs", "build.log")
            t0 = time.time()
            with open(log, "w") as out:
                p = subprocess.Popen(["sbt", "-batch", "compile", "writeClasspath"],
                                     cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True)
                if wait(p, BUILD_TIMEOUT_S) != 0:
                    fail(f"build failed, see {log}", 3)
            with open(stamp_file, "w") as f:
                f.write(stamp)
            print(f"[membench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file) as f:
        return f.read().strip()


def wait(p, timeout):
    """Waits for `p`; on timeout kills its whole process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full source checkout")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the checkout root")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(TARGET, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "membench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--spec", SPEC]
    log = os.path.join(TARGET, "logs", f"{name}.log")
    lines = []
    try:
        with open(log, "w") as err, open(log[:-4] + ".out", "w") as copy:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, start_new_session=True,
                                 text=True)
            # The watchdog bounds the whole run; output is relayed as it comes.
            timer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
            timer.start()
            try:
                for line in p.stdout:
                    lines.append(line.rstrip("\n"))
                    print(lines[-1], flush=True)
                    copy.write(line)
                code = p.wait()
            finally:
                timer.cancel()
            if code == -signal.SIGKILL:
                fail(f"run killed after {RUN_TIMEOUT_S} s, see {log}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or result is None:
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"run failed (exit {code}), log: {log}", 1)


if __name__ == "__main__":
    main()
