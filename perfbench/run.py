#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: sync_backfill, sync_daily, corpus_select (see perfbench/README.md).
The first run in a checkout builds the program from source with sbt (the
benchmark's own build, perfbench/build.sbt) into .bench_build/; later runs
reuse that build while the sources are unchanged. The last line of standard
output is one JSON object with the keys correct, attempted, failed and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "sources.sha256")
WORKLOADS = ("sync_backfill", "sync_daily", "corpus_select")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list build.sbt
# of the program passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every source the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in (PROGRAM_SRC, BENCH_DIR):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "__pycache__"))
            for name in sorted(filenames):
                if name.endswith((".scala", ".sbt", ".properties")):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout and
    wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == digest:
                return
    log("building the program and the benchmark with sbt")
    os.makedirs(BUILD_DIR, exist_ok=True)
    code, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH_DIR, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH_FILE):
        raise SystemExit(f"build failed (sbt exit code {code})")
    with open(STAMP_FILE, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}; "
                         "run from the root of a graft checkout")
    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    # runs are sequential: whatever an earlier, killed run left is stale
    for stale in ("work", "tmp"):
        shutil.rmtree(os.path.join(BUILD_DIR, stale), ignore_errors=True)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        raise SystemExit(f"benchmark failed (exit code {code})")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    print(json.dumps(result), flush=True)
    if not result["correct"]:
        log("correctness check failed")


if __name__ == "__main__":
    main()
