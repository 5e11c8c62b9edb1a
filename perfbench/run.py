#!/usr/bin/env python3
"""Workload benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark harness from source on first use (sbt, into
the checkout's own target directories), then runs one workload in a fresh
JVM. The harness prints its metrics one per line and, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. The exit code is 0 only when every correctness check passed.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RUN_DIR = os.path.join(HERE, ".run")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "stamp")

WORKLOADS = ["ivf_online", "hnsw_lifecycle", "dedup_corpus"]
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these module opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run cmd in its own process group; kill the group on timeout and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile graft and the harness; cache the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("graft's sources (build.sbt, src/main) are not next to the benchmark; nothing to build", 2)
    want = stamp()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    log_path = os.path.join(BUILD_DIR, "build.log")
    t0 = time.time()
    with open(log_path, "wb") as log:
        code, _ = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                              HERE, BUILD_TIMEOUT_S, env=env, stdout=log, stderr=subprocess.STDOUT)
    with open(log_path, errors="replace") as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log_path}", 3)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    build()
    with open(CLASSPATH_FILE) as fh:
        classpath = fh.read().strip()

    work = os.path.join(RUN_DIR, f"w{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workdir", os.path.join(work, "data"),
            "--tracefile", os.path.join(RUN_DIR, f"trace_{a.workload}_{a.seed}.jsonl")]
    log_path = os.path.join(RUN_DIR, f"{a.workload}_{a.seed}_{a.trace}.log")
    try:
        with open(log_path, "wb") as log:
            code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE, stderr=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped; log in {log_path}", 4)
    lines = out.decode(errors="replace").rstrip("\n").splitlines()
    has_result = bool(lines) and lines[-1].startswith("{")
    for l in lines:
        print(l)
    sys.stdout.flush()
    if code != 0 or not has_result:
        fail(f"run failed (exit {code}); log in {log_path}", code or 5)

if __name__ == "__main__":
    main()
