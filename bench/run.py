#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

Usage, from the repository root:

    python3 bench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Builds the harness under bench/ and, through it, the engine's own sbt build
(only when a source changed since the last build in this checkout), runs one workload
in a fresh JVM, and prints as the last line of stdout one JSON object
with the keys correct, attempted, failed and metrics. See bench/README.md.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
RUNS = os.path.join(BENCH, ".run")
WORKLOADS = ("query_mix", "store_churn")
JVM_TIMEOUT_S = 165

# JDK 17 module opens that spark-submit would otherwise pass
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def fail(msg, code):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_child(*_):
    """Kill the JVM's process group and wait for it before exiting."""
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(130)


def run_jvm(args, work, log):
    """Run graftbench.Main in a fresh `work` directory; returns (exit code, stdout)."""
    global child
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:disable",
           "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graftbench.Main", "--work", work,
            "--expected", os.path.join(BENCH, "expected"), *args]
    with open(log, "w") as err:
        child = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = child.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; log in {log}", 5)
    return child.returncode, out


def source_digest():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "log4j2.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile and package the harness and the engine with sbt."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
        os.remove(STAMP)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in env:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    os.makedirs(TARGET, exist_ok=True)
    os.makedirs(RUNS, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 4)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite bench/expected/query_mix.json from this run")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 3)
    digest = source_digest()
    build(digest)

    work = os.path.join(RUNS, a.workload)
    result = os.path.join(work, "result.json")
    log = os.path.join(RUNS, f"{a.workload}.jvm.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--result", result] + (["--record"] if a.record else [])
    t0 = time.time()
    rc, out = run_jvm(args, work, log)
    sys.stdout.write(out)
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload failed (exit {rc}); log in {log}", 6)
    with open(result) as fh:
        doc = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    meta = doc["meta"]
    meta.update({"git_sha": git_sha(), "source_sha256": digest,
                 "process_s": round(time.time() - t0, 3)})
    with open(os.path.join(RUNS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    print("meta " + json.dumps(meta, sort_keys=True))
    print(json.dumps(doc["result"]))


if __name__ == "__main__":
    main()
