#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine's sources together with the harness under perfbench/src
(sbt, offline; rebuilt only when a source file changed), then runs the
workload in one fresh JVM on local[nproc]. The last line of standard
output is the result JSON; the line before it is a report with the
environment stamp. Everything the run writes stays under perfbench/target.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "graftbench.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ["dirt_corpus", "dedup_ingest", "dirt_pairs"]

RUN_LIMIT_S = 175     # a run must end within 180 s ...
FIRST_LIMIT_S = 890   # ... or 900 s when it builds first
BUILD_LIMIT_S = 700
HEAP = "-Xmx4g"

# Spark on JDK 17 needs these when it is not launched through spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail(2, "no Spark installation found (set SPARK_HOME)")
    return jars


def source_hash():
    """SHA-256 over every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars, digest):
    """Builds unless the stamp says these exact sources are built."""
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, GRAFTBENCH_SPARK_JARS=jars,
               COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(3, f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return True


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        fail(2, "--workload is required")
    started = time.monotonic()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(2, f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    digest = source_hash()
    built = build(jars, digest)
    limit = FIRST_LIMIT_S if built or a.selftest else RUN_LIMIT_S
    remaining = limit - (time.monotonic() - started)

    work = os.path.join(TARGET, "work", str(os.getpid()))
    label = "selftest" if a.selftest else f"{a.workload}-trace{a.trace}"
    logs = os.path.join(TARGET, "logs")
    os.makedirs(logs, exist_ok=True)
    args = ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        args += ["--trace-out", os.path.join(
            TARGET, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + [HEAP, f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
              "graftbench.Main"] + args + ["--work", work])
    env = dict(os.environ, GRAFTBENCH_COMMIT=git_commit(),
               GRAFTBENCH_SOURCE_HASH=digest)
    log = os.path.join(logs, f"{label}.log")
    try:
        with open(log, "w") as err:
            child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                     stdout=subprocess.PIPE, stderr=err, text=True)

            def stop(signum, _frame):
                child.kill()
                child.wait()
                sys.exit(128 + signum)

            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = child.communicate(timeout=max(1.0, remaining))
            except subprocess.TimeoutExpired:
                child.kill()
                child.communicate()
                fail(4, f"{label} exceeded its time limit; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if child.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(child.returncode or 1, f"{label} exited with {child.returncode}; log in {log}")
    lines = out.strip().splitlines()
    if not a.selftest and not (lines and lines[-1].startswith('{"correct"')):
        fail(1, f"{label} printed no result; log in {log}")


if __name__ == "__main__":
    main()
