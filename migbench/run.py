#!/usr/bin/env python3
"""Benchmark of graft.migrator.Migrator.migrate.

Run from the repository root:

    python3 migbench/run.py --workload seq_dml_100k --seed 1 --seconds 20 --trace 0

Builds the repository and the benchmark with sbt (offline) on first use,
then runs migbench.Main in one JVM. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Exits
non-zero, printing no result, when the build, the run or a check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "classpath.stamp")
WORKLOADS = ("seq_dml_100k", "noop_on_history", "fresh_bootstrap")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these opens (the root
# build's javaOptions carry the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"migbench: {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    digest = sources_digest()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    log("building (sbt compile)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = out.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if out.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("migbench: build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(digest)


def check_result(line):
    """The result line, or SystemExit when it is not a complete result."""
    try:
        r = json.loads(line)
        ok = (set(r) == {"correct", "attempted", "failed", "metrics"}
              and isinstance(r["attempted"], int) and r["attempted"] >= 1
              and all(set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
                      for m in r["metrics"].values()))
    except (ValueError, AttributeError, TypeError):
        ok = False
    if not ok:
        raise SystemExit(f"migbench: not a complete result: {line}")
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "migrator", "Migrator.scala")):
        raise SystemExit("migbench: the migrator sources are missing; run from a full checkout")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "migbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        raise SystemExit(f"migbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"migbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(TARGET, f"spans-{a.workload}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        log(l.removeprefix("migbench: "))
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"migbench: run failed (exit {proc.returncode})")
    print(json.dumps(check_result(lines[-1])))


if __name__ == "__main__":
    main()
