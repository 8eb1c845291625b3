#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt (offline) the first time and whenever a source changes, then
runs one workload in a fresh JVM and prints its JSON result as the last line
of standard output. Inputs, reports and artifacts stay under perfbench/work;
the build stays under perfbench/target and perfbench/project/target.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = HERE / "target"
STAMP = BUILD_DIR / "perfbench.stamp"
CLASSPATH = BUILD_DIR / "perfbench.classpath"
WORK = HERE / "work"
WORKLOADS = ("clean_wide", "drift_wide", "many_small", "graph_iter")
HEAP = "3g"
# The heap is fixed and pre-touched (-XX:+AlwaysPreTouch), so the page faults
# of its first use fall into session start, which setup_s counts, and not into
# whichever units first reach fresh memory.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build compiles, and of the build files
    (the engine's names the Spark jar directory)."""
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src" / "main").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties", ROOT / "build.sbt"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    digest = source_digest()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    cp = [line for line in proc.stdout.splitlines()
          if "classes" in line and os.pathsep in line and not line.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(cp[-1].strip())
    STAMP.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; run from a full checkout")
    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.callstack.depth=200", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})")
    lines = [line for line in out.splitlines() if line.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("run printed no JSON result")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"unexpected result keys {sorted(result)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
