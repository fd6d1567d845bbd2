#!/usr/bin/env python3
"""Run one workload of the paper-workload benchmark and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <ingest_backlog|dashboard|live> \
        --seed <n> --seconds <n> --trace <0|1>

The engine's sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled together by perfbench/build.sbt on the first
run, and again whenever a source file changes; the build needs sbt on PATH
and a Spark 4 distribution (SPARK_HOME, or the one spark-submit lives in).
The last line of standard output is the run's JSON result; everything else
goes to standard error. Scratch data lives under perfbench/work and is
removed when the run ends; a traced run leaves its spans in
perfbench/work/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = BENCH / "target"
STAMP = TARGET / "perfbench-classpath.json"
WORKLOADS = ("ingest_backlog", "dashboard", "live")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these packages opened
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return home


def source_hash():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(home):
    """Compile if any source changed since the last build; return the classpath."""
    digest = source_hash()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    print("perfbench: building engine and benchmark", file=sys.stderr)
    env = dict(os.environ, SPARK_HOME=home)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode})", 1)
    cp = lines[-1].strip()
    TARGET.mkdir(exist_ok=True)
    STAMP.write_text(json.dumps({"hash": digest, "classpath": cp}))
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"no engine sources at {ENGINE_SRC.relative_to(ROOT)}: run from a full checkout")
    home = spark_home()
    cp = classpath(home)

    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap size: heap growth would otherwise vary from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        stop()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode})", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
