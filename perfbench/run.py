#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --selftest

Workloads are those BENCHMARK.json lists, plus `ingest`, which runs by hand
only (see perfbench/README.md).

Builds the engine and the benchmark from source on first use (sbt, offline,
into .bench_build/), runs one JVM for the workload, and prints as its last
stdout line one JSON object: correct, attempted, failed and the metrics
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1),
each with its unit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, else the installation whose bin/ holds spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return home


def sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark unless the same sources were built already."""
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and \
            os.path.exists(os.path.join(CLASSES, "perfbench", "Main.class")):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("compile")
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(jars, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", *args]


def run_java(cmd):
    """Runs the JVM to completion (or kills it at the timeout and waits)."""
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (no BENCHMARK.json here)")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; nothing to measure")
    with open(spec_path) as fh:
        spec = json.load(fh)
    jars = os.path.join(spark_home(), "jars")
    build()

    if a.selftest:
        code, out = run_java(java_cmd(jars, ["--selftest"]))
        sys.stdout.write(out)
        sys.exit(code)

    names = {w["name"] for w in spec["workloads"]} | {"ingest"}
    if a.workload not in names or a.seed is None or not a.seconds:
        fail(f"need --workload ({'|'.join(sorted(names))}), --seed and --seconds")
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        code, out = run_java(java_cmd(jars, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--spans", spans]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 1)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result", 1)
    raw = json.loads(lines[-1])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = raw["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
