#!/usr/bin/env python3
"""Repository benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

Builds the engine with the repository's own sbt build and the benchmark
with perfbench/build.sbt (once per source state), then runs one workload in
a fresh JVM and prints its result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. Build output, generated inputs and
run scratch stay under perfbench/.build and perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("ingest_backlog", "provenance_join")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the list the repository
# build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose content decides the two builds."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, *tasks):
    """Run sbt tasks in batch mode; the build log goes to stderr."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        fail(f"sbt {' '.join(tasks)} failed in {cwd} (exit {p.returncode})")
    return p.stdout


def build():
    """Compile engine and benchmark unless this source state is built."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "repo-classpath.txt")
    want = digest(build_inputs())
    if os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    out = sbt(ROOT, "compile", "export Runtime/fullClasspath")
    lines = [l.strip() for l in out.splitlines()]
    cps = [l for l in lines if os.pathsep in l and l.startswith(os.sep)]
    if not cps:
        fail("could not read the engine runtime classpath from sbt")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1] + "\n")
    sbt(HERE, "compile")
    with open(stamp, "w") as fh:
        fh.write(want)
    return cps[-1]


def run_jvm(cp, args):
    bench_classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench_classes, cp]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK]
    # keep Spark's scratch inside the checkout: spark.local.dir, not an
    # inherited SPARK_LOCAL_DIRS
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"workload {args.workload} exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {p.returncode}")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail("malformed result line")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")
    result = run_jvm(build(), args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
