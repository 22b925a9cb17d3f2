#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <tpch|dialect_mix|iterative_ops> \
        --seed <n> --seconds <s> --trace <0|1> [--results <dir>]

Run from the root of a checkout. The script

1. compiles `src/main/scala` together with `perfbench/src` using the Scala
   compiler shipped in the Spark jars (cached by a hash of the sources),
2. generates the workload's input tables once (cached by a hash of the
   generator),
3. runs the workload in one JVM and relays its result line.

Everything it writes goes under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`) inside the checkout. The last line of stdout is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`; the
full record of the run (samples, canaries, environment, traced spans) is
written to the results directory. Exits non-zero, without a result line,
when the program cannot be built or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """$SPARK_HOME, else the distribution that `spark-shell` on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    shell = shutil.which("spark-shell")
    return os.path.dirname(os.path.dirname(os.path.realpath(shell))) if shell else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
# input scale per workload; expected.json pins digests per workload and scale
WORKLOAD_SF = {"tpch": "0.01", "dialect_mix": "0.001", "iterative_ops": "0.01"}
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
JVM_OPTS = ["-Xss8m"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


built = []  # what this invocation had to build, which earns it the longer limit


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(*dirs):
    return sorted(p for d in dirs for p in glob.glob(os.path.join(d, "**", "*.scala"),
                                                     recursive=True))


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build(work, deadline):
    """Compiles the engine and the harness; returns the classes directory."""
    program = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found; set SPARK_HOME or put spark-shell on PATH")
    srcs = program + sources(os.path.join(HERE, "src"))
    classes = os.path.join(work, "classes-" + digest_files(srcs))
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(work, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(work, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                            timeout=max(1, deadline - time.monotonic())).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    built.append("classes")
    return classes


def jvm(classes, work, main, args, log, deadline):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.scratch={work}/spark"] + JVM_OPTS +
           ["-cp", f"{classes}:{SPARK_JARS}/*", main] + args)
    with open(log, "w") as err:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           cwd=work, timeout=max(1, deadline - time.monotonic()))
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{main} exited with {p.returncode} (log: {log})")
    return p.stdout


def data(classes, work, sf, deadline):
    """Generates the tables for one scale once; returns their directory."""
    gen = digest_files(sources(os.path.join(HERE, "src", "perfbench", "DataGen.scala")))
    out = os.path.join(work, "data", gen, f"sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    jvm(classes, work, "perfbench.DataGen", [tmp, sf], os.path.join(work, "datagen.log"),
        deadline)
    os.rename(tmp, out)
    built.append(f"sf{sf}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="directory for the full run record")
    a = ap.parse_args()

    start = time.monotonic()
    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    deadline = start + BUILD_LIMIT_S
    classes = build(work, deadline)
    sf = WORKLOAD_SF[a.workload]
    d = data(classes, work, sf, deadline)
    if not built:
        deadline = start + RUN_LIMIT_S

    results = os.path.abspath(a.results or os.path.join(work, "results"))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json")
    stdout = jvm(classes, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", d, "--sf", sf, "--cores", str(cores()),
        "--expected", os.path.join(HERE, "expected.json"), "--out", out],
        os.path.join(work, f"run-{a.workload}.log"), deadline)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        fail("the run printed no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:300]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
