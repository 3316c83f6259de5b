#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the benchmark from source and
runs one workload in a fresh JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. The build compiles src/main/scala and
perfbench/src with the Scala compiler shipped in the Spark distribution
($SPARK_HOME/jars, else the unmanagedBase of build.sbt) into .bench_build/perfbench,
keyed by a hash of the sources, so later runs reuse it. The JVM is started
directly (no sbt) with the flags build.sbt gives forked runs: the JDK 17
add-opens list, UTC, and a fixed, pre-touched heap. Everything the run
writes stays under .bench_build/perfbench.

The last stdout line is the JVM's result object; the exit status is the
JVM's (non-zero when an output check failed or the run broke).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(".bench_build", "perfbench")
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
HEAP = "3g"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("migrate_fresh", "migrate_resync", "query_mix")


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against"""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            die("set SPARK_HOME or run from the root of a checkout")
    if not os.path.isdir(jars):
        die(f"no Spark jars at {jars}")
    return jars


def walk(top):
    return sorted(os.path.join(d, f) for d, _, files in os.walk(top) for f in files)


def sources():
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}; run from the root of a checkout")
    return [s for top in (ENGINE_SRC, os.path.join(BENCH, "src"))
            for s in walk(top) if s.endswith(".scala")]


def build(jars):
    """compile the engine and the benchmark unless this exact source set
    was built before; returns the classes directory"""
    srcs = sources()
    resources = walk(ENGINE_RES)
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]).returncode
    if rc != 0:
        die("build failed")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-") and os.path.join(OUT, old) != tmp:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java_cmd(classes, jars, work, main, args):
    props = {
        "user.timezone": "UTC",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "derby.system.home": os.path.join(work, "derby"),
    }
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    return cmd


def run_jvm(cmd, log):
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                               timeout=RUN_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    return p


def tail(log, n=30):
    with open(log) as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("pin",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        die("--workload or --selftest is required")

    jars = spark_jars()
    classes = build(jars)
    name = "selftest" if a.selftest else a.workload
    work = os.path.abspath(os.path.join(OUT, "work", name))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{name}-{a.seed}-trace{a.trace}.log")
    if a.selftest:
        cmd = java_cmd(classes, jars, work, "perfbench.SelfTest", [work])
    else:
        cmd = java_cmd(classes, jars, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
            "--work", work, "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--pins", os.path.join(BENCH, "pins", "query_mix.tsv"),
            "--spec", "BENCHMARK.json"])
    try:
        p = run_jvm(cmd, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.splitlines()
    if a.selftest or a.workload == "pin":
        print(p.stdout, end="")
        if p.returncode != 0:
            print(tail(log), file=sys.stderr)
        sys.exit(p.returncode)
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print(p.stdout, file=sys.stderr)
        print(tail(log), file=sys.stderr)
        die(f"the JVM printed no result (exit {p.returncode}); log: {log}")
    if p.returncode != 0:
        print(tail(log), file=sys.stderr)
    print("\n".join(lines))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
