#!/usr/bin/env python3
"""Closed-loop FP-Growth benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload quest_mine --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source into .bench_build/ (first
run only, see build.sh), then runs one workload in a fresh JVM and prints
a short report followed, as the last stdout line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones and a trace file is written under .bench_build/.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("quest_mine", "artifact_stream")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# JVM and Spark start-up, set-up, reference, warm-up and probes take
# ~40 s around the timed window; the last job may overrun it.
RUN_SLACK_S = 150

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# the engine's build.sbt).
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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        if err:
            sys.stderr.write(err[-4000:])
        fail("timed out after %d s: %s" % (timeout, " ".join(cmd[:3])))
    return p.returncode, out, err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala: nothing to benchmark")
    os.makedirs(OUT, exist_ok=True)
    code, _, _ = run(["bash", os.path.join(HERE, "build.sh"), OUT], 850)
    if code != 0:
        fail("build failed")

    work = os.path.join(OUT, "work-" + a.workload)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed 2 GiB heap with 4 MiB G1 regions: with a growing heap and
    # 1 MiB regions, the job's >= 512 KiB buffers are humongous and start
    # a concurrent mark cycle every few hundred ms. One C2 compiler thread
    # leaves the 4 vCPUs to the 4 task threads while the JIT warms up.
    cmd = [java(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=4m",
           "-XX:CICompilerCount=2", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dderby.system.home=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    code, out, err = run(cmd, a.seconds + RUN_SLACK_S, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, cwd=ROOT)
    with open(os.path.join(OUT, "last-%s.log" % a.workload), "w") as f:
        f.write(err)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(err[-4000:])
        fail("run exited with %d" % code)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: " + lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
