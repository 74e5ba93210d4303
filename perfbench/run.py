#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository and the benchmark from source when needed (see
build.py), then runs the workload in one JVM on local[<cores>]. The last
line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it
(prefixed "perfbench-report ") carries the details: samples, input shape,
host load, and which output checks failed. With --trace 1 the span and
Spark-job trace is written to .bench_build/traces/. Exit code 0 means
every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("warehouse_daily", "query_mix")
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 880     # ... or 900 s when it also builds
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def main():
    t0 = time.monotonic()
    a = parse()
    try:
        classes, compiled = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    limit = BUILD_LIMIT_S if compiled else RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    logs = os.path.join(build.BUILD, "logs")
    trace_file = os.path.join(build.BUILD, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    # bytecode verification of the classpath is off: the classes are built
    # from this checkout or ship with Spark, and verifying them costs about
    # 5 s of every run's set-up on a 4-core host
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UnlockDiagnosticVMOptions",
           "-XX:-BytecodeVerificationRemote", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for m in JDK_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", work,
            "--cores", str(cores), "--trace-file", trace_file]
    with open(os.path.join(logs, tag + ".log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: %s timed out" % tag, file=sys.stderr)
            return 2
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: %s produced no result (exit %d, log in %s)"
              % (tag, proc.returncode, logs), file=sys.stderr)
        return 2
    for l in lines[:-1]:
        if l.startswith("perfbench-report "):
            print(l)
    print(json.dumps(result))
    return 0 if proc.returncode == 0 and result["correct"] else 1



if __name__ == "__main__":
    sys.exit(main())
