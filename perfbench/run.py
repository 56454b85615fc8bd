#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload scd_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source first (see build.py),
then runs the workload in one JVM with a fixed heap on Spark
`local[N]`, N = min(4, nproc - 1). Everything the run writes goes under a
fresh directory `.bench_runs/<workload>-<seed>-<pid>` in the checkout,
removed at the end; a traced run (`--trace 1`) keeps its `trace/`
subdirectory (spans and per-layer metrics). Exits non-zero, printing
no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scd_daily", "fp_dedup")
HEAP = "3g"
# The JIT compiler tier the runs use: C1 only. Under the default tiered
# C2 compiler an SCD write kept getting faster for over a minute, and a
# run's median moved by 15-30 % with the moment C2's compilations landed;
# with C1 operation times level off during the warm-up.
JIT = ["-XX:TieredStopAtLevel=1"]
# A run's JVM: start-up, set-up and warm-up take about 20-35 s on a
# 4-core machine, and the timed phase finishes its last round up to one
# round (~20 s) past `--seconds`. Allow more than twice that.
SETUP_ALLOWANCE_S = 90


def timeout_s(seconds):
    return SETUP_ALLOWANCE_S + 3 * seconds

# Spark on JDK 17 outside spark-submit needs these (the list the repo's
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--self-test", action="store_true",
                    help="show that the checks reject corrupted results, then exit")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    if a.self_test:
        sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath,
                                 "perfbench.SelfTest"]).returncode)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    run_dir = os.path.join(build.ROOT, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    cmd += JIT
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir]
    # Spark binds to the loopback interface and keeps its scratch in the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir, env=env)
    # a terminated run stops its JVM too (through the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"run: {a.workload} terminated"))
    try:
        out, _ = proc.communicate(timeout=timeout_s(a.seconds))
    except subprocess.TimeoutExpired:
        sys.exit(f"run: {a.workload} did not finish within {timeout_s(a.seconds)} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for name in os.listdir(run_dir):
            if name != "trace":
                shutil.rmtree(os.path.join(run_dir, name), ignore_errors=True)
        if not os.listdir(run_dir):
            os.rmdir(run_dir)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: {a.workload} exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: the last line is not a result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
