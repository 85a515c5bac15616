#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <c360_etl|curation_suite>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and harness first
(perfbench/build.py), then starts one JVM (graft.perfbench.Main) with
its scratch files under .bench_build/runs/, removed afterwards. Report
lines ("metric ...", "layer ...") go to stdout, Spark's log to stderr,
and the last stdout line is the JSON result: correct, attempted, failed
and metrics (the end-to-end metrics with --trace 0, the per-layer ones
with --trace 1).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("c360_etl", "curation_suite")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    os.chdir(build.ROOT)
    classes = build.build()
    jars = build.spark_jars()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}",
           "-Dlog4j2.configurationFile=perfbench/log4j2.properties",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "graft.perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--run-dir", run_dir, "--cores", str(cores)]
    try:
        proc = subprocess.Popen(cmd)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s")
        result_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            raise SystemExit(f"run: JVM exited with {rc} and no result")
        with open(result_file) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
