#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness, then runs one
workload in a fresh JVM and prints its result as the last stdout line.

    python3 hbench/run.py --workload kv_mixed --seed 1 --seconds 10 --trace 0
    python3 hbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 hbench/run.py --self-test

See hbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["kv_mixed", "log_scan", "dedup_loop"]
RUN_TIMEOUT_S = 170
RESULT_PREFIX = "HBENCH_RESULT "

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, main_args):
    work = os.path.join(ROOT, ".bench_build", "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return [build.java()] + opts + ["-cp", classpath, "hbench.Main",
                                    "--work", work] + main_args


def jvm_env():
    """The environment with Spark's scratch space inside the checkout."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".bench_build", "work", "spark-local")
    return env


def run_jvm(classpath, main_args):
    """Run the harness; relay its output; return the result JSON or None."""
    proc = subprocess.Popen(jvm_command(classpath, main_args), cwd=ROOT,
                            env=jvm_env(), stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"hbench: run exceeded {RUN_TIMEOUT_S}s and was stopped",
              file=sys.stderr)
        return None
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_PREFIX):
            result = line[len(RESULT_PREFIX):]
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        print(f"hbench: harness exited with code {proc.returncode}",
              file=sys.stderr)
        return None
    return json.loads(result)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload or --self-test is required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"hbench: build failed: {e}", file=sys.stderr)
        return 2
    if args.self_test:
        return subprocess.run(jvm_command(classpath, ["--self-test"]), cwd=ROOT,
                              env=jvm_env(), timeout=RUN_TIMEOUT_S).returncode
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = []
    for name in names:
        r = run_jvm(classpath, ["--workload", name, "--seed", str(args.seed),
                                "--seconds", str(args.seconds),
                                "--trace", str(args.trace)])
        if r is None:
            return 1
        results.append(r)
    if len(results) > 1:
        for name, r in zip(names, results):
            print(name, json.dumps(r))
        return 0 if all(r["correct"] for r in results) else 1
    print(json.dumps(results[0]))
    return 0 if results[0]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
