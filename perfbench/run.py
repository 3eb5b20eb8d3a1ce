#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the harness from source (perfbench/build.py), runs
one workload in a fresh JVM under a unique scratch root inside
.bench_build/runs, and prints every metric by name with its unit; the last
line of standard output is the JSON result. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("klio", "table", "klio_batch", "stream_ingest", "table_read",
             "table_write")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RESULT_TAG = "PERFBENCH_RESULT "
METRIC_TAG = "PERFBENCH_METRIC "


def run_jvm(classpath, main, args, root):
    jtmp = os.path.join(root, "jvm-tmp")
    os.makedirs(jtmp)
    cmd = ["java", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={jtmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        return None, out, err + f"\nJVM killed after {JVM_TIMEOUT_S} s"
    return proc.returncode, out, err


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    runs = os.path.join(build.BUILD_DIR, "runs")
    root = os.path.join(runs, f"run-{os.getpid()}-{uuid.uuid4().hex[:12]}")
    os.makedirs(root)
    try:
        if a.self_test:
            code, out, err = run_jvm(cp, "perfbench.SelfTest", [root], root)
            sys.stdout.write(out)
            if code != 0:
                sys.stderr.write(err[-6000:])
            return 0 if code == 0 else 1
        code, out, err = run_jvm(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", os.path.join(root, "fixture")], root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for line in err.splitlines():
        if line.startswith("perfbench: "):
            print(line, file=sys.stderr)
    result = None
    for line in out.splitlines():
        if line.startswith(METRIC_TAG):
            print(line[len(METRIC_TAG):])
        elif line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
    if code != 0 or result is None:
        sys.stderr.write(err[-6000:])
        print(f"perfbench: {a.workload} failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
