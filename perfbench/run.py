#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload <elt_sync|budget_reports|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs one benchmark
JVM, and prints the result as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (the traced run also writes <build dir>/trace/*.json).
Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("elt_sync", "budget_reports", "curation")
RUN_TIMEOUT_S = 170
MARKER = "PERFBENCH_RESULT "

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    # accepted for the harness; iteration counts are fixed per workload
    # (see README: a time box would let faster code warm the JIT further)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    out = build.build_dir()
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # JIT compiler threads stay alive, so Main can subtract their CPU
    cmd += ["-XX:-UseDynamicNumberOfCompilerThreads"]
    cmd += ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--root", str(out), "--trace", str(a.trace)]
    env = dict(os.environ)
    # keep Spark's scratch space inside the build dir
    for k in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, env=env, cwd=str(out),
                         start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return 1
    result = None
    for line in stdout.splitlines():
        if line.startswith(MARKER):
            result = json.loads(line[len(MARKER):])
        else:
            print(line, file=sys.stderr)
    if p.returncode != 0 or result is None:
        print(f"perfbench: run failed (exit {p.returncode})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
