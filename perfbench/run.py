#!/usr/bin/env python3
"""Vector-core benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

Builds the program from source when needed (perfbench/build.py), runs the
workload in one JVM with a local[4] Spark session, and passes its report
through. The last stdout line is the JSON result; with --trace 1 it holds
the per-layer metrics and a span file is written under .bench_build/traces.
Exits non-zero when the build fails, a correctness check fails, or the
run exceeds its time limit.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind under perfbench/
import build  # noqa: E402

RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classes = build.build()
    out = build.OUT
    tmp = os.path.join(out, "tmp")
    logs = os.path.join(out, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ([build.java_tool("java"), "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            "--add-modules=jdk.incubator.vector", "-Djava.io.tmpdir=" + tmp]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "vecbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out])
    log_path = os.path.join(logs, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write("run: workload exceeded %d s; log: %s\n" % (RUN_TIMEOUT_S, log_path))
            return 3
    lines = stdout.rstrip("\n").split("\n")
    last = lines[-1] if lines else ""
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(stdout)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stderr.write("run: no result line (exit %d); log: %s\n" % (proc.returncode, log_path))
        return proc.returncode or 4
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0 or not result["correct"]:
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("CHECK FAILED")))
    sys.stdout.write(last + "\n")
    return proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1)


if __name__ == "__main__":
    sys.exit(main())
