#!/usr/bin/env python3
"""Run one benchmark workload against graft.

    python3 perfbench/run.py --workload bulk-search --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark from source
on first use (see build.py), then runs the workload in one JVM on
local[n], n = min(4, cores). The last line of standard output is the
result object; a build failure, a crash or a timeout exits non-zero
without one.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk-search", "serve-mixed", "ingest-build")
# A run must end within 180 s; the JVM gets what the build left of that.
RUN_LIMIT_S = 170


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    cmd = [build.java_bin(), "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(build.TARGET, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
           ] + build.JAVA_OPENS + [
        "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]
    os.makedirs(os.path.join(build.TARGET, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))

    reader = threading.Thread(target=pump)
    reader.start()
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        reader.join()
        print("perfbench: run exceeded %d s, killed" % RUN_LIMIT_S, file=sys.stderr)
        return 3
    reader.join()

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        for line in lines:
            print(line, file=sys.stderr)
        print("perfbench: run ended with code %d and no result" % code, file=sys.stderr)
        return code or 4
    for line in lines:
        print(line)
    return code


if __name__ == "__main__":
    sys.exit(main())
