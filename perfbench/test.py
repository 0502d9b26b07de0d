#!/usr/bin/env python3
"""Build and run the tests of the benchmark's own helpers (no Spark
session): python3 perfbench/test.py, from the repository root."""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    try:
        cp = build.build(tests=True)
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
    os.makedirs(build.TARGET, exist_ok=True)
    sys.exit(subprocess.call([build.java_bin(), "-cp", os.pathsep.join(cp),
                              "graft.perfbench.HelpersTest"], cwd=build.ROOT))
