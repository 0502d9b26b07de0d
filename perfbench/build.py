#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's sources (src/main/scala at the repository root) and the
benchmark's own sources with the Scala compiler that ships in Spark's
jars directory, into perfbench/target/. Each of the three class trees
(graft, benchmark, benchmark tests) is recompiled only when a source it
depends on changed. Run from the repository root:

    python3 perfbench/build.py          # graft + benchmark
    python3 perfbench/build.py --tests  # also the helper tests
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TARGET = os.path.join(BENCH_DIR, "target")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
TEST_SRC = os.path.join(BENCH_DIR, "test")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list spark-submit itself passes).
JAVA_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found: set JAVA_HOME")
    return found


def scala_files(tree):
    if not os.path.isdir(tree):
        raise BuildError("source tree missing: %s" % os.path.relpath(tree, ROOT))
    out = []
    for d, _, files in os.walk(tree):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources under %s" % os.path.relpath(tree, ROOT))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, sources, classpath):
    """Compile `sources` into target/classes/<name> unless its stamp matches."""
    out = os.path.join(TARGET, "classes", name)
    stamp = out + ".stamp"
    key = digest(sources + [f for cp in classpath if os.path.isdir(cp)
                            for f in [cp + ".stamp"] if os.path.exists(f)])
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(out)
    jars = spark_jars()
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    print("perfbench: compiling %s (%d files)" % (name, len(sources)), file=sys.stderr)
    res = subprocess.run(cmd + sources, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError("compiling %s failed" % name)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build(tests=False):
    """Returns the runtime classpath (class dirs + Spark jars)."""
    main = compile_tree("graft", scala_files(GRAFT_SRC), [])
    bench = compile_tree("bench", scala_files(BENCH_SRC), [main])
    dirs = [bench, main]
    if tests:
        dirs.insert(0, compile_tree("test", scala_files(TEST_SRC), [bench, main]))
    return dirs + [os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    try:
        build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
