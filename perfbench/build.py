"""Builds the engine and the benchmark from source.

The engine (`src/main/scala`) and the benchmark (`perfbench/src`) are
compiled with the Scala compiler that ships among Spark's jars, so no
build tool or network is needed. Each part is rebuilt only when its
sources change; outputs go under `.bench_build/perfbench/`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars_dir):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 install")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def scala_sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_part(name, srcs, classpath):
    """Compiles `srcs` into OUT/<name> unless its stamp matches; returns the dir."""
    if not srcs:
        raise SystemExit(f"perfbench: no Scala sources for {name}")
    digest = hashlib.sha256()
    for s in srcs + classpath:
        digest.update(s.encode())
        # a part compiled against another part is rebuilt when that part is
        content = s if s.endswith(".scala") else s + ".stamp"
        if os.path.isfile(content):
            with open(content, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in spark_jars() if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(classpath), "-d", tmp] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build(tests=False):
    """Returns the runtime classpath: Spark's jars, the engine, the benchmark
    (and its tests when asked)."""
    jars = spark_jars()
    engine = compile_part("engine", scala_sources(os.path.join(ROOT, "src", "main", "scala")), jars)
    bench = compile_part("bench", scala_sources(os.path.join(HERE, "src")), jars + [engine])
    cp = jars + [engine, bench]
    if tests:
        cp.append(compile_part("tests", scala_sources(os.path.join(HERE, "tests")), cp))
    return cp


if __name__ == "__main__":
    build(tests="--tests" in sys.argv)
