#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) and the benchmark sources
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/perfbench under the checkout. Each half is
rebuilt only when a digest of its inputs changes.

    python3 perfbench/build.py          # build, print the class path
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("cannot find Spark's jars: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("cannot find java: set JAVA_HOME")
    return exe


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(name, sources, classpath, stamp):
    """Compile `sources` into OUT/name unless its stamp already matches."""
    dest = os.path.join(OUT, name)
    stamp_file = os.path.join(OUT, name + ".stamp")
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp] + sources
    print(f"perfbench: compiling {len(sources)} {name} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build():
    """Build both halves; returns the run-time class path."""
    lib_sources = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    if not lib_sources:
        raise BuildError("no library sources under src/main/scala")
    bench_sources = scala_sources(os.path.join(HERE, "src"))
    jars = spark_jars()
    jar_cp = os.pathsep.join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    os.makedirs(OUT, exist_ok=True)
    lib = compile_into("graft", lib_sources, jar_cp, digest(lib_sources, jar_cp))
    bench = compile_into("bench", bench_sources, os.pathsep.join([lib, jar_cp]),
                         digest(bench_sources, jar_cp + digest(lib_sources, "")))
    return os.pathsep.join([bench, lib, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
