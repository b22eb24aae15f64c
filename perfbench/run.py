#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds first (see build.py), then runs the JVM benchmark with the Spark
local dir and every index it writes inside .bench_scratch/, which is
removed on exit. The last line of standard output is the JSON result.
A traced run (--trace 1) also writes its spans to .bench_out/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
RUN_CAP_S = 170

# The JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, scratch, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [build.java(), "-Xmx2g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dfile.encoding=UTF-8", *opens, "-cp", classpath, main, *args]


def run_jvm(cmd, cap_s):
    """Run `cmd` in its own process group; kill the group past `cap_s`."""
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=cap_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run passed its {cap_s} s cap; stopped", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
                try:
                    os.killpg(proc.pid, sig)
                    proc.wait(timeout=grace)
                    break
                except (ProcessLookupError, subprocess.TimeoutExpired):
                    continue
            proc.wait()


def main():
    # a terminated runner still stops its JVM and removes its scratch area
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    scratch_top = os.path.join(ROOT, ".bench_scratch")
    scratch = os.path.join(scratch_top, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        if a.selftest:
            cmd = jvm_command(classpath, scratch, "perfbench.SelfTest", [scratch])
        else:
            cmd = jvm_command(classpath, scratch, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--scratch", scratch,
                "--out", os.path.join(ROOT, ".bench_out")])
        sys.stdout.flush()
        return run_jvm(cmd, RUN_CAP_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_top)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
