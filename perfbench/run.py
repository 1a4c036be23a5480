#!/usr/bin/env python3
"""Runs one benchmark workload; see perfbench/README.md.

    python3 perfbench/run.py --workload join_sweep --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the library and the
benchmark (perfbench/build.py); later runs reuse the build. The last line
of standard output is the JSON result; the exit code is 0 only when every
query and check passed.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the source tree
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# A run must end within 180 s; leave room for JVM exit after the deadline.
RUN_LIMIT_S = 175
# Spark on JDK 17 needs these opens when not started through spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", help="join_sweep, window_agg or small_ops")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    started = time.monotonic()
    classes, jars = build.ensure_built()
    work = build.build_root()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no perf-data file in the system temp directory
    jvm = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")])]
    if a.self_test:
        cmd = jvm + ["perfbench.SelfTest", "--work-dir", work]
    else:
        cmd = jvm + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--work-dir", work]
    # the first run of a checkout also builds, within its larger allowance
    limit = RUN_LIMIT_S + (time.monotonic() - started)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch files out of the work dir
    child = subprocess.Popen(cmd, env=env)

    def stop(signum, _frame):
        child.terminate()
        child.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        print(f"perfbench: run exceeded {limit:.0f} s", file=sys.stderr)
        sys.exit(3)
    sys.exit(code)


if __name__ == "__main__":
    main()
