#!/usr/bin/env python3
"""End-to-end study-pipeline benchmark.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (see
build.py), then runs one workload in a fresh JVM with a fixed heap and
one Spark core per CPU. Inputs are generated from --seed; every file
the run writes stays under .bench_work/ in the checkout and is removed
at exit, except the span trace in .bench_work/traces/. The last line of
stdout is the result object. See e2ebench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("stream_arrivals", "curate_corpus")
HEAP = "3g"
# Spark on JDK 17 needs these module openings when it is not started by
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = Path.cwd()
    try:
        classpath = build.ensure_built(root)
    except build.BuildError as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 2

    work_root = root / ".bench_work"
    work = work_root / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "e2ebench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work)]
    # a terminated run must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"e2ebench: run exceeded {TIMEOUT_S} s, killed", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
