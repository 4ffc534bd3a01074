#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload glm_tall --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark driver from source (perfbench/build.py),
then runs the driver in a single local[N] Spark JVM. The driver's report
lines and, last, one JSON object with `correct`, `attempted`, `failed` and
`metrics` go to standard output. `--trace 1` runs the traced variant that
reports the per-layer metrics and writes its spans to .bench_build/traces/.
`--cores` defaults to the number of CPUs this process may use.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("glm_tall", "glm_wide", "curate_corpus")
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (same list as org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()
    if a.cores < 1 or a.seconds <= 0:
        ap.error("--cores and --seconds must be positive")

    classpath = build.build()
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(a.cores), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[run] timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        # inputs and Spark scratch are per run; traces are kept
        for d in ("data", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out if proc.returncode == 0 else "")
        print(f"[run] driver exited with {proc.returncode} and no result",
              file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
