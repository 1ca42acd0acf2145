#!/usr/bin/env python3
"""Runs one benchmark workload from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source when needed
(perfbench/build.py), then runs one JVM with Spark local[4]. Progress
and every metric go to stdout line by line; the last line is one JSON
object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A traced run also leaves its spans in .bench_build/runs/<run>/trace/.
Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("serve", "live", "curate")
HEAP = "3g"  # fixed (-Xms = -Xmx): G1 growing the heap made runs of one seed differ
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seed < 0 or a.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    classes = build.ensure()
    run_dir = build.OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep shuffle files here
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    cp = f"{classes}{os.pathsep}{build.spark_jars()}/*"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", str(run_dir)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    # a terminated run still stops the JVM (in the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timer = threading.Timer(TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for sub in ("data", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(run_dir / sub, ignore_errors=True)
        if not any(run_dir.iterdir()):
            run_dir.rmdir()
    if code != 0 or result is None:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        return code or 1
    json.loads(result)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
