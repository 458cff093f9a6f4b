#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the benchmark (perfbench/build.py), then runs one
JVM with Spark on local[N], N = the cores this process may use. The JVM runs a
cold iteration (reported as setup_s), then warm iterations for S seconds,
checks every iteration's outputs, prints a report, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones. The full record of the run goes to
.bench_build/artifacts/.
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dlp_reference", "dlp_10x", "ops_iterative")
JVM_TIMEOUT_S = 170
DRIVER_XMX = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    here = Path(__file__).resolve().parent
    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    artifact = build.BUILD / "artifacts" / f"{a.workload}_seed{a.seed}_trace{a.trace}.json"
    cmd = ["java", f"-Xmx{DRIVER_XMX}", "-Xss16m", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work-dir", str(work),
            "--artifact", str(artifact),
            "--ops-data", str(here / "data" / "sf0.01"),
            "--ops-expected", str(here / "expected" / "ops_sf0.01.json")]

    lines = []
    # a SIGTERM unwinds through the finally below, which ends the JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)

    def pump():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"[perfbench] benchmark JVM {why}", file=sys.stderr)
        return 1

    body = [l for l in lines if l.strip()]
    try:
        result = json.loads(body[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("[perfbench] no result line from the benchmark JVM", file=sys.stderr)
        return 1
    for line in body[:-1]:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
