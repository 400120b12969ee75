"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|churn --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine with the benchmark
client (perfbench/build.py), runs one workload in a fresh JVM with a
local Spark session, and prints the run environment as one JSON line
and then, as the last line, the result: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).

    python3 perfbench/run.py --selftest

runs the check functions on fabricated bad results and the generator's
seed check, without Spark.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_LIMIT_S = 170

# Spark on JDK 17 needs these when the session starts outside
# spark-submit; same list as the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap() -> str:
    """Driver heap from MemTotal, as the repository's tests size it:
    half the memory in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{g}g"


def java_cmd(classes: Path, main: str, tmp: Path) -> list:
    # Parallel GC: on 4 cores G1's concurrent threads took the cores the
    # Spark tasks and the JIT need; runs were about 10 % slower with G1.
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{classes}:{build.spark_jars()}/*"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [main]


def run_jvm(cmd: list, limit: float) -> int:
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 124


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "churn"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build.build()
    started = time.monotonic()
    base = build.build_dir()
    if a.selftest:
        tmp = base / "selftest-tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        return run_jvm(java_cmd(classes, "perfbench.SelfTest", tmp), RUN_LIMIT_S)

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = base / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record = base / "runs" / f"{name}.json"
    record.parent.mkdir(parents=True, exist_ok=True)
    record.unlink(missing_ok=True)
    cmd = java_cmd(classes, "perfbench.Main", work / "tmp") + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--out", str(record)]
    try:
        rc = run_jvm(cmd, RUN_LIMIT_S - (time.monotonic() - started))
        spans = work / "out" / "spans.jsonl"
        if spans.is_file():
            shutil.copy(spans, record.with_suffix(".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not record.is_file():
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    out = json.loads(record.read_text())
    print(json.dumps({"env": out["env"], "info": out["info"]}))
    metrics = out["layers"] if a.trace else out["e2e"]
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
