#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds graft from source on first use (see build.py), then runs the
workload in one fresh JVM with a local[n] Spark session, n = min(4, nproc).
Every file the run writes stays under the build directory and is deleted
when the run ends, except the span file of a traced run.

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The exit code is 0 only when every correctness check passed and no timed
op failed.
`--perturb score|drop-triple|fail-write` corrupts graft's index or input,
or fails a write, on purpose; selftest.py uses it to show the checks and
the failure accounting catch it.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "compare")
TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb() -> int:
    """A quarter of the memory available now, within [1 GB, 1.5 GB]: the
    inputs are small, and the host's memory is shared."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return max(1024, min(1536, avail_kb // 4096))


def run_jvm(cmd: list, env: dict, log: Path):
    """Run the workload JVM in its own process group; kill it at the
    timeout or when this process is terminated. Returns (exit code, rusage)."""
    t0 = time.monotonic()
    rc, rusage = None, None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=err, env=env,
                                start_new_session=True)
        try:
            while rc is None:
                pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    rc, rusage = os.waitstatus_to_exitcode(status), ru
                elif time.monotonic() - t0 > TIMEOUT_S:
                    raise TimeoutError(f"workload JVM still running after {TIMEOUT_S} s")
                else:
                    time.sleep(0.05)
        finally:
            if rc is None:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                os.wait4(proc.pid, 0)
    return rc, rusage


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", choices=("score", "drop-triple", "fail-write"), default=None)
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    out = build.out_dir()
    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    log = out / "logs" / f"{a.workload}-{a.seed}-t{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    heap = heap_mb()
    # a fixed-size heap: peak RSS then follows the work, not the
    # collector's run-to-run resizing decisions
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={cores}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
            "--result", str(result), "--traces", str(out / "traces" / a.workload),
            "--perturb", a.perturb or ""]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # a terminated run still kills and reaps its JVM and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc, rusage = run_jvm(cmd, env, log)
        if rc != 0 and not result.is_file():
            print(f"run: workload JVM exited with {rc}; log {log}:", file=sys.stderr)
            print("".join(log.read_text(errors="replace").splitlines(True)[-40:]), file=sys.stderr)
            return rc or 1
        res = json.loads(result.read_text())
        if a.trace == 0:
            # ru_maxrss is in KiB on Linux
            res["metrics"]["peak_rss_mb"] = {"value": rusage.ru_maxrss / 1024.0, "unit": "MB"}
        print(json.dumps(res, separators=(",", ":")), flush=True)
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
