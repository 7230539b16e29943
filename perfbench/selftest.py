#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Runs the benchmark four times with a one-second window:
  * `compare` as is: must exit 0 with "correct": true;
  * `compare --perturb drop-triple` (one triple line missing from the
    input the generator accounted for): must exit non-zero, "correct": false;
  * `ingest --perturb score` (a snapshot whose pinned avgdl is off by one
    token, so every WAND score drifts from Golden's): must exit non-zero,
    "correct": false;
  * `ingest --perturb fail-write` (the upsert throws): must exit non-zero,
    "correct": false, with the failed op counted in "failed".
Exits 0 only when all four behave as expected.
"""
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
CASES = [
    ("compare", None, True),
    ("compare", "drop-triple", False),
    ("ingest", "score", False),
    ("ingest", "fail-write", False),
]


def main() -> int:
    ok = True
    for workload, perturb, want_correct in CASES:
        cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", "0"]
        if perturb:
            cmd += ["--perturb", perturb]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
        correct = res.get("correct")
        passed = (p.returncode == 0) == want_correct and correct == want_correct
        if perturb == "fail-write":
            passed &= res.get("failed", 0) > 0
        ok &= passed
        failures = [l for l in lines if l.startswith("check FAIL")]
        print(f"{'PASS' if passed else 'FAIL'} {workload} perturb={perturb}: "
              f"exit {p.returncode}, correct={correct}, failed={res.get('failed')}"
              + (f" ({failures[0]})" if failures else ""), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
