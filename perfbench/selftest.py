#!/usr/bin/env python3
"""Self-test of the benchmark's result checks.

At smoke size, every workload must pass with its real expected results
and must count every op as failed when each expected result is made
wrong (``--corrupt-expected``), so a check that could never fail shows
up here.  Takes a few minutes:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("hotels_pipeline", "interactive_queries", "heavy_operators")


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0", "--smoke", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = 0
    for workload in WORKLOADS:
        good = run(workload)
        wrong = run(workload, "--corrupt-expected")
        ok = (
            good["correct"] and good["failed"] == 0
            and not wrong["correct"] and wrong["failed"] == wrong["attempted"]
        )
        bad += not ok
        print(
            f"{'ok  ' if ok else 'FAIL'} {workload}: real expected -> "
            f"{good['failed']}/{good['attempted']} failed; wrong expected -> "
            f"{wrong['failed']}/{wrong['attempted']} failed"
        )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
