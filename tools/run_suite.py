"""One-command full-suite runner: both pytest lanes CONCURRENTLY.

The suite is split into two independent lanes (pytest.ini / README
TESTLANES): lane 1 (`-m "not slow"`, unit/operator) and lane 2
(`-m slow`, e2e/streaming). They share no state — different test
modules, per-process SparkSessions, per-process pytest tmp dirs — so
running them as two processes overlaps lane 2's Spark-job-bound
pipeline tests with lane 1's CPU-bound operator tests.

Usage: python tools/run_suite.py [extra pytest args for both lanes]
Exit code is non-zero if either lane fails. Prints per-lane status
and the combined wall clock.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LANES = {
    "lane1": ["-m", "not slow"],
    "lane2": ["-m", "slow"],
}


def main() -> int:
    extra = sys.argv[1:]
    t0 = time.monotonic()
    procs = {}
    for name, marker in LANES.items():
        out = open(os.path.join(REPO, f".{name}.out"), "w")
        procs[name] = (
            subprocess.Popen(
                [sys.executable, "-m", "pytest", "tests/", "-q", *marker, *extra],
                cwd=REPO,
                stdout=out,
                stderr=subprocess.STDOUT,
                # keep the two JVMs from fighting over every core:
                # each lane is mostly single-query-at-a-time, so 16
                # executor threads per lane saturates the 32-core box
                env={**os.environ, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "16")},
            ),
            out,
        )
    rc = 0
    for name, (proc, out) in procs.items():
        code = proc.wait()
        out.close()
        tail = ""
        with open(os.path.join(REPO, f".{name}.out")) as fh:
            lines = fh.read().strip().splitlines()
            tail = lines[-1] if lines else ""
        print(f"{name}: exit {code} — {tail}")
        rc = rc or code
    print(f"wall: {time.monotonic() - t0:.1f} s")
    return rc


if __name__ == "__main__":
    sys.exit(main())
