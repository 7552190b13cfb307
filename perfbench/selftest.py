"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py [--seed N]

Runs every workload at the tiny size twice: once as is, where every
answer must check out (``correct`` true), and once with
``--plant-wrong-answer``, which corrupts the expected answers of every
check; that run must report ``correct`` false and ``failed`` above 0,
which shows the checks can fail. Exits non-zero if either does not
hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_build", "search_mix", "ingest_while_serving")


def run_once(workload: str, seed: int, plant: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", "0", "--size", "tiny"]
    if plant:
        cmd.append("--plant-wrong-answer")
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for wl in WORKLOADS:
        clean = run_once(wl, a.seed, plant=False)
        planted = run_once(wl, a.seed, plant=True)
        frac = planted["failed"] / planted["attempted"]
        good = clean["correct"] and not planted["correct"] and frac > 0
        ok &= good
        print(f"{wl}: clean correct={clean['correct']} failed={clean['failed']}/"
              f"{clean['attempted']}; planted correct={planted['correct']} "
              f"failed_frac={frac:.3f} -> {'ok' if good else 'FAIL'}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
