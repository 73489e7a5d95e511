#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

At tiny input sizes, runs batch_elt and stream_candles once as they are
and once with one output damaged before it is checked (one current silver
row's issued_shares, one candle's high). The clean runs must pass and the
damaged runs must report the damage and exit non-zero.

Usage (from the repository root): python3 pipebench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"

CASES = [
    # workload, corrupt, failure text the damaged run must report
    ("batch_elt", False, None),
    ("batch_elt", True, "current issued_shares differ"),
    ("stream_candles", False, None),
    ("stream_candles", True, "candles differ from the expected set"),
]


def main():
    bad = 0
    for workload, corrupt, expect in CASES:
        cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", "0", "--tiny"] + ["--corrupt"] * corrupt
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = None
        if res is None:
            ok = False
        elif corrupt:
            ok = (p.returncode != 0 and not res["correct"] and res["failed"] >= 1
                  and any(expect in l for l in lines))
        else:
            ok = p.returncode == 0 and res["correct"] and res["failed"] == 0
        name = f"{workload}{' (one output damaged)' if corrupt else ''}"
        print(f"{'PASS' if ok else 'FAIL'} {name}: exit {p.returncode}, result {res}")
        if not ok:
            print(p.stderr[-2000:], file=sys.stderr)
            bad += 1
    print("OK" if bad == 0 else f"{bad} self-test case(s) failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
