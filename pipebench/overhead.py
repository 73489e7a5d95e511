#!/usr/bin/env python3
"""Tracing overhead: the end-to-end difference between traced and untraced runs.

Runs each workload untraced and traced on the same seeds, alternating which
goes first, and prints per end-to-end metric the two medians and the
traced run's change relative to the untraced one.

Usage (from the repository root):
    python3 pipebench/overhead.py [--workloads a,b] [--seeds 1,2,3]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload, seed, trace, seconds):
    subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    out = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = out if out.is_absolute() else ROOT / out
    res = json.loads((out / "results" / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return {k: v["value"] for k, v in res["end_to_end"].items()}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    for workload in args.workloads.split(","):
        runs = {0: [], 1: []}
        for i, seed in enumerate(seeds):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(run(workload, seed, trace, spec["run_seconds"]))
        for name in runs[0][0]:
            off = statistics.median(r[name] for r in runs[0])
            on = statistics.median(r[name] for r in runs[1])
            print(f"{workload} {name}: untraced {off:.4g}, traced {on:.4g}, "
                  f"traced/untraced - 1 = {on / off - 1:+.1%} (n={len(seeds)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
