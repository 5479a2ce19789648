#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once at the smoke input size
(below sf0.001), untraced and traced. Asserts that each run prints every
metric BENCHMARK.json names for its mode, with its unit, and that no
operation failed (failed_frac = 0).

Usage: python3 perfbench/smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    bad = []
    for w in workloads:
        for trace in ("0", "1"):
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "1", "--trace", trace,
                                "--size", "smoke"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            tag = f"{w} trace={trace}"
            if r.returncode != 0:
                bad.append(f"{tag}: exit {r.returncode}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            got = res["metrics"]
            missing = [m for m in want if m not in got or got[m]["unit"] != want[m]]
            if missing:
                bad.append(f"{tag}: missing or mis-united metrics {missing}")
            if res["failed"] != 0 or not res["correct"] or res["attempted"] < 1:
                bad.append(f"{tag}: failed {res['failed']} of {res['attempted']}")
            print(f"{tag}: {len(got)} metrics, failed {res['failed']} of {res['attempted']}",
                  flush=True)
    if bad:
        print("SMOKE FAILED:\n  " + "\n  ".join(bad))
        sys.exit(1)
    print("SMOKE OK")


if __name__ == "__main__":
    main()
