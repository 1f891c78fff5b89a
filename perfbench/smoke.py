#!/usr/bin/env python3
"""Smoke test of the benchmark itself: runs every workload of BENCHMARK.json
at the tiny `--scale smoke` size, untraced and traced, and asserts that each
run is correct and reports exactly the metrics BENCHMARK.json names, each
with its unit.

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                bad.append(f"{w} trace={trace}: no result (exit {r.returncode})"
                           f"\n{r.stderr[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if r.returncode != 0 or not res["correct"] or res["attempted"] < 1:
                bad.append(f"{w} trace={trace}: exit {r.returncode}, {res}")
            if got != want[trace]:
                diff = set(got.items()) ^ set(want[trace].items())
                bad.append(f"{w} trace={trace}: metric/unit mismatch {diff}")
            print(f"{w} trace={trace}: {len(got)} metrics, correct="
                  f"{res['correct']}, attempted={res['attempted']}, "
                  f"failed={res['failed']}")
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
