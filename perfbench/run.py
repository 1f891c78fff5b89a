#!/usr/bin/env python3
"""One command for the repo's benchmark: builds the engine from source, runs
one workload in its own JVM on local[nproc] and prints every metric by name
with its unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Workloads: pipeline, dashboard (see perfbench/NOTES.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--scale smoke shrinks every input to a few households (used by smoke.py).
Run it from the root of the checkout; it reads and writes only there
(.bench_build/) apart from the JDK and the Spark jars it compiles against.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("pipeline", "dashboard")
JVM_LIMIT_S = 170


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    return p.parse_args()


def main():
    a = parse()
    jars = build.ensure_built()
    work = os.path.join(build.ROOT, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    cmd = build.java_cmd(jars, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scale", a.scale], build.cds_flag())
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.ROOT, start_new_session=True)
    last = ""
    try:
        deadline = time.monotonic() + JVM_LIMIT_S
        signal.signal(signal.SIGALRM, lambda *_: proc.kill())
        signal.alarm(JVM_LIMIT_S)
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        signal.alarm(0)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print(f"perfbench: JVM exited with {code}", file=sys.stderr)
        return 1
    try:
        res = json.loads(last)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("perfbench: no result line from the JVM", file=sys.stderr)
        return 1
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
