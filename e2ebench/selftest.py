#!/usr/bin/env python3
"""Self-test of the benchmark's wiring, at the tiny input size.

    python3 e2ebench/selftest.py

Runs every workload in BENCHMARK.json once untraced and once traced
(the traced ingest run includes the batch analytics passes), each for
the benchmark's ``run_seconds`` (so a run sees every kind of page) on
tiny inputs, and checks that each run exits 0, that its last line has
exactly the result keys, that it answered correctly, that it printed
every metric of BENCHMARK.json with the unit written there, that it
left no process running (this process is a child subreaper, so any
process a run leaves behind becomes its child), and that every
per-layer metric reads non-zero on some workload, so none is listed
without a probe behind it. Exits non-zero and names what is
wrong otherwise. Takes about eight minutes: most of it is starting
Spark six times and the traced runs' three phases.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import become_subreaper, descendants, kill_descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that read 0 on every workload of the current program
MAY_READ_ZERO = {"router.path_rollup": "no rollups are built, so no page is routed to one"}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    nonzero = set()
    become_subreaper()
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", workload, "--seed", "7",
                   "--seconds", str(spec["run_seconds"]), "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            label = f"{workload} --trace {trace}"
            left = descendants(os.getpid())
            if left:
                problems.append(f"{label}: left processes {left} running")
                kill_descendants()
            if proc.returncode != 0:
                problems.append(f"{label}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{label}: attempted {result['attempted']}, "
                                f"failed {result['failed']}")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics {got} != {want}")
            if trace:
                nonzero |= {k for k, v in result["metrics"].items() if v["value"]}
            print(f"ok  {label}: {len(got)} metrics", flush=True)
    for m in spec["per_layer"]:
        if m["name"] not in nonzero and m["name"] not in MAY_READ_ZERO:
            problems.append(f"{m['name']} reads 0 on every workload")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
