"""Smoke run: every workload in BENCHMARK.json, untraced and traced, on
the sf0.001 fixture with the shortest op sequence. Checks that each run
exits 0, checks its outputs as correct, and prints exactly the metric
names and units BENCHMARK.json declares.

    python3 perfbench/smoke.py        # from the root of a checkout
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-1000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want[trace]))} "
                                f"or units differ from BENCHMARK.json")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            print(f"{tag}: {len(got)} metrics, attempted={res['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
