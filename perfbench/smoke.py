#!/usr/bin/env python3
"""Smoke check of the benchmark on the smallest inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json twice with ``--scale smoke``
(sf0.001 fixtures, 500 review bodies): once untraced and once traced.
Checks that each run prints exactly the declared metrics with their
units, that its correctness checks pass and that no operation failed,
then reports the tracing overhead as the difference between the two
runs' latency p50. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        out = {}
        for trace in (0, 1):
            res = run_once(name, trace)
            out[trace] = res
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{name}/{trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{name}/{trace}: correct={res['correct']} "
                                f"attempted={res['attempted']} failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared[trace]:
                missing = sorted(set(declared[trace]) - set(got))
                extra = sorted(set(got) - set(declared[trace]))
                wrong = sorted(k for k in got if k in declared[trace] and got[k] != declared[trace][k])
                problems.append(f"{name}/{trace}: missing {missing} extra {extra} unit {wrong}")
            print(f"{name} trace={trace}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} metrics={len(got)}")
        plain = out[0]["metrics"]["latency_p50_s"]["value"]
        traced = out[1]["metrics"]["trace.latency_p50_s"]["value"]
        print(f"{name}: tracing overhead on latency p50 {traced - plain:+.3f} s "
              f"({(traced - plain) / plain:+.1%})")
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
