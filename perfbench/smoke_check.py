"""Smoke check of the benchmark: a tiny run of every workload, untraced
and traced, must pass its correctness gates and emit every metric named
in BENCHMARK.json with that metric's unit.

    python3 perfbench/smoke_check.py        # from the root of a checkout

Takes a few minutes (one Spark session per run). Exits non-zero on the
first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", wl["name"], "--seed", "1",
                   "--seconds", "2", "--trace", str(trace), "--scale", "0.1"]
            proc = subprocess.run([sys.executable if c == "python3" else c for c in cmd],
                                  cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{wl['name']} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stdout[-2000:]}"
                                f"\n{proc.stderr[-2000:]}")
                continue
            summary = json.loads(lines[-1])
            printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
            if not summary["correct"] or summary["failed"]:
                problems.append(f"{tag}: correctness gates failed: {lines[-1]}")
            for m in bench[section]:
                got = summary["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} missing or not in {m['unit']}: {got}")
                elif printed.get(m["name"]) != m["unit"]:
                    problems.append(f"{tag}: {m['name']} not printed with unit {m['unit']}")
            if len(lines[-1].encode()) > 1536:
                problems.append(f"{tag}: summary line is {len(lines[-1].encode())} B (> 1.5 kB)")
            print(f"ok {tag}" if not problems else f"checked {tag}", flush=True)
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
