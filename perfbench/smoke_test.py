"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py

Runs every workload once untraced and once traced with --scale tiny and
checks that the last stdout line is the result object, that every
output check passed, and that every metric BENCHMARK.json names for the
mode is printed, with its unit, and nothing else.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(spec: dict, workload: str, trace: int) -> None:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {name: v["unit"] for name, v in result["metrics"].items()}
    assert got == wanted, (
        f"missing {sorted(set(wanted) - set(got))}, extra {sorted(set(got) - set(wanted))}, "
        f"unit mismatches {sorted(n for n in wanted if n in got and got[n] != wanted[n])}"
    )
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), (name, v)
    print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(spec, w["name"], trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
