"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at tiny input sizes,
checks that every metric BENCHMARK.json names is printed with its unit,
and that a deliberately corrupted oracle text trips the correctness
gate (``correct`` false, exit code 1). Takes several minutes: every run
starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stdout + proc.stderr)
        return proc.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            code, res = bench(w, trace)
            got = {} if res is None else {
                k: v["unit"] for k, v in res["metrics"].items()}
            if code != 0 or res is None or not res["correct"]:
                failures.append(f"{w} trace {trace}: exit {code}, {res}")
            elif got != want[trace]:
                failures.append(f"{w} trace {trace}: metrics differ: "
                                f"{sorted(set(got) ^ set(want[trace]))}")
            print(f"{w} trace {trace}: exit {code}", flush=True)
    code, res = bench("bulk_extract", 0, "--corrupt-oracle")
    if code != 1 or res is None or res["correct"] or not res["failed"]:
        failures.append(f"corrupted oracle not caught: exit {code}, {res}")
    print(f"corrupted oracle: exit {code}", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
