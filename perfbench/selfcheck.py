"""Quick self-check of the benchmark at tiny input sizes.

Asserts that ``BENCHMARK.json`` matches the metric table in ``spec.py``
and that every workload, untraced and traced, prints a result line that
names every metric of its kind with its unit, with all checks passing.
Run from the repository root (about four minutes on four cores):

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import spec

    with open("BENCHMARK.json") as f:
        declared = json.load(f)
    assert declared == spec.benchmark_json(), "BENCHMARK.json differs from perfbench/spec.py"
    wanted = {0: {m[0]: m[1] for m in spec.END_TO_END},
              1: {m[0]: m[1] for m in spec.PER_LAYER}}
    for workload in spec.WHY:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                check=True, capture_output=True, text=True, timeout=600,
            ).stdout
            result = json.loads(out.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == wanted[trace], (workload, trace, set(got) ^ set(wanted[trace]))
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
