#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per end-to-end metric,
the median, the quartiles and the spread (IQR / median), as
``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    lo, hi = (int(s) for s in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        summary = json.loads(lines[-2])
        print(f"seed {seed}: {wall:.1f} s wall, "
              + ", ".join(f"{k}={m['value']:.4g}"
                          for k, m in res["metrics"].items())
              + f"; ops {summary['op_ms']} ms, cpu {summary['op_cpu_ms']} ms",
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"spread {(q3 - q1) / med:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
