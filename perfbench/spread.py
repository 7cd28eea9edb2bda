"""Run the benchmark once per seed and print each end-to-end metric's
median and quartile spread (IQR / median).

    python3 perfbench/spread.py --workload resolve_skewed_staged --seeds 1-10
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


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(f"seed {seed}: rc={proc.returncode} correct={result['correct']} "
              f"run {time.perf_counter() - t0:.1f} s walls {detail.get('walls_s')} cpu {detail.get('cpu_s')} "
              f"stages {detail.get('spark_stages')} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:18s} median {med:12.4f}  iqr/median {(q3 - q1) / med:.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
