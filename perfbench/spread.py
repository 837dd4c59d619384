"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--seconds 6]

Runs perfbench/run.py once per seed, one run at a time, and prints per
metric the median and the quartile spread (Q3 - Q1) / median, with
``statistics.quantiles(values, n=4)``, plus each run's wall time.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default=None)
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = a.seconds or str(json.load(f)["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(a.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", a.trace],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        wall = time.perf_counter() - t0
        res, noise = json.loads(out[-1]), json.loads(out[-2])["noise"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              f"op_s={noise['op_s']} warm={noise['warmup_op_s']} "
              f"steal={noise['steal_s']} load={noise['load1_start']:.2f}",
              flush=True)
    for k, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = f"{(q3 - q1) / med:.3f}"
        else:
            spread = "n/a"
        print(f"{k:28s} median {med:12.4f}  spread {spread}  "
              f"{[round(v, 4) for v in vals]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
