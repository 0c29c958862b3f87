"""Run one workload at several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median, the steadiness test that
BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workload stream_drop --seeds 1 2 3 4 5
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        wall = time.perf_counter() - t0
        record, result = json.loads(out[-2]), json.loads(out[-1])
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "host": record["host"], "detail": record["detail"],
                          "correct": result["correct"], "failed": result["failed"],
                          "metrics": {k: round(m["value"], 4)
                                      for k, m in result["metrics"].items()}}))
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        sys.stdout.flush()
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _q2, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = "" if bound is None else f" bound {bound} ({spread / bound:.2f} of it)"
        print(f"{k:48s} median {med:12.4f} spread {spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
