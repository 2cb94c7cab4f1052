#!/usr/bin/env python3
"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload serve_mixed --seeds 1-10 [--trace 0]

For each metric it prints the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread, (q3 - q1) / median:
the figures BENCHMARK.json's bounds are judged by. Each run's result line is
appended to --out (JSON lines) so a long series can be inspected later.
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
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", args.trace],
            capture_output=True, text=True)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                "result": result, "detail": json.loads(lines[-2])}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f}s " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for name, vs in values.items() if len(seeds(args.seeds)) > 1 else ():
        s = summarise(vs)
        print(f"{name:28s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
              f"spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
