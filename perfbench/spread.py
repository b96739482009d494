"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload curation --seeds 1-10 --seconds 18

Runs ``run.py`` once per seed, one after another, and prints per metric
the median, the quartile spread ((Q3 - Q1) / median, as
``statistics.quantiles(n=4)`` gives the quartiles) and each run's wall
time. The spread is what the benchmark's bounds are held to. With
``--out``, every run's JSON result is also appended to that file and
its stderr log (per-op times) written beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": seed, "wall_s": walls[-1], **result}) + "\n")
            with open(f"{args.out}.{args.workload}.seed{seed}.log", "w") as fh:
                fh.write(proc.stderr)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for k, vs in values.items():
        spread = stats.quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k}: median {stats.median(vs):.4g} spread {spread:.4f} n={len(vs)}")
    print(f"wall: median {stats.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
