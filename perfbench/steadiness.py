"""Steadiness report: run workloads once per seed and print, for every
end-to-end metric, the median, the quartiles and the quartile spread as
a share of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workloads sql_read sql_write --seeds 1-10

Runs are sequential (one Spark JVM at a time). The spread is the one
the acceptance check uses: (q3 - q1) / median over
``statistics.quantiles(values, n=4)``.
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
sys.path.insert(0, HERE)

import config  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(
            f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-3000:]}"
        )
    for line in out.stdout.splitlines()[:-1]:
        print("   ", line)
    return json.loads(out.stdout.splitlines()[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in config.WORKLOADS])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=config.RUN_SECONDS)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in config.END_TO_END}
    wall_medians = []
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        walls, flags = [], []
        for seed in _seeds(args.seeds):
            res, wall = run_once(wl, seed, args.seconds, 0)
            walls.append(wall)
            flags.append((res["correct"], res["attempted"], res["failed"]))
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        wall_medians.append(statistics.median(walls))
        print(f"== {wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s"
              f" max {max(walls):.1f} s; (correct, attempted, failed) = {flags}")
        for k, xs in values.items():
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else float("inf")
            print(f"   {k:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}"
                  f"  spread {spread:6.3f}  bound {bounds[k]:.2f}"
                  f"  {'ok' if spread <= bounds[k] / 3 else 'WIDE'}")
    # A check makes 4 + 22 x (workloads) runs, which must end within 3420 s.
    est = 4 * max(wall_medians) + 22 * sum(wall_medians)
    print(f"== a check of these workloads would take about {est:.0f} s of 3420 s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
