"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload logs_index_rw --seeds 1-10

Runs ``perfbench/run.py`` once per seed, one run at a time, for
``run_seconds`` of ``BENCHMARK.json``, and prints
for every metric its median and its spread: the distance between the
first and third quartiles (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the bound ``BENCHMARK.json`` gives it.
The raw results go to ``perfbench/.out/spread-<workload>.json``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        record = json.loads(lines[-2].removeprefix("perfbench-record "))
        runs.append({"seed": seed, "wall_s": wall, **res, "record": record})
        print(
            f"seed {seed}: {wall:.1f}s correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']}",
            flush=True,
        )
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", f"spread-{args.workload}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    print(f"{'metric':<55} {'median':>14} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None or sp < bound / 3 else "  <-- above bound/3"
        print(f"{name:<55} {med:>14.4f} {sp:>8.3f} {bound or '':>6}{flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
