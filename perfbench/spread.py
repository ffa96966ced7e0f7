"""Run one workload on several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10

Each run is untraced and measures BENCHMARK.json's ``run_seconds``.
For every metric it prints the median of the runs and the distance
between the first and third quartiles (``statistics.quantiles(n=4)``)
as a share of that median, next to its bound in BENCHMARK.json. Runs
are sequential; the raw result lines are appended to
``.perfbench_work/spread-<workload>.jsonl``.
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
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench_work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        res["seed"], res["wall_s"] = seed, wall
        runs.append(res)
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: wall {wall:.1f} s, attempted {res['attempted']}, "
              f"failed {res['failed']}, correct {res['correct']}", flush=True)
    print(f"{'metric':36s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{name:36s} {med:12.4f} {share:8.3f} {bounds[name]:>6}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
