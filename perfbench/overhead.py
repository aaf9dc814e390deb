"""Tracing overhead: run a workload untraced and traced on the same seeds
and print, per end-to-end metric, the median of each and traced minus
untraced.

    python3 perfbench/overhead.py --workload NAME --seeds 1,2,3 [--seconds S]

``--seconds`` defaults to ``run_seconds`` in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: incorrect output\n{p.stderr[-2000:]}")
    return {k.removeprefix("traced."): v["value"] for k, v in out["metrics"].items()
            if trace == 0 or k.startswith("traced.")}


def main() -> None:
    ap = argparse.ArgumentParser(description="Traced minus untraced, per end-to-end metric.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    a = ap.parse_args()
    runs = {0: [], 1: []}
    for seed in (int(s) for s in a.seeds.split(",")):
        for trace in (0, 1):
            runs[trace].append(run(a.workload, seed, a.seconds, trace))
    report = {}
    for k in runs[0][0]:
        off = statistics.median(r[k] for r in runs[0])
        on = statistics.median(r[k] for r in runs[1])
        report[k] = {"untraced": off, "traced": on, "overhead": on - off,
                     "overhead_share": (on - off) / off if off else None}
    print(json.dumps({"workload": a.workload, "seeds": a.seeds, "overhead": report}, indent=1))


if __name__ == "__main__":
    main()
