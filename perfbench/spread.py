"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads cow_bulk_rewrite,mor_mixed --seeds 1-10

For every workload and end-to-end metric it prints the median, the first
and third quartile (``statistics.quantiles(values, n=4)``) and the
quartile distance as a share of the median, next to the metric's bound
from BENCHMARK.json. Runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main(argv) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for s in seeds(args.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=REPO, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            line = json.loads(lines[-1]) if lines else None
            if out.returncode or not line["correct"] or line["failed"]:
                print(f"{w} seed {s}: FAILED (exit {out.returncode}) {line}\n"
                      + out.stderr[-4000:])
                return 1
            for k, v in line["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / med
            if k != "setup_s":
                worst = max(worst, share / bounds[k])
            print(f"  {w} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {share:.3f} (bound {bounds[k]})")
    print(f"largest spread / bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
