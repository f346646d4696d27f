"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. Every workload runs at ``--size tiny``, traced and untraced, passes its
   correctness checks with no failed operation, and prints exactly the
   metric names BENCHMARK.json lists (end_to_end untraced, per_layer
   traced).
2. Mutation check: re-inserting one deleted row behind the engine's back
   makes each delete workload's final check fail (exit code 1,
   ``"correct": false``).
3. In a directory that holds only BENCHMARK.json and the benchmark's
   files, the command exits non-zero without printing a result.

Takes several minutes; run it alone, not beside a benchmark run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def bench(cwd: str, *extra: str, timeout: float = 180) -> tuple[int, dict | None, float]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        cmd = json.load(fh)["command"]
    t = time.monotonic()
    out = subprocess.run(cmd + list(extra), cwd=cwd, capture_output=True,
                         text=True, timeout=timeout)
    lines = out.stdout.strip().splitlines()
    try:
        line = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        line = None
    return out.returncode, line, time.monotonic() - t


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: [m["name"] for m in spec["end_to_end"]],
             1: [m["name"] for m in spec["per_layer"]]}
    failures = []
    # cow_point_deletes and analytics_panel are not in BENCHMARK.json but
    # stay runnable
    workloads = list(dict.fromkeys(
        [w["name"] for w in spec["workloads"]]
        + ["cow_point_deletes", "analytics_panel"]))

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in workloads:
        for trace in (0, 1):
            code, line, took = bench(REPO, "--workload", w, "--seed", "7",
                                     "--seconds", "2", "--trace", str(trace),
                                     "--size", "tiny")
            expect(code == 0 and line is not None and line["correct"]
                   and line["failed"] == 0 and line["attempted"] >= 1,
                   f"{w} trace={trace} runs correctly ({took:.0f} s)")
            expect(line is not None and list(line["metrics"]) == names[trace],
                   f"{w} trace={trace} prints the BENCHMARK.json metric names")

    for w in ("cow_point_deletes", "cow_bulk_rewrite", "mor_mixed"):
        code, line, _ = bench(REPO, "--workload", w, "--seed", "7", "--seconds",
                              "2", "--trace", "0", "--size", "tiny", "--mutate")
        expect(code == 1 and line is not None and line["correct"] is False,
               f"{w}: a re-inserted deleted row fails the run")

    os.makedirs(os.path.join(REPO, ".perfbench_tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(REPO, ".perfbench_tmp"))
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(REPO, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, line, took = bench(bare, "--workload", spec["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1", "--trace", "0")
        expect(code != 0 and line is None and took < 180,
               f"bare directory: exit {code}, no result, {took:.1f} s")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
