"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run starts ``worker.py`` as a fresh
process in a fresh directory under ``.perfbench_tmp/`` that holds the
warehouse, the Derby metastore, Spark's local and temporary files and
``SPARK_GRAFT_ARTIFACTS``; the directory is removed when the run ends,
whether or not it succeeded. The worker's process group is stopped and
waited for. The last line of standard output is the result JSON; a
per-run report (and, traced, the spans) is kept in ``.perfbench_out/``.

Workloads: cow_bulk_rewrite, mor_mixed (and the optional
cow_point_deletes and analytics_panel). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "bd_delete_records_from_external_hive_table_spark"
#: the worker must finish inside the benchmark's 180 s limit per run
TIME_LIMIT_S = 160


def stop_group(pgid: int, grace: float) -> None:
    """Give the processes left in the worker's group (the JVM shuts down
    once the worker is gone) ``grace`` seconds to exit, then SIGTERM and
    SIGKILL them, and wait until none is left."""
    for sig, patience in ((0, grace), (signal.SIGTERM, 5.0),
                          (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + patience
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a small fixture for the benchmark's self-test")
    ap.add_argument("--mutate", action="store_true",
                    help="self-test: re-insert a deleted row before the "
                         "final check, which must then fail")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found in {REPO}",
              file=sys.stderr)
        return 2

    base = os.path.join(REPO, ".perfbench_tmp")
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(base, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        for d in ("tmp", "artifacts", "spark-local"):
            os.makedirs(os.path.join(root, d))
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(
                [REPO, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
            "TMPDIR": os.path.join(root, "tmp"),
            "SPARK_GRAFT_ARTIFACTS": os.path.join(root, "artifacts"),
            "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            # every JVM of the run, the spark-submit launcher included:
            # temporary files in the run directory, no /tmp/hsperfdata,
            # and a fixed set of JIT compiler threads, whose CPU time
            # measure.group_cpu keeps apart from the program's
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData "
                                 "-XX:-UseDynamicNumberOfCompilerThreads "
                                 "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
        })
        result = os.path.join(root, "result.json")
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size, "--run-dir", root, "--result", result,
               "--report", os.path.join(out_dir, f"{tag}.json")]
        if args.mutate:
            cmd.append("--mutate")
        proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
        code = None
        try:
            code = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S} s; stopped",
                  file=sys.stderr)
        finally:
            stop_group(proc.pid, grace=0.0 if code is None else 10.0)
            proc.wait()
        if code != 0 or not os.path.exists(result):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result) as fh:
            line = json.load(fh)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
