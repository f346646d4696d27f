"""One benchmark run in one fresh process: session, set-up, warm-up, the
timed closed loop, correctness checks, and the metric line.

Started by ``run.py``, which owns the run's temporary directory, the
environment and the time limit. Writes its result JSON to ``--result``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402


def parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--mutate", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--report", required=True)
    return ap.parse_args(argv)


def session(root: str, hive: bool, trace: bool):
    from bd_delete_records_from_external_hive_table_spark.session import SessionFactory

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(root, "tmp")
    extra = {
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={root} "
            f"-Dderby.stream.error.file={root}/derby.log"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.hadoop.hive.exec.scratchdir": os.path.join(root, "hive-scratch"),
        "spark.hadoop.hive.exec.local.scratchdir": os.path.join(root, "hive-local"),
        "spark.hadoop.hive.downloaded.resources.dir": os.path.join(root, "hive-res"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(root, "eventlog")
        os.makedirs(log_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{log_dir}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = SessionFactory.create(
        app_name="perfbench", master=f"local[{cpus}]", hive=hive,
        warehouse_dir=os.path.join(root, "warehouse") if hive else None,
        metastore_dir=os.path.join(root, "metastore_db") if hive else None,
        shuffle_partitions=cpus, extra_confs=extra)
    if not SessionFactory.health_check(spark):
        raise RuntimeError("session health check failed")
    return spark


def layer_metrics(run, workload, tracer, jobs, session_s: float,
                  cycles: list[tuple[float, bool]]) -> dict[str, float]:
    """Per-layer numbers from the traced cycles, each per traced cycle
    (ratios over the run's totals)."""
    from spans import jobs_by_span, spark_totals
    from workloads import PANEL

    n = max(1, sum(1 for _, traced in cycles if traced))
    per_span = jobs_by_span(jobs)
    spans = tracer.spans
    kids: dict[str | None, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree_jobs(span) -> int:
        return per_span.get(span.id, 0) + sum(subtree_jobs(c) for c in kids.get(span.id, []))

    def self_s(name):
        return sum(s.self_s for s in spans if s.name == name) / n

    def own_jobs(name):
        return sum(per_span.get(s.id, 0) for s in spans if s.name == name) / n

    m: dict[str, float] = {"session.create_s": session_s,
                           "job.self_s": self_s("job.run")}
    for name in ("analyze", "execute"):
        m[f"deletion.{name}_s"] = self_s(f"deletion.{name}")
        m[f"deletion.{name}_jobs"] = own_jobs(f"deletion.{name}")
    plans = [s.result for s in spans if s.name == "deletion.analyze" and s.result]
    m["deletion.prune_ratio"] = (
        sum(len(p.candidates) for p in plans)
        / (len(workload.fx.partitions) * len(plans)) if plans else 0.0)
    results = [s.result for s in spans if s.name == "deletion.execute" and s.result]
    read = sum(r.metrics.records_read for r in results)
    kept = sum(r.metrics.records_retained for r in results)
    m["deletion.rows_rewritten"] = kept / n
    m["deletion.useful_ratio"] = (read - kept) / read if read else 0.0
    traced_ops = [o for o in run.ops if o.traced]
    m["deletion.bytes_written"] = sum(
        o.added.get("table", 0) for o in traced_ops if o.kind == "delete") / n
    m["backup.create_s"] = self_s("backup.create")
    m["backup.create_jobs"] = own_jobs("backup.create")
    m["backup.bytes_written"] = sum(o.added.get("backups", 0) for o in traced_ops) / n
    m["backup.cleanup_s"] = self_s("backup.cleanup")
    m["backup.cleanup_jobs"] = own_jobs("backup.cleanup")
    backup_dir = run.roots.get("backups")
    m["backup.tables_retained"] = (
        sum(1 for d in os.listdir(backup_dir) if "_backup_" in d)
        if backup_dir and os.path.isdir(backup_dir) else 0)
    m["validation.pre_s"] = self_s("validation.pre")
    m["validation.post_s"] = self_s("validation.post")
    m["validation.post_jobs"] = own_jobs("validation.post")
    m["recovery.recover_s"] = self_s("recovery.recover")
    m["recovery.recover_jobs"] = own_jobs("recovery.recover")
    m["recovery.attempts"] = tracer.restore_calls / n
    m["dv.delete_s"] = self_s("dv.delete")
    m["dv.delete_jobs"] = own_jobs("dv.delete")
    # read() builds a lazy frame; the read is paid when the caller's
    # aggregate runs, so the whole read operation is charged here
    m["dv.read_s"] = sum(s.end - s.start for s in spans if s.name == "op.read") / n
    m["dv.tombstone_files"] = getattr(workload, "peak_tombstone_files", 0)
    m["dv.tombstone_bytes"] = getattr(workload, "peak_tombstone_bytes", 0)
    m["dv.compact_s"] = self_s("dv.compact")
    m["dv.compact_bytes_written"] = sum(
        o.added.get("table", 0) for o in traced_ops if o.kind == "compact") / n
    for q in PANEL:
        qs = [s for s in spans if s.name == f"op.q:{q}"]
        m[f"plans.{q}.s"] = sum(s.end - s.start for s in qs) / n
        m[f"plans.{q}.jobs"] = sum(subtree_jobs(s) for s in qs) / n
    roots = [s for s in spans if s.parent is None]
    m.update({k: v / n for k, v in spark_totals(spans, roots, jobs).items()})
    traced = [c for c, t in cycles if t]
    plain = [c for c, t in cycles if not t]
    m["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain)
                             if traced and plain else 0.0)
    return m


def main(argv) -> int:
    args = parse(argv)
    root = args.run_dir
    trace = bool(args.trace)

    import measure
    from fixture import SIZES
    from workloads import WORKLOADS, Run

    cls = WORKLOADS[args.workload]
    spark = session(root, cls.hive, trace)
    session_s = time.perf_counter() - T_START
    ticks0 = measure.cpu_ticks()
    tracer = workload = None
    try:
        if trace:
            from spans import Tracer
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        run = Run(spark, root, args.seed, SIZES[args.size], tracer)
        workload = cls(run)
        builds = []
        for _ in range(cls.builds):
            t = time.perf_counter()
            workload.build()
            builds.append(time.perf_counter() - t)
        build_s = statistics.median(builds) if builds else 0.0
        workload.start()
        t = time.perf_counter()
        for _ in range(cls.warmup):
            workload.cycle()
        run.warmup_s = time.perf_counter() - t
        setup_s = session_s + build_s + run.warmup_s

        run.timed = True
        t0 = time.perf_counter()
        i = 0
        cpu: list[float] = []
        runtime_cpu: list[tuple[float, float]] = []
        # at least three cycles, so that a run slowed by a loaded host
        # still takes the median of three. A traced run traces cycles in
        # the order plain, traced, traced, plain, ... (at least four), so
        # that the JVM still warming up does not bias the overhead
        min_cycles = 4 if trace else 3
        while time.perf_counter() - t0 < args.seconds or i < min_cycles:
            run.cycle = i
            traced = trace and i % 4 in (1, 2)
            if tracer:
                tracer.active = traced
            workload.cycle()
            if tracer:
                tracer.active = False
            ops = [o for o in run.ops if o.cycle == i and o.kind not in cls.background]
            run.cycles.append((sum(o.seconds for o in ops), traced))
            cpu.append(sum(o.cpu_s for o in ops))
            runtime_cpu.append((sum(o.gc_cpu_s for o in ops),
                                sum(o.jit_cpu_s for o in ops)))
            i += 1
        run.timed = False
        loop_s = time.perf_counter() - t0

        if args.mutate:
            workload.mutate()
        workload.end_check()

        info: dict = {"setup.session_s": (session_s, "s"),
                      "setup.build_s": (build_s, "s", len(builds)),
                      "setup.warmup_s": (run.warmup_s, "s", cls.warmup)}
        workload.report(info)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss_jvm, rss_py = measure.vm_hwm_mb(jvm_pid), measure.vm_hwm_mb(os.getpid())
        rss = rss_jvm + rss_py
        info["peak_rss_mb(jvm, python)"] = (rss_jvm, f"MB + {rss_py:.0f} MB")
        host = {"loadavg": os.getloadavg(),
                "cpu_steal_pct": measure.steal_pct(ticks0, measure.cpu_ticks()),
                "cpus": len(os.sched_getaffinity(0))}
    finally:
        if workload is not None:
            workload.close()
        spark.stop()
        if tracer:
            tracer.uninstall()

    cycles = [c for c, _ in run.cycles]
    info["cycle_wall_p50_s"] = (statistics.median(cycles), "s", len(cycles))
    info["cycle_gc_cpu_s"] = (statistics.median(g for g, _ in runtime_cpu), "s",
                              len(runtime_cpu))
    info["cycle_jit_cpu_s"] = (statistics.median(j for _, j in runtime_cpu), "s",
                               len(runtime_cpu))
    metrics = {
        "setup_s": (setup_s, "s"),
        "cycle_cpu_s": (statistics.median(cpu), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    if trace:
        from spans import read_event_log
        jobs = read_event_log(os.path.join(root, "eventlog"))
        layers = layer_metrics(run, workload, tracer, jobs, session_s, run.cycles)
        tracer.dump(args.report.replace(".json", "-spans.jsonl"))
        metrics = {k: (v, unit_of(k)) for k, v in layers.items()}
        traced = [c for c, t in run.cycles if t]
        plain = [c for c, t in run.cycles if not t]
        info["trace.cycle_wall_p50_s(traced, plain)"] = (
            statistics.median(traced), f"s vs {statistics.median(plain):.4f} s"
            if plain else "s", len(run.cycles))

    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o.ok)
    info["failed_ops_share"] = (failed / max(1, attempted), "ratio")
    for k, v in sorted(info.items()):
        n = f" (n={v[2]})" if len(v) > 2 else ""
        print(f"  {k} = {measure.fmt(v[0])} {v[1]}{n}")
    print(f"  cycles = {len(cycles)} in {loop_s:.1f} s; host = {json.dumps(host)}")
    result = {
        "correct": not run.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.report, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "trace": args.trace, "size": args.size, "result": result,
                   "info": info, "host": host, "failures": run.failures,
                   "cycles": run.cycles,
                   "ops": [vars(o) for o in run.ops]}, fh, indent=1)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written") or name.endswith("_bytes"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
