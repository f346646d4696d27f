"""The benchmark's workloads. Each is a closed loop with one client: a cycle
is the caller's unit of work, and the next cycle starts when the previous
one has returned. Every operation is checked against an independent model
(the DuckDB mirror, or the DuckDB oracles of the query panel)."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from bd_delete_records_from_external_hive_table_spark.config import (
    DeletionCriteria, EngineConfig)
from bd_delete_records_from_external_hive_table_spark.job import DeletionJob
from bd_delete_records_from_external_hive_table_spark.operators.deletion_vectors import (
    MergeOnReadDeleter)
from bd_delete_records_from_external_hive_table_spark.operators.recovery import RecoveryManager

from fixture import DB, DUCK_FINGERPRINT, TABLE, Fixture, in_list, partition_list
import measure

HERE = os.path.dirname(os.path.abspath(__file__))
PANEL_DATA = os.path.join(HERE, "data", "sf0.001")


@dataclass
class Op:
    kind: str
    cycle: int
    seconds: float
    ok: bool
    traced: bool
    cpu_s: float = 0.0
    #: CPU of the JVM's garbage collector and JIT compiler threads
    gc_cpu_s: float = 0.0
    jit_cpu_s: float = 0.0
    added: dict[str, int] = field(default_factory=dict)
    deleted: int = 0


class Run:
    """State of one benchmark run: session, storage roots, checks, ops."""

    def __init__(self, spark, root: str, seed: int, size, tracer=None):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.failures: list[str] = []
        self.ops: list[Op] = []
        self.cycles: list[tuple[float, bool]] = []
        self.cycle = -1          # -1 while warming up
        self.warmup_s = 0.0
        self.timed = False
        self.pgid = os.getpgrp()
        self.roots: dict[str, str] = {}
        #: files under ``roots`` after the latest operation
        self.snap: dict = {}

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.append(msg)
            print(f"CHECK FAILED: {msg}", file=sys.stderr, flush=True)

    def watch(self, **roots: str) -> None:
        """Storage roots whose growth each operation is charged with."""
        self.roots = roots
        self.snap = measure.snapshot(*roots.values())

    def storage(self) -> dict[str, int]:
        snap = measure.snapshot(*self.roots.values())
        return {k: measure.total_bytes(snap, p) for k, p in self.roots.items()}

    def op(self, kind: str, fn, success=lambda r: True):
        """Time one public API call. Returns (result, ok, Op)."""
        traced = bool(self.tracer and self.tracer.active)
        if traced:
            self.tracer.op += 1
        cpu0 = measure.group_cpu(self.pgid)
        t0 = time.perf_counter()
        result, ok = None, True
        try:
            result = self.tracer.span(f"op.{kind}", fn) if traced else fn()
            ok = bool(success(result))
        except Exception:
            ok = False
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        cpu = {k: v - cpu0[k] for k, v in measure.group_cpu(self.pgid).items()}
        rec = Op(kind, self.cycle, seconds, ok, traced, cpu_s=cpu["program"],
                 gc_cpu_s=cpu["gc"], jit_cpu_s=cpu["jit"])
        if self.roots:
            after = measure.snapshot(*self.roots.values())
            rec.added = {k: measure.added_bytes(self.snap, after, p)
                         for k, p in self.roots.items()}
            self.snap = after
        if self.timed:
            self.ops.append(rec)
        return result, ok, rec


def day(pid: str) -> dt.datetime:
    return dt.datetime.strptime(pid, "%Y%m%d")


# -- delete workloads -----------------------------------------------------------

class DeleteWorkload:
    hive = True
    warmup = 1
    builds = 3
    #: operation kinds timed and checked but left out of the cycle time
    background: tuple[str, ...] = ()

    def __init__(self, run: Run):
        self.run = run
        self.fx = Fixture(run.spark, run.root, run.seed, run.size)
        #: a row the engine deleted, for the mutation check
        self.victim: dict | None = None
        #: every backup table a copy-on-write delete has returned
        self.backups: set[str] = set()

    def build(self) -> None:
        self.fx.build()

    def start(self) -> None:
        self.run.watch(table=self.fx.location,
                       backups=os.path.join(self.run.root, "warehouse",
                                            f"{DB}.db"),
                       tombstones=os.path.join(self.run.root, "tombstones"))

    def config(self, where: str, start: str, days: int, **kw) -> EngineConfig:
        return EngineConfig(
            database=DB, table=TABLE,
            criteria=DeletionCriteria(where_clause=where),
            partition_start=day(start),
            partition_end=day(start) + dt.timedelta(days=days), **kw)

    def remember_victim(self, where: str) -> None:
        row = self.fx.mirror.execute(
            f"SELECT * FROM events WHERE {where} ORDER BY event_id LIMIT 1"
        ).fetch_arrow_table()
        if row.num_rows:
            self.victim = row.to_pylist()[0]

    def check_backup(self, outcome) -> None:
        """The op's backup is new (not an earlier op's table overwritten)
        and holds exactly the pre-delete rows of its partitions."""
        run, ref = self.run, outcome.backup
        run.check(ref is not None, "delete produced no backup")
        if ref is None:
            return
        run.check(ref.ref not in self.backups,
                  f"backup {ref.ref} reused: an earlier backup was overwritten")
        self.backups.add(ref.ref)
        parts = partition_list(ref.partitions)
        want = self.fx.mirror_fingerprint(f"partition_id IN ({parts})")
        got = self.fx.spark_fingerprint(ref.ref, f"partition_id IN ({parts})")
        run.check(got == want, f"backup {ref.ref}: {got} != mirror {want}")

    def end_check(self) -> None:
        want = self.fx.mirror_fingerprint()
        got = self.fx.spark_fingerprint(self.fx.qualified)
        self.run.check(got == want, f"table {got} != mirror {want}")

    def mutate(self) -> None:
        """Write one deleted row back into its partition behind the
        engine's back (the benchmark's own correctness self-test)."""
        import pyarrow as pa
        import pyarrow.orc as orc

        row = dict(self.victim)
        pid = row.pop("partition_id")
        path = os.path.join(self.fx.location, f"partition_id={pid}",
                            "part-mutation.orc")
        orc.write_table(pa.Table.from_pylist([row]), path)
        self.run.spark.sql(f"REFRESH TABLE {self.fx.qualified}")

    def storage_metrics(self, info: dict) -> None:
        ops = [o for o in self.run.ops if o.kind in ("delete", "compact")]
        deleted = sum(o.deleted for o in ops)
        written = sum(sum(o.added.values()) for o in ops)
        if deleted:
            info["write_bytes_per_deleted_row"] = (written / deleted, "B/row")
        store = self.run.storage()
        info["space_amp"] = (sum(store.values()) / max(1, store["table"]),
                             "ratio")

    def close(self) -> None:
        self.fx.close()


class CowBulkRewrite(DeleteWorkload):
    """Cycle = a 20-partition copy-on-write delete of ~30% of the rows
    (one partition matches fully) + recover() of its backup."""

    name = "cow_bulk_rewrite"
    warmup = 2
    window = 20

    def cycle(self) -> None:
        run, fx = self.run, self.fx
        width = self.window
        first = int(run.rng.integers(0, len(fx.partitions) - width + 1))
        window = fx.partitions[first:first + width]
        full = window[int(run.rng.integers(0, width))]
        where = f"value < 300 OR partition_id = '{full}'"
        scope = f"partition_id IN ({partition_list(window)})"
        expect = fx.mirror_scalar(
            f"SELECT count(*) FROM events WHERE {scope} AND ({where})")
        cfg = self.config(where, window[0], width)
        outcome, ok, rec = run.op("delete", DeletionJob(run.spark, cfg).run,
                                  lambda o: o.success)
        if not ok:
            return
        got = outcome.result.deleted
        rec.deleted = got
        run.check(got == expect, f"bulk delete: engine {got} != mirror {expect}")
        self.check_backup(outcome)
        self.remember_victim(f"{scope} AND ({where})")
        # the mirror is not changed: recover() below restores the table
        run.op("restore", lambda: RecoveryManager(run.spark, cfg).recover(
            outcome.backup), bool)

    def report(self, info: dict) -> None:
        for kind, name in (("delete", "delete_p50_s"),
                           ("restore", "restore_p50_s")):
            xs = [o.seconds for o in self.run.ops if o.kind == kind]
            if xs:
                info[name] = (statistics.median(xs), "s", len(xs))
        self.storage_metrics(info)


class CowPointDeletes(DeleteWorkload):
    """Cycle = one copy-on-write GDPR delete: a one-day partition window
    and a set of users matching ~0.1% of that partition."""

    name = "cow_point_deletes"

    def users_per_delete(self) -> int:
        return max(1, self.fx.size.rows_per_partition // 1000)

    def cycle(self) -> None:
        run, fx = self.run, self.fx
        pid = fx.partitions[int(run.rng.integers(0, len(fx.partitions)))]
        users = fx.live_users(pid, self.users_per_delete(), run.rng)
        where = f"user_id IN ({in_list(users)})"
        scope = f"partition_id = '{pid}' AND {where}"
        expect = fx.mirror_scalar(f"SELECT count(*) FROM events WHERE {scope}")
        cfg = self.config(where, pid, 1)
        outcome, ok, rec = run.op("delete", DeletionJob(run.spark, cfg).run,
                                  lambda o: o.success)
        if not ok:
            return
        got = outcome.result.deleted
        rec.deleted = got
        run.check(got == expect, f"point delete: engine {got} != mirror {expect}")
        # the backup is checked against the mirror BEFORE the mirror delete
        self.check_backup(outcome)
        self.remember_victim(scope)
        fx.mirror.execute(f"DELETE FROM events WHERE {scope}")

    def report(self, info: dict) -> None:
        xs = [o.seconds for o in self.run.ops if o.kind == "delete"]
        if xs:
            info["delete_p50_s"] = (statistics.median(xs), "s", len(xs))
            t = measure.tail(xs)
            if t:
                info[f"delete_tail_s(p{t[0]:.0f})"] = (t[1], "s", len(xs))
        self.storage_metrics(info)


class MorMixed(DeleteWorkload):
    """Cycle = one round: a merge-on-read delete (~0.1% of one partition)
    followed by three reads through read() (an aggregate over a 7-day
    window) and one pass over the query panel in the same session. Every
    fifth round also runs compact(), which is background work: timed and
    checked, but not part of the round's time."""

    name = "mor_mixed"
    warmup = 2
    background = ("compact",)
    reads = 3
    compact_every = 5

    def __init__(self, run: Run):
        super().__init__(run)
        self.dv = os.path.join(run.root, "tombstones")
        self.round = 0
        self.peak_tombstone_files = 0
        self.peak_tombstone_bytes = 0
        self.panel = Panel(run)

    def build(self) -> None:
        super().build()
        # rows tombstoned but not yet compacted (still on disk)
        self.fx.mirror.execute(
            "CREATE OR REPLACE TABLE pending AS SELECT * FROM events LIMIT 0")

    def deleter(self, cfg: EngineConfig) -> MergeOnReadDeleter:
        return MergeOnReadDeleter(self.run.spark, cfg, self.dv, ["event_id"])

    def cycle(self) -> None:
        run, fx = self.run, self.fx
        self.round += 1
        pid = fx.partitions[int(run.rng.integers(0, len(fx.partitions)))]
        users = fx.live_users(pid, max(1, fx.size.rows_per_partition // 1000),
                              run.rng)
        where = f"user_id IN ({in_list(users)})"
        scope = f"partition_id = '{pid}' AND {where}"
        expect = fx.mirror_scalar(f"SELECT count(*) FROM events WHERE {scope}")
        cfg = self.config(where, pid, 1)
        res, ok, rec = run.op("delete", self.deleter(cfg).delete)
        if ok:
            rec.deleted = res.keys_written
            run.check(res.keys_written == expect,
                      f"mor delete: engine {res.keys_written} != mirror {expect}")
            self.remember_victim(scope)
            fx.mirror.execute(f"INSERT INTO pending SELECT * FROM events WHERE {scope}")
            fx.mirror.execute(f"DELETE FROM events WHERE {scope}")
            if run.timed:
                store = [(p, size) for p, (size, _) in run.snap.items()
                         if p.startswith(self.dv) and p.endswith(".parquet")]
                self.peak_tombstone_files = max(self.peak_tombstone_files, len(store))
                self.peak_tombstone_bytes = max(self.peak_tombstone_bytes,
                                                sum(s for _, s in store))
        for _ in range(self.reads):
            first = int(run.rng.integers(0, len(fx.partitions) - 6))
            window = fx.partitions[first:first + 7]
            self.read(cfg, window)
        self.panel.run_pass()
        if self.round % self.compact_every == 0:
            _, ok, _ = run.op("compact", self.deleter(cfg).compact)
            if ok:
                fx.mirror.execute("DELETE FROM pending")

    def read(self, cfg: EngineConfig, window: list[str]) -> None:
        run = self.run

        def aggregate():
            df = self.deleter(cfg).read()
            return (df.where(F.col("partition_id").isin(window))
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.round(F.col("value") * 100).cast("bigint"))
                         .alias("cents"))
                    .collect())
        rows, ok, _ = run.op("read", aggregate)
        if not ok:
            return
        got = sorted((r["event_type"], r["n"], r["cents"]) for r in rows)
        want = sorted(tuple(r) for r in self.fx.mirror.execute(
            "SELECT event_type, count(*), "
            "sum(CAST(round(value * 100) AS BIGINT))::BIGINT FROM events "
            f"WHERE partition_id IN ({partition_list(window)}) GROUP BY 1"
        ).fetchall())
        run.check(got == want, f"mor read {window[0]}+7d: {got} != mirror {want}")

    def end_check(self) -> None:
        """Logical table (read()) equals the mirror; the physical table
        equals the mirror plus the rows still waiting for compaction."""
        fx = self.fx
        cfg = self.config("user_id < 0", fx.partitions[0], 1)
        self.deleter(cfg).read().createOrReplaceTempView("_logical")
        got = fx.spark_fingerprint("_logical")
        want = fx.mirror_fingerprint()
        self.run.check(got == want, f"logical table {got} != mirror {want}")
        n, h = fx.mirror.execute(
            "SELECT " + DUCK_FINGERPRINT + " FROM (SELECT * FROM events UNION ALL "
            "SELECT * FROM pending)").fetchone()
        got = fx.spark_fingerprint(fx.qualified)
        self.run.check(got == (int(n), int(h or 0)),
                       f"physical table {got} != mirror+pending {(n, h)}")
        self.panel.check()

    def report(self, info: dict) -> None:
        ops = self.run.ops
        for kind, name, tail in (("delete", "delete_p50_s", "delete_tail_s"),
                                 ("read", "read_p50_s", "read_tail_s"),
                                 ("compact", "compact_p50_s", None)):
            xs = [o.seconds for o in ops if o.kind == kind]
            if not xs:
                continue
            info[name] = (statistics.median(xs), "s", len(xs))
            t = measure.tail(xs) if tail else None
            if t:
                info[f"{tail}(p{t[0]:.0f})"] = (t[1], "s", len(xs))
        self.panel.report(info, self.warmup)
        self.storage_metrics(info)
        files = measure.snapshot(self.dv)
        info["tombstone_files"] = (sum(1 for p in files if p.endswith(".parquet")),
                                   "count")


# -- the query panel -----------------------------------------------------------

#: The q01-q10 reference queries and two text/data profiles. The heavy
#: analytics queries (LSH dedup, k-means, triangle count) do not fit the
#: benchmark's time budget steadily; see README.md.
PANEL = [
    "q01_scan_count", "q02_time_window", "q03_conjunctive_criteria",
    "q04_retention_complement", "q05_in_list_filter",
    "q06_affected_partition_probe", "q07_delete_retain_complement",
    "q08_ordered_projection", "q09_count_reconciliation",
    "q10_per_partition_counts", "p02_data_profile", "t22_duplication_profile",
]


def _cell(v) -> str:
    """Type-sensitive cell rendering shared by Spark rows and DuckDB
    frames (same rules as the repo's oracle parity suite)."""
    import pandas as pd

    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "<nan>" if math.isnan(f) else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    return str(v)


def normalise(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class Panel:
    """One pass over the panel, in a seeded order, each query checked at
    the end of the run against its DuckDB oracle."""

    def __init__(self, run: Run):
        from bd_delete_records_from_external_hive_table_spark import plans

        self.run = run
        self.specs = {n: plans.REGISTRY[n] for n in PANEL}
        self.results: dict[str, list] = {}
        #: wall time of each pass, the untimed ones included
        self.passes: list[float] = []

    def run_pass(self) -> None:
        run = self.run
        spent = 0.0
        for i in run.rng.permutation(len(PANEL)):
            name = PANEL[i]
            spec = self.specs[name]

            def query(fn=spec.spark_fn):
                df = fn(run.spark, PANEL_DATA)
                return df.columns, df.collect()
            res, ok, rec = run.op(f"q:{name}", query)
            spent += rec.seconds
            if ok:
                self.results.setdefault(name, []).append(normalise(*res))
        self.passes.append(spent)

    def check(self) -> None:
        import duckdb
        from bd_delete_records_from_external_hive_table_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{PANEL_DATA}/{t}.parquet')")
            for name in PANEL:
                frame = con.sql(self.specs[name].oracle).df()
                want = normalise(list(frame.columns),
                                 frame.itertuples(index=False, name=None))
                got = self.results.get(name, [])
                self.run.check(bool(got), f"{name}: no successful run")
                for k, rows in enumerate(got):
                    self.run.check(rows == want,
                                   f"{name} pass {k}: {len(rows)} rows differ "
                                   f"from the DuckDB oracle ({len(want)} rows)")
        finally:
            con.close()

    def report(self, info: dict, warmup: int) -> None:
        """The first (cold) pass, and the median of the timed ones."""
        if self.passes:
            info["panel_cold_s"] = (self.passes[0], "s", 1)
        timed = self.passes[warmup:]
        if timed:
            info["panel_warm_s"] = (statistics.median(timed), "s", len(timed))


class AnalyticsPanel:
    """Cycle = one warm pass over the panel, in a seeded order. The cold
    first pass and one warm pass are the warm-up and count as set-up."""

    name = "analytics_panel"
    hive = False
    warmup = 2
    builds = 0
    background: tuple[str, ...] = ()

    def __init__(self, run: Run):
        self.panel = Panel(run)

    def build(self) -> None:
        pass

    def start(self) -> None:
        pass

    def cycle(self) -> None:
        self.panel.run_pass()

    def end_check(self) -> None:
        self.panel.check()

    def mutate(self) -> None:
        raise SystemExit("the mutation check applies to delete workloads")

    def report(self, info: dict) -> None:
        self.panel.report(info, self.warmup)

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (CowPointDeletes, CowBulkRewrite, MorMixed,
                                 AnalyticsPanel)}
