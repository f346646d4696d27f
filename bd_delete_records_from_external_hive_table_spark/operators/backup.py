"""Backup & restore.

Re-expression of ``/root/reference/.../backup/`` (BackupManager.java,
BackupStrategy.java, HiveTableBackupStrategy.java, HDFSBackupStrategy.java).

A strategy keeps only what differs between backup media — write, read,
list and delete:

- **HiveTableBackupStrategy** — ``saveAsTable`` a partitioned ORC clone named
  ``<table>_backup_<yyyyMMdd_HHmmss>`` tagged with TBLPROPERTIES
  (HiveTableBackupStrategy.java:25-57).
- **PathBackupStrategy** — partitioned ORC written to a filesystem path plus
  a ``_manifest.txt`` manifest (HDFSBackupStrategy.java:28-53,151-175 —
  the reference names it ``_metadata.txt``, but Spark's file index treats
  names starting with ``_metadata`` as parquet summary files and would
  feed it to the ORC reader; ``_manifest`` stays properly hidden).

:class:`BackupManager` owns the rest for both: the row-count validation,
restore through the shared copy-on-write commit
(:func:`.deletion.commit_partitions`; HiveTableBackupStrategy.java:60-75,
HDFSBackupStrategy.java:56-73), and the latest-backup lookup and the
retention sweep, which walk one listing under one eligibility rule:

- **Eligibility.** A listed backup belongs to this table when its recorded
  source (TBLPROPERTY ``backup_source``, manifest ``source_table``) is this
  table, or when it records no source and its name suffix parses as a
  timestamp. Another table's backups that share the name prefix
  (``t_backup_x``'s backups start with ``t_backup_``) or a shared
  ``backup_location`` are never restored and never swept.
- **Ages.** ``latest`` orders by the recorded ``backup_timestamp``,
  falling back to the name suffix. Retention ages a Hive backup the same
  way (HiveTableBackupStrategy.java:98-138) and a path backup by its
  directory's modification time (HDFSBackupStrategy.java:100-129).

Timestamps for backup naming are injected (``now``) rather than read from a
global clock so tests are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..metrics import audit
from ..partitions import in_list_predicate
from ..sources.fs import HadoopFS
from .deletion import commit_partitions

__all__ = ["BackupManager", "BackupRef", "HiveTableBackupStrategy",
           "PathBackupStrategy", "BackupError"]

_TS_FMT = "%Y%m%d_%H%M%S"


def _ts(text: str | None) -> datetime | None:
    try:
        return datetime.strptime(text or "", _TS_FMT)
    except ValueError:
        return None


class BackupError(RuntimeError):
    pass


@dataclass(frozen=True)
class BackupRef:
    """Handle to a created backup (table name or path)."""

    strategy: str
    ref: str
    source_table: str
    partitions: tuple[str, ...]
    created_at: datetime


@dataclass(frozen=True)
class _Listed:
    """A backup-named entry as its strategy lists it."""

    ref: str
    #: the name after ``<table>_backup_``
    suffix: str
    source: str | None
    timestamp: str | None
    partitions: str
    #: directory modification time (path backups age by it)
    mtime: datetime | None = None


class _Strategy:
    name = ""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config

    def backup_count(self, ref: BackupRef) -> int:
        return self.read(ref).count()


class HiveTableBackupStrategy(_Strategy):
    """Backup into a Hive table (HiveTableBackupStrategy.java)."""

    name = "hive_table"

    def write(self, df: DataFrame, partitions: list[str],
              now: datetime) -> str:
        cfg = self.config
        name = f"{cfg.database}.{cfg.table}_backup_{now.strftime(_TS_FMT)}"
        (df.write.mode("overwrite").format("orc")
           .partitionBy(cfg.partition_column).saveAsTable(name))
        parts_csv = ",".join(partitions).replace("'", "")
        self.spark.sql(
            f"ALTER TABLE {name} SET TBLPROPERTIES ("
            f"'backup_source'='{cfg.qualified_table}',"
            f"'backup_timestamp'='{now.strftime(_TS_FMT)}',"
            f"'backup_partitions'='{parts_csv}')")
        return name

    def read(self, ref: BackupRef) -> DataFrame:
        return self.spark.table(ref.ref)

    def list_backups(self) -> Iterator[_Listed]:
        # Hive lowercases table names in the catalog; compare
        # case-insensitively or mixed-case configs never match their
        # own backups and retention silently stops working.
        # Both commands are collected plainly: that runs no Spark job,
        # where catalog.listTables() and a filtered SHOW TBLPROPERTIES
        # each run jobs.
        db = self.config.database
        prefix = f"{self.config.table}_backup_".lower()
        for t in self.spark.sql(f"SHOW TABLES IN {db}").collect():
            name = t["tableName"]
            if t["isTemporary"] or not name.lower().startswith(prefix):
                continue
            qualified = f"{db}.{name}"
            try:
                props = dict(self.spark.sql(
                    f"SHOW TBLPROPERTIES {qualified}").collect())
            except Exception:  # pragma: no cover - probe best-effort
                props = {}
            yield _Listed(qualified, name[len(prefix):],
                          props.get("backup_source"),
                          props.get("backup_timestamp"),
                          props.get("backup_partitions", ""))

    def delete(self, ref: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {ref}")


class PathBackupStrategy(_Strategy):
    """Backup to a filesystem path as partitioned ORC + manifest
    (HDFSBackupStrategy.java)."""

    name = "path"

    def __init__(self, spark: SparkSession, config: EngineConfig):
        super().__init__(spark, config)
        self.fs = HadoopFS(spark)

    def write(self, df: DataFrame, partitions: list[str],
              now: datetime) -> str:
        cfg = self.config
        path = (f"{cfg.backup_location.rstrip('/')}/"
                f"{cfg.table}_backup_{now.strftime(_TS_FMT)}")
        (df.write.mode("overwrite").format("orc")
           .partitionBy(cfg.partition_column).save(path))
        manifest = "\n".join([
            f"source_table={cfg.qualified_table}",
            f"backup_timestamp={now.strftime(_TS_FMT)}",
            f"partitions={','.join(partitions)}",
        ])
        self.fs.write_text(f"{path}/_manifest.txt", manifest)
        return path

    def read(self, ref: BackupRef) -> DataFrame:
        return self.spark.read.format("orc").load(ref.ref)

    def list_backups(self) -> Iterator[_Listed]:
        marker = f"/{self.config.table}_backup_"
        for path, mod_ms in self.fs.list_dirs(self.config.backup_location):
            if marker not in path:
                continue
            manifest: dict[str, str] = {}
            try:
                for line in self.fs.read_text(
                        f"{path}/_manifest.txt").splitlines():
                    key, _, value = line.partition("=")
                    manifest[key] = value
            except Exception:  # pragma: no cover - manifest best-effort
                pass
            yield _Listed(path, path.rsplit(marker, 1)[1],
                          manifest.get("source_table"),
                          manifest.get("backup_timestamp"),
                          manifest.get("partitions", ""),
                          datetime.fromtimestamp(mod_ms / 1000))

    def delete(self, ref: str) -> None:
        self.fs.delete(ref, recursive=True)


class BackupManager:
    """Orchestrates create → validate → tag (BackupManager.java:40-75)."""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config
        if config.backup_strategy == "hive_table":
            self.strategy = HiveTableBackupStrategy(spark, config)
        else:
            self.strategy = PathBackupStrategy(spark, config)

    def create_backup(self, partitions: list[str],
                      now: datetime | None = None,
                      expected_count: int | None = None) -> BackupRef:
        """``expected_count`` lets the caller pass a source-row count it
        already holds (the deletion job's single-scan partition analysis);
        omitting it costs one extra scan of the source partitions."""
        if not partitions:
            raise BackupError("no partitions to back up")
        now = now or datetime.now()
        cfg = self.config
        source = (self.spark.table(cfg.qualified_table)
                  .where(in_list_predicate(cfg.partition_column, partitions)))
        source_count = (expected_count if expected_count is not None
                        else source.count())
        ref = BackupRef(self.strategy.name,
                        self.strategy.write(source, partitions, now),
                        cfg.qualified_table, tuple(partitions), now)
        backup_count = self.strategy.backup_count(ref)
        if backup_count != source_count:
            raise BackupError(
                f"backup validation failed: source={source_count} "
                f"backup={backup_count} ({ref.ref})")
        audit("backup_created", ref=ref.ref, strategy=ref.strategy,
              partitions=list(partitions), rows=backup_count)
        return ref

    def restore(self, ref: BackupRef) -> int:
        """Dynamic-partition overwrite of the source from the backup. The
        restored-row count is observe()d during the write — the reference
        pays a second backup scan for it (HiveTableBackupStrategy.java:81,
        HDFSBackupStrategy.java:83)."""
        restored = commit_partitions(
            self.spark, ref.source_table, self.config.partition_column,
            self.strategy.read(ref)).written
        audit("backup_restored", ref=ref.ref, rows=restored)
        return restored

    def _eligible(self) -> list[tuple[_Listed, datetime | None]]:
        """This table's backups with their recorded creation time (the
        eligibility rule in the module docstring)."""
        own = []
        for entry in self.strategy.list_backups():
            named = _ts(entry.suffix)
            if (entry.source == self.config.qualified_table
                    or (entry.source is None and named is not None)):
                own.append((entry, _ts(entry.timestamp) or named))
        return own

    def latest_backup(self) -> BackupRef | None:
        """Most recent backup for the configured table under the
        configured strategy (manual-restore entry point)."""
        dated = [(ts, entry) for entry, ts in self._eligible()
                 if ts is not None]
        if not dated:
            return None
        ts, entry = max(dated, key=lambda d: d[0])
        return BackupRef(self.strategy.name, entry.ref,
                         self.config.qualified_table,
                         tuple(p for p in entry.partitions.split(",") if p),
                         ts)

    def cleanup_old_backups(self, now: datetime | None = None) -> list[str]:
        """Remove this table's backups older than the retention window."""
        cutoff = ((now or datetime.now())
                  - timedelta(days=self.config.backup_retention_days))
        removed = []
        for entry, created in self._eligible():
            age = entry.mtime or created
            if age is not None and age < cutoff:
                self.strategy.delete(entry.ref)
                removed.append(entry.ref)
        if removed:
            audit("backups_cleaned", removed=removed)
        return removed
