"""Merge-on-read (deletion-vector) DELETE: tombstone append, anti-join
read, compaction parity with the copy-on-write path.

Invariants:
- delete() hides rows from read() but leaves the table's files untouched
- deletes accumulate across batches
- compact() physically applies tombstones: read() is unchanged, the raw
  table now equals read(), emptied partitions drop out of SHOW PARTITIONS
- NULL-valued keys are refused (they could never anti-join-match)
"""

from __future__ import annotations

import itertools
import os

import pytest

from bd_delete_records_from_external_hive_table_spark.config import (
    DeletionCriteria,
    EngineConfig,
)
from bd_delete_records_from_external_hive_table_spark.operators.deletion_vectors import (
    MergeOnReadDeleter,
)

from .test_deletion_engine import DB, seed

_seq = itertools.count()


@pytest.fixture(scope="module", autouse=True)
def _db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    yield


@pytest.fixture
def table(spark):
    name = f"test_mor_table_{next(_seq)}"
    spark.sql(f"""
        CREATE TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")


def _mor(spark, table, criteria, tmp_path, **kw) -> MergeOnReadDeleter:
    cfg = EngineConfig(database=DB, table=table, criteria=criteria,
                       backup_enabled=False, validation_enabled=False, **kw)
    return MergeOnReadDeleter(spark, cfg, str(tmp_path / "dv"),
                              key_columns=["id"])


def _table_files(spark, table) -> dict[str, float]:
    loc = (spark.sql(f"DESCRIBE FORMATTED {DB}.{table}")
           .where("col_name = 'Location'").select("data_type").first()[0])
    root = loc.removeprefix("file:")
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getmtime(p)
    return out


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.select("id").collect())


def test_mor_delete_hides_rows_without_touching_files(spark, table, tmp_path):
    seed(spark, table)
    before = _table_files(spark, table)
    mor = _mor(spark, table, DeletionCriteria(where_clause="id = 5"),
               tmp_path)
    res = mor.delete()
    assert res.keys_written == 1
    assert _ids(mor.read()) == [1, 2, 3, 4, 6, 7, 8, 9, 10]
    # physical table untouched: same files, same mtimes, all 10 rows
    assert _table_files(spark, table) == before
    assert spark.table(f"{DB}.{table}").count() == 10


def test_mor_deletes_accumulate_and_compact_applies(spark, table, tmp_path):
    seed(spark, table)  # ids 1..10, INACTIVE = {2,5,8}
    mor = _mor(spark, table, DeletionCriteria(where_clause="id = 5"),
               tmp_path)
    mor.delete()
    mor2 = _mor(spark, table,
                DeletionCriteria(where_clause="status = 'INACTIVE'"),
                tmp_path)
    assert mor2.delete().keys_written == 3  # 2,5,8 (5 tombstoned twice)
    survivors = [1, 3, 4, 6, 7, 9, 10]
    assert _ids(mor2.read()) == survivors
    assert mor2.pending() == 3  # distinct keys

    result = mor2.compact()
    assert result.tombstones_applied == 3
    assert result.partitions_rewritten == ["20260213"]
    assert result.partitions_dropped == []
    # physical table now equals the logical view; store cleared
    assert _ids(spark.table(f"{DB}.{table}")) == survivors
    assert _ids(mor2.read()) == survivors
    assert mor2.pending() == 0


def test_mor_compact_drops_emptied_partition(spark, table, tmp_path):
    seed(spark, table, partition="20260213", ids=range(1, 11))
    seed(spark, table, partition="20260214", ids=range(11, 21))
    mor = _mor(spark, table, DeletionCriteria(where_clause="id >= 11"),
               tmp_path)
    assert mor.delete().keys_written == 10
    assert _ids(mor.read()) == list(range(1, 11))

    result = mor.compact()
    assert result.partitions_dropped == ["20260214"]
    assert result.partitions_rewritten == []
    parts = [r[0] for r in
             spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260213"]
    assert _ids(spark.table(f"{DB}.{table}")) == list(range(1, 11))


def test_mor_refuses_null_keys(spark, table, tmp_path):
    seed(spark, table)
    spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='20260213') "
              f"VALUES (NULL, 'Ghost', 'INACTIVE', "
              f"TIMESTAMP '2026-02-13 09:00:00')")
    mor = _mor(spark, table,
               DeletionCriteria(where_clause="status = 'INACTIVE'"),
               tmp_path)
    with pytest.raises(ValueError, match="NULL"):
        mor.delete()


def test_mor_empty_store_reads_base_table(spark, table, tmp_path):
    seed(spark, table)
    mor = _mor(spark, table, DeletionCriteria(where_clause="id = 5"),
               tmp_path)
    assert mor.pending() == 0
    assert _ids(mor.read()) == list(range(1, 11))
    assert mor.compact().tombstones_applied == 0


def test_mor_empty_candidate_window_deletes_nothing(spark, table, tmp_path):
    """A partition window that excludes every partition must mean 'nothing
    to delete', not 'scan the whole table' (parity with copy-on-write)."""
    from datetime import date
    seed(spark, table)
    cfg = EngineConfig(database=DB, table=table,
                       criteria=DeletionCriteria(
                           where_clause="status = 'INACTIVE'"),
                       backup_enabled=False, validation_enabled=False,
                       partition_start=date(2030, 1, 1))
    mor = MergeOnReadDeleter(spark, cfg, str(tmp_path / "dv"),
                             key_columns=["id"])
    res = mor.delete()
    assert res.keys_written == 0 and res.batch_id is None
    assert mor.pending() == 0
    assert _ids(mor.read()) == list(range(1, 11))


def test_mor_composite_key_including_partition_column(spark, table,
                                                      tmp_path):
    seed(spark, table, partition="20260213")
    seed(spark, table, partition="20260214", ids=range(11, 21))
    cfg = EngineConfig(database=DB, table=table,
                       criteria=DeletionCriteria(where_clause="id = 12"),
                       backup_enabled=False, validation_enabled=False)
    mor = MergeOnReadDeleter(spark, cfg, str(tmp_path / "dv"),
                             key_columns=["id", "partition_id"])
    assert mor.delete().keys_written == 1
    assert _ids(mor.read()) == [i for i in range(1, 21) if i != 12]
    mor.compact()
    assert _ids(spark.table(f"{DB}.{table}")) == \
        [i for i in range(1, 21) if i != 12]


def test_mor_compact_backs_up_when_enabled(spark, table, tmp_path):
    seed(spark, table)
    cfg = EngineConfig(database=DB, table=table,
                       criteria=DeletionCriteria(where_clause="id = 5"),
                       backup_enabled=True, backup_strategy="hive_table",
                       validation_enabled=False)
    mor = MergeOnReadDeleter(spark, cfg, str(tmp_path / "dv"),
                             key_columns=["id"])
    mor.delete()
    mor.compact()
    backups = [t.name for t in spark.catalog.listTables(DB)
               if t.name.startswith(f"{table}_backup_")]
    assert len(backups) == 1
    # backup holds the PRE-compaction state of the affected partition
    assert spark.table(f"{DB}.{backups[0]}").count() == 10
    for b in backups:
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{b}")


def test_mor_compact_spares_concurrent_append(spark, table, tmp_path):
    """Tombstones appended after compaction snapshots the store must
    survive the post-compaction clear and stay pending."""
    seed(spark, table)
    mor = _mor(spark, table, DeletionCriteria(where_clause="id = 5"),
               tmp_path)
    mor.delete()
    snapshot = mor._store_files()
    late = _mor(spark, table, DeletionCriteria(where_clause="id = 7"),
                tmp_path)
    late.delete()  # lands "mid-compaction"

    result = mor.compact(_files=snapshot)
    assert result.tombstones_applied == 1  # only id=5
    # id=5 physically gone; id=7 still pending and still hidden
    assert _ids(spark.table(f"{DB}.{table}")) == [1, 2, 3, 4, 6, 7, 8, 9, 10]
    assert mor.pending() == 1
    assert _ids(mor.read()) == [1, 2, 3, 4, 6, 8, 9, 10]


@pytest.mark.parametrize("where,start,end", [
    ("id = 5", None, None),
    ("status = 'INACTIVE'", None, None),
    (None, "2026-02-13 11:00:00", "2026-02-13 14:00:00"),
    ("id >= 11", None, None),  # empties one whole partition
])
def test_mor_equivalent_to_cow(spark, tmp_path, where, start, end):
    """Strategy equivalence: merge-on-read delete+compact must leave the
    table in exactly the state the copy-on-write executor produces for
    the same criteria — two independent implementations cross-check. A
    third copy runs the copy-on-write job with an unknown-count plan (the
    failed-analysis path, which rewrites every candidate); it must agree
    too, and a registered-but-empty partition survives all three."""
    from datetime import datetime

    from bd_delete_records_from_external_hive_table_spark.job import DeletionJob
    from bd_delete_records_from_external_hive_table_spark.operators.deletion import (
        PartitionPlan,
    )

    crit = DeletionCriteria(
        where_clause=where,
        start_time=datetime.fromisoformat(start) if start else None,
        end_time=datetime.fromisoformat(end) if end else None,
        time_column="row_create_ts")

    names = []
    for strategy in ("cow", "mor", "unknown"):
        name = f"test_eq_{strategy}_{next(_seq)}"
        names.append(name)
        spark.sql(f"""
            CREATE TABLE {DB}.{name} (
              id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
            ) PARTITIONED BY (partition_id STRING) STORED AS ORC
        """)
        seed(spark, name, partition="20260213", hourly=True)
        seed(spark, name, partition="20260214", ids=range(11, 21))
        spark.sql(f"ALTER TABLE {DB}.{name} "
                  f"ADD PARTITION (partition_id='20260215')")
    cow_name, mor_name, unknown_name = names
    try:
        cfg_cow = EngineConfig(database=DB, table=cow_name, criteria=crit,
                               backup_enabled=False,
                               validation_enabled=False)
        assert DeletionJob(spark, cfg_cow).run().success

        cfg_mor = EngineConfig(database=DB, table=mor_name, criteria=crit,
                               backup_enabled=False,
                               validation_enabled=False)
        mor = MergeOnReadDeleter(spark, cfg_mor,
                                 str(tmp_path / f"dv_{mor_name}"),
                                 key_columns=["id"])
        mor.delete()
        mor.compact()

        cfg_unknown = EngineConfig(database=DB, table=unknown_name,
                                   criteria=crit, backup_enabled=False,
                                   validation_enabled=False)
        job = DeletionJob(spark, cfg_unknown)
        job.handler.analyze = lambda: PartitionPlan(
            candidates=job.handler.candidate_partitions(), counts=None)
        assert job.run().success

        rows = [sorted(map(tuple, spark.table(f"{DB}.{n}").collect()))
                for n in names]
        assert rows[0] == rows[1] == rows[2]
        parts = [sorted(r[0] for r in
                        spark.sql(f"SHOW PARTITIONS {DB}.{n}").collect())
                 for n in names]
        assert parts[0] == parts[1] == parts[2]
        assert "partition_id=20260215" in parts[0]
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
