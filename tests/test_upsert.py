"""Copy-on-write UPSERT (MERGE) into an external partitioned Hive table.

Covers the MERGE semantics the deletion engine's machinery generalizes
to: in-place update, insert into a new partition, a key *moving*
partitions (old version removed, exactly one survivor, an emptied old
partition dropped), untouched partitions preserved, batch-key-uniqueness
guard, and candidate-partition pruning.
"""

from __future__ import annotations

import itertools

import pytest

from bd_delete_records_from_external_hive_table_spark.operators.upsert import (
    UpsertExecutor,
    merge_frames,
)

DB = "test_db"
_seq = itertools.count()

SCHEMA = ("id BIGINT, name STRING, status STRING, "
          "row_create_ts TIMESTAMP, partition_id STRING")


@pytest.fixture(scope="module", autouse=True)
def _db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    yield


@pytest.fixture
def table(spark):
    name = f"test_upsert_table_{next(_seq)}"
    spark.sql(f"""
        CREATE TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")


def seed(spark, table: str, partition: str, ids) -> None:
    day = f"{partition[0:4]}-{partition[4:6]}-{partition[6:8]}"
    rows = ", ".join(
        f"({i}, 'User{i}', 'ACTIVE', TIMESTAMP '{day} 09:00:00')"
        for i in ids)
    spark.sql(f"INSERT INTO {DB}.{table} "
              f"PARTITION (partition_id='{partition}') VALUES {rows}")


def updates_df(spark, rows):
    """rows: (id, name, status, ts_str, partition_id)."""
    return spark.createDataFrame(
        [(i, n, s, t, p) for i, n, s, t, p in rows],
        "id BIGINT, name STRING, status STRING, row_create_ts STRING, "
        "partition_id STRING",
    ).selectExpr("id", "name", "status",
                 "CAST(row_create_ts AS TIMESTAMP) AS row_create_ts",
                 "partition_id")


def snapshot(spark, table):
    return {r.id: (r.name, r.status, r.partition_id)
            for r in spark.table(f"{DB}.{table}").collect()}


def test_update_insert_and_key_move(spark, table):
    seed(spark, table, "20260213", range(1, 11))
    seed(spark, table, "20260214", range(11, 21))

    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    res = ex.execute(updates_df(spark, [
        (5, "User5-v2", "ACTIVE", "2026-02-13 09:00:00", "20260213"),
        (12, "User12", "MOVED", "2026-02-15 09:00:00", "20260215"),
        (100, "User100", "NEW", "2026-02-15 09:00:00", "20260215"),
    ]))

    assert res.updated == 2 and res.inserted == 1
    assert res.partitions_rewritten == ["20260213", "20260214", "20260215"]

    snap = snapshot(spark, table)
    assert len(snap) == 21                       # 20 seeded + 1 insert
    assert snap[5] == ("User5-v2", "ACTIVE", "20260213")
    assert snap[12] == ("User12", "MOVED", "20260215")  # exactly one version
    assert snap[100] == ("User100", "NEW", "20260215")
    assert snap[1] == ("User1", "ACTIVE", "20260213")   # untouched row



def test_key_moving_out_of_single_row_partition_drops_it(spark, table):
    """A key that was its partition's only row moves elsewhere: the
    rewrite leaves the old partition empty, which a dynamic overwrite
    alone would keep with its old row — the commit must drop it so
    exactly one version of the key survives."""
    seed(spark, table, "20260213", [1])
    seed(spark, table, "20260214", range(11, 14))

    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    res = ex.execute(updates_df(spark, [
        (1, "User1-moved", "MOVED", "2026-02-14 09:00:00", "20260214")]))

    assert res.updated == 1 and res.inserted == 0
    versions = spark.table(f"{DB}.{table}").where("id = 1").collect()
    assert [(r.name, r.partition_id) for r in versions] == \
        [("User1-moved", "20260214")]
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260214"]

def test_untouched_partition_not_rewritten(spark, table):
    seed(spark, table, "20260213", range(1, 11))
    seed(spark, table, "20260214", range(11, 21))

    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    res = ex.execute(updates_df(spark, [
        (15, "User15-v2", "ACTIVE", "2026-02-14 09:00:00", "20260214"),
    ]))
    assert res.updated == 1 and res.inserted == 0
    assert res.partitions_rewritten == ["20260214"]
    assert snapshot(spark, table)[15][0] == "User15-v2"


def test_candidate_partitions_bound_probe_and_rewrite(spark, table):
    seed(spark, table, "20260213", range(1, 11))
    seed(spark, table, "20260214", range(11, 21))

    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    res = ex.execute(
        updates_df(spark, [
            (15, "User15-v3", "ACTIVE", "2026-02-14 09:00:00", "20260214")]),
        candidate_partitions=["20260214"])
    assert res.partitions_rewritten == ["20260214"]
    assert len(snapshot(spark, table)) == 20


def test_duplicate_keys_rejected_before_any_write(spark, table):
    seed(spark, table, "20260213", range(1, 4))
    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    dupes = updates_df(spark, [
        (1, "a", "ACTIVE", "2026-02-13 09:00:00", "20260213"),
        (1, "b", "ACTIVE", "2026-02-13 09:00:00", "20260213"),
    ])
    with pytest.raises(ValueError, match="not unique"):
        ex.execute(dupes)
    assert snapshot(spark, table)[1] == ("User1", "ACTIVE", "20260213")


def test_empty_updates_is_noop(spark, table):
    seed(spark, table, "20260213", range(1, 4))
    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    res = ex.execute(updates_df(spark, []).limit(0))
    assert res.updated == 0 and res.inserted == 0
    assert res.partitions_rewritten == []
    assert len(snapshot(spark, table)) == 3


def test_missing_column_rejected(spark, table):
    ex = UpsertExecutor(spark, DB, table, key_columns=["id"])
    with pytest.raises(ValueError, match="missing table columns"):
        ex.execute(spark.createDataFrame([(1,)], "id BIGINT"))


def test_merge_frames_pure_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING")
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k BIGINT, v STRING")
    merged = {(r.k, r.v) for r in
              merge_frames(target, updates, ["k"]).collect()}
    assert merged == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}
