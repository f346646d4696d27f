"""Seeded delete-side fixture and its independent DuckDB mirror.

The fixture is generated with numpy and written as ORC files by pyarrow
straight into the partition directories of an EXTERNAL Hive table, so no
engine code touches it. The same Arrow table is loaded into an in-memory
DuckDB database; every delete is applied to that mirror too, and the
benchmark compares the engine's results against it.

Row fingerprint: ``md5`` of the row's columns joined with ``|``, first 15
hex digits read as an integer. The table fingerprint is (row count, sum of
row fingerprints): order-insensitive, and computed by the same expression
in Spark SQL and DuckDB.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.orc as orc

DB = "bench"
TABLE = "events"
EVENT_TYPES = np.array(["click", "view", "purchase", "login"])

_ROW_STRING = ("concat_ws('|', CAST(event_id AS STRING), CAST(user_id AS STRING), "
               "event_type, CAST(CAST(round(value * 100) AS BIGINT) AS STRING), "
               "props, partition_id)")
#: Spark SQL: (count, sum of 60-bit row hashes) as exact decimals
SPARK_FINGERPRINT = (
    "count(1) AS n, "
    f"sum(CAST(conv(substr(md5({_ROW_STRING}), 1, 15), 16, 10) AS DECIMAL(38,0))) AS h")
#: DuckDB: the same expression (VARCHAR casts, hex-literal cast)
DUCK_FINGERPRINT = (
    "count(*) AS n, "
    "sum(('0x' || substr(md5(" + _ROW_STRING.replace("STRING", "VARCHAR")
    + "), 1, 15))::BIGINT)::HUGEINT AS h")


@dataclass(frozen=True)
class Size:
    partitions: int
    rows_per_partition: int


SIZES = {
    # 30 daily partitions, ~70 B/row: the shape of the reference fixture,
    # scaled so a run's set-up and cycles fit the benchmark's time budget
    "full": Size(30, 5_000),
    "tiny": Size(30, 400),
}


def partition_ids(n: int) -> list[str]:
    return [f"202601{d:02d}" for d in range(1, n + 1)]


def generate(seed: int, size: Size) -> pa.Table:
    """The whole fixture as one Arrow table (with ``partition_id``)."""
    rng = np.random.default_rng(seed)
    n = size.partitions * size.rows_per_partition
    parts = np.repeat(np.array(partition_ids(size.partitions)),
                      size.rows_per_partition)
    # GDPR-style keys: ~20 rows per user spread over the month, so a
    # user's rows inside one daily partition are ~0.01% of it
    users = rng.integers(0, max(1, n // 20), n, dtype=np.int64)
    payload = rng.integers(0, 2**62, (n, 2), dtype=np.int64)
    props = np.char.add(np.char.add("k=", payload[:, 0].astype(str)),
                        np.char.add(";v=", payload[:, 1].astype(str)))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": users,
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        # whole cents, so round(value * 100) is exact in both engines
        "value": rng.integers(0, 100_000, n).astype(np.float64) / 100.0,
        "props": props,
        "partition_id": parts,
    })


class Fixture:
    """The external Hive table plus its DuckDB mirror."""

    def __init__(self, spark, root: str, seed: int, size: Size):
        self.spark = spark
        self.location = os.path.join(root, "external", TABLE)
        self.seed = seed
        self.size = size
        self.partitions = partition_ids(size.partitions)
        self.mirror = duckdb.connect()
        #: generated once; every build writes the same rows
        self.data = generate(seed, size)

    @property
    def qualified(self) -> str:
        return f"{DB}.{TABLE}"

    def build(self) -> None:
        """(Re)create table and mirror from the seed. Idempotent, so the
        set-up can be repeated and its median reported."""
        data = self.data
        self.spark.sql(f"DROP TABLE IF EXISTS {self.qualified}")
        shutil.rmtree(self.location, ignore_errors=True)
        body = data.drop_columns(["partition_id"])
        step = self.size.rows_per_partition
        for i, pid in enumerate(self.partitions):
            d = os.path.join(self.location, f"partition_id={pid}")
            os.makedirs(d)
            orc.write_table(body.slice(i * step, step),
                            os.path.join(d, "part-00000.orc"))
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
        self.spark.sql(
            f"CREATE EXTERNAL TABLE {self.qualified} (event_id BIGINT, "
            "user_id BIGINT, event_type STRING, value DOUBLE, props STRING) "
            "PARTITIONED BY (partition_id STRING) STORED AS ORC "
            f"LOCATION '{self.location}'")
        specs = " ".join(f"PARTITION (partition_id='{p}')"
                         for p in self.partitions)
        self.spark.sql(f"ALTER TABLE {self.qualified} ADD {specs}")
        self.mirror.execute("DROP TABLE IF EXISTS events")
        self.mirror.register("_fixture", data)
        self.mirror.execute("CREATE TABLE events AS SELECT * FROM _fixture")
        self.mirror.unregister("_fixture")

    # -- mirror queries --------------------------------------------------

    def mirror_scalar(self, sql: str, params=None):
        return self.mirror.execute(sql, params or []).fetchone()[0]

    def mirror_fingerprint(self, where: str = "TRUE") -> tuple[int, int]:
        n, h = self.mirror.execute(
            f"SELECT {DUCK_FINGERPRINT} FROM events WHERE {where}").fetchone()
        return int(n), int(h or 0)

    def spark_fingerprint(self, table: str, where: str = "TRUE") -> tuple[int, int]:
        row = self.spark.sql(
            f"SELECT {SPARK_FINGERPRINT} FROM {table} WHERE {where}").first()
        return int(row["n"]), int(row["h"] or 0)

    def live_users(self, pid: str, k: int, rng: np.random.Generator) -> list[int]:
        """``k`` distinct users with live rows in partition ``pid``."""
        users = [r[0] for r in self.mirror.execute(
            "SELECT DISTINCT user_id FROM events WHERE partition_id = ? "
            "ORDER BY user_id", [pid]).fetchall()]
        pick = rng.choice(len(users), size=min(k, len(users)), replace=False)
        return sorted(users[i] for i in pick)

    def close(self) -> None:
        self.mirror.close()


def in_list(values) -> str:
    return ",".join(str(int(v)) for v in values)


def partition_list(pids) -> str:
    return ",".join(f"'{p}'" for p in pids)
