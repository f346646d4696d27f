"""Partition-granularity copy-on-write UPSERT (MERGE) for external Hive
tables — the INSERT/UPDATE sibling of the deletion engine.

The reference implements only DELETE (`/root/reference/.../deletion/
DeletionExecutor.java:215-222`: retention scan + dynamic-partition
overwrite). The same copy-on-write commit generalizes to MERGE semantics
(``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``) over
storage with no row-level mutation: identify the partitions that hold old
versions of the incoming keys, rewrite exactly those partitions with
old-versions-removed ∪ updates, and commit through the deletion engine's
:func:`commit_partitions` (dynamic-partition overwrite — static mode would
wipe untouched partitions).

Scale design (100 TB table, bounded CDC batch):

- The updates batch is assumed executor-memory-bounded (a CDC micro-batch,
  not a second fact table); its key set is **broadcast** into both the
  old-version probe and the anti join — the target table is never
  shuffled.
- The old-version probe is one partition-prunable semi join, not a
  per-partition loop. With ``candidate_partitions`` (e.g. from the
  deletion engine's partition-window pre-pruning) the probe scans only
  those partitions' files.
- A key may *move* partitions (its partition-column value changes in the
  update). Both the old and the new partition are rewritten. When the
  moved key was the old partition's only row, the rewrite leaves that
  partition empty and the commit drops it; dynamic overwrite alone would
  keep its old rows, and with them a second version of the key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..metrics import audit
from ..partitions import in_list_predicate, sort_chronologically
from .deletion import commit_partitions, observed_scan

__all__ = ["merge_frames", "UpsertExecutor", "UpsertResult"]


def merge_frames(target: DataFrame, updates: DataFrame,
                 keys: list[str], *, broadcast_updates: bool = False,
                 ) -> DataFrame:
    """Pure relational MERGE: every ``updates`` row replaces the same-key
    ``target`` row (matched → update), rows with no match are appended
    (not matched → insert)::

        target ⟕̸ updates.keys   (left-anti: drop old versions)
        ∪ all                    updates

    Callers must ensure ``updates`` is unique on ``keys`` (otherwise both
    versions survive — it is a bag union). ``broadcast_updates`` pins the
    anti join's build side for a known-small batch; left unset, AQE
    decides from runtime sizes.
    """
    key_df = updates.select(*keys).distinct()
    if broadcast_updates:
        key_df = F.broadcast(key_df)
    survivors = target.join(key_df, on=keys, how="left_anti")
    return survivors.unionByName(updates.select(*target.columns))


@dataclass
class UpsertResult:
    inserted: int
    updated: int
    partitions_rewritten: list[str] = field(default_factory=list)


class UpsertExecutor:
    """Copy-on-write MERGE into an external partitioned Hive table.

    Mirrors ``DeletionExecutor``'s safety shape: analyze (read-only) →
    single dynamic-partition overwrite of exactly the affected partitions.
    """

    def __init__(self, spark: SparkSession, database: str, table: str,
                 key_columns: list[str],
                 partition_column: str = "partition_id"):
        if not key_columns:
            raise ValueError("key_columns must be non-empty")
        self.spark = spark
        self.database = database
        self.table = table
        self.keys = list(key_columns)
        self.pcol = partition_column

    @property
    def qualified_table(self) -> str:
        return f"{self.database}.{self.table}"

    def execute(self, updates: DataFrame,
                candidate_partitions: list[str] | None = None) -> UpsertResult:
        """Merge ``updates`` (full table schema incl. the partition column)
        into the target.

        ``candidate_partitions`` bounds the old-version probe to those
        partitions — the caller asserts no incoming key exists outside
        them (same contract as the deletion engine's partition-window
        pre-pruning; violating it leaves a stale old version alive in an
        unscanned partition).
        """
        cols = self.spark.table(self.qualified_table).columns
        missing = [c for c in cols if c not in updates.columns]
        if missing:
            raise ValueError(f"updates is missing table columns {missing}")
        updates = updates.select(*cols).cache()
        try:
            return self._execute(updates, candidate_partitions)
        finally:
            updates.unpersist()

    # -- internals ----------------------------------------------------------

    def _execute(self, updates: DataFrame,
                 candidates: list[str] | None) -> UpsertResult:
        n_updates = updates.count()
        if n_updates == 0:
            return UpsertResult(inserted=0, updated=0)

        # one aggregation: key uniqueness + the batch's partition set
        dup = (updates.groupBy(*self.keys)
               .agg(F.count(F.lit(1)).alias("n"))
               .where(F.col("n") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "updates batch is not unique on key columns "
                f"{self.keys}; deduplicate (e.g. last-wins by a version "
                "column) before merging")
        new_parts = {r[0] for r in
                     updates.select(self.pcol).distinct().collect()}

        target = self.spark.table(self.qualified_table)
        if candidates is not None:
            target = target.where(in_list_predicate(self.pcol, candidates))
        key_df = F.broadcast(updates.select(*self.keys).distinct())

        # old-version probe: which partitions hold current versions of the
        # incoming keys, and how many keys match (= updated count)
        probe = (target.join(key_df, on=self.keys, how="left_semi")
                 .groupBy(self.pcol)
                 .agg(F.count(F.lit(1)).alias("n"))
                 .collect())
        old_parts = {r[self.pcol] for r in probe}
        updated = sum(r["n"] for r in probe)
        inserted = n_updates - updated

        affected = sort_chronologically(list(old_parts | new_parts))
        scan, read = observed_scan(self.spark, self.qualified_table,
                                   self.pcol, affected)
        commit = commit_partitions(
            self.spark, self.qualified_table, self.pcol,
            merge_frames(scan, updates, self.keys, broadcast_updates=True),
            read)

        audit("upsert_executed", table=self.qualified_table,
              inserted=inserted, updated=updated,
              partitions=commit.partitions, dropped=commit.dropped)
        return UpsertResult(inserted=inserted, updated=updated,
                            partitions_rewritten=commit.partitions)
