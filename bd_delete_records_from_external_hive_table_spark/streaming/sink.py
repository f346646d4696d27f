"""Streaming sink into a partitioned table via foreachBatch + dynamic
partition overwrite.

The pattern the deletion engine's storage layout implies: events stream
in, land in date partitions, and REPLAYED micro-batches must not
duplicate rows. ``foreachBatch`` gives each micro-batch as a regular
DataFrame; committing it with the deletion engine's dynamic-partition
overwrite (:func:`..operators.deletion.commit_partitions`) replaces
exactly the partitions present in the batch — so re-processing a batch
after a failure converges to the same state (idempotent per partition)
instead of appending duplicates. The checkpoint makes Spark replay
at-least-once; partition-overwrite turns that into effectively-once per
partition.

Caveat (documented, inherent to the pattern): a partition is rewritten
with the rows of the CURRENT batch, so this sink fits
partition-complete batches — e.g. late-arriving data grouped by its
partition, CDC snapshots per day, or compaction jobs — not continuous
drip into one open partition. For the drip shape, use the watermarked
append sinks in windows.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.deletion import commit_partitions

__all__ = ["write_stream_to_partitioned_table", "write_cdc_stream_to_table"]


def write_stream_to_partitioned_table(stream_df: DataFrame, table: str,
                                      partition_col: str,
                                      partition_expr,
                                      checkpoint: str,
                                      trigger_available_now: bool = True):
    """Start a stream that lands each micro-batch into ``table``'s
    partitions idempotently. ``partition_expr`` is a Column producing the
    partition value (e.g. ``F.date_format("ts", "yyyyMMdd")``).

    Returns the started StreamingQuery.
    """
    # the caller's session — foreachBatch runs in a CLONE, so cache
    # invalidation must target this one for the caller's readers
    caller_session = stream_df.sparkSession

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_partitions(batch_df.sparkSession, table, partition_col,
                          batch_df.withColumn(partition_col, partition_expr))
        # overwrite replaced files under existing partitions: invalidate
        # the CALLER's cached file listing (refreshing the clone's catalog
        # would not help the caller's readers)
        caller_session.catalog.refreshTable(table)

    writer = (stream_df.writeStream
              .foreachBatch(upsert_batch)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_cdc_stream_to_table(stream_df: DataFrame, database: str,
                              table: str, key_columns: list[str],
                              order_col: str, checkpoint: str,
                              partition_column: str = "partition_id",
                              trigger_available_now: bool = True):
    """CDC stream → copy-on-write MERGE per micro-batch.

    Each micro-batch is first collapsed last-wins per key on ``order_col``
    (a batch may contain several versions of one key — the UpsertExecutor
    requires key-unique input), then merged via the partition-rewrite
    upsert. Replaying a batch re-merges the same rows into the same
    partitions — convergent, so the checkpoint's at-least-once replay is
    effectively-once at the table level.

    Returns the started StreamingQuery.
    """
    from ..operators.upsert import UpsertExecutor

    caller_session = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = (Window.partitionBy(*key_columns)
             .orderBy(F.col(order_col).desc()))
        latest = (batch_df.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1).drop("_rn"))
        # bind the executor to the foreachBatch clone session — mixing the
        # caller session's catalog reads with the clone's DataFrame in one
        # plan is not supported
        ex = UpsertExecutor(batch_df.sparkSession, database, table,
                            key_columns, partition_column)
        ex.execute(latest)
        caller_session.catalog.refreshTable(f"{database}.{table}")

    writer = (stream_df.writeStream
              .foreachBatch(merge_batch)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
