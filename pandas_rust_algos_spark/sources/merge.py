"""Partition-pruned upsert merge into hive-partitioned parquet —
Delta-style ``MERGE INTO`` semantics without a transaction log.

The reference has no I/O (SURVEY §2.3); this is driver-brief extension
surface: a 100 TB training-data pipeline continuously folds small
update/correction batches into a huge partitioned table. Rewriting the
table per batch is O(table); a transactional format (Delta/Iceberg)
does file-level merge-on-read, but plain parquet can still get
O(touched partitions) with the standard recipe implemented here:

1. collect the *partition values* present in the update batch (bounded
   by partition-count, never by data size — this is metadata, not data);
2. read ONLY those partitions of the target (``isin`` predicate →
   directory-level partition pruning in the scan);
3. anti-join the surviving target rows against the update keys (update
   batches are small → broadcast anti-join, no shuffle of the target);
4. union the updates (minus tombstoned deletes) and rewrite just the
   touched directories via dynamic partition overwrite.

Constraint (documented, asserted nowhere cheaper than the caller): a
key's partition value must be stable across updates — moving a row
between partitions needs a delete tombstone in the old partition plus
an insert in the new one, exactly as in Hive-style merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

__all__ = ["merge_into_partitioned", "write_stream_upsert"]


def merge_into_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    *,
    delete_col: str | None = None,
) -> None:
    """Upsert ``updates`` into the parquet table at ``target_path``
    (hive-partitioned by ``partition_col``): last-writer-wins per key,
    optional boolean ``delete_col`` tombstones. Reads and rewrites only
    the partitions present in the batch. Idempotent — replaying the
    same batch reproduces the same table (the foreachBatch contract).
    """
    from pandas_rust_algos_spark.streaming.sinks import overwrite_partitions

    upserts = updates
    if delete_col is not None:
        upserts = updates.where(~F.coalesce(F.col(delete_col), F.lit(False))) \
            .drop(delete_col)
        updates = updates.drop(delete_col)

    try:
        target = spark.read.parquet(target_path)
    except AnalysisException:  # first batch bootstraps the table
        overwrite_partitions(upserts.repartition(partition_col),
                             target_path, [partition_col])
        return

    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    existing = target.where(F.col(partition_col).isin(touched))
    kept = existing.join(
        F.broadcast(updates.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    merged = kept.select(*upserts.columns).unionByName(upserts)
    overwrite_partitions(merged.repartition(partition_col), target_path,
                         [partition_col])


def write_stream_upsert(
    stream: DataFrame,
    path: str,
    *,
    key_cols: list[str],
    partition_col: str,
    checkpoint: str,
    delete_col: str | None = None,
):
    """Streaming upsert sink: every micro-batch merges into the
    partitioned parquet target. foreachBatch is at-least-once;
    ``merge_into_partitioned`` is idempotent per batch, so the sink is
    effectively-once without a transaction log. Returns the query,
    drained."""
    from pandas_rust_algos_spark.streaming.sinks import drain

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_partitioned(
            batch_df.sparkSession, path, batch_df, key_cols, partition_col,
            delete_col=delete_col,
        )

    return drain(stream.writeStream.foreachBatch(sink), checkpoint)
