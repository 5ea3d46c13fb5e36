"""How every availableNow landing in the engine starts, waits and writes.

- :func:`drain` runs a configured ``writeStream`` over all available
  input (the availableNow trigger) and waits for it, so a sink
  failure raises from the landing call and the returned query is
  finished. Every landing (the memory-sink harness
  ``events.run_available_now`` and the seven ``foreachBatch`` landings
  in ``streaming``, ``operators`` and ``sources``) starts through it.
- :func:`overwrite_partitions` is the one dynamic partition overwrite:
  it rewrites only the partition directories the frame holds rows for.
- :func:`write_stream_partitioned` lands a stream as hive-partitioned
  parquet.

``writeStream.format("parquet")`` appends blindly; production pipelines
need per-batch control — dynamic partition overwrite, dedup, merge.
``foreachBatch`` hands each micro-batch to ordinary batch code with its
``batch_id``; Spark guarantees at-least-once invocation, so the sink
must be *idempotent on batch_id* to get effectively-once output. Here
that's done by routing every batch's rows into ``batch_id=<id>``
partition directories and overwriting just those (dynamic partition
overwrite): a replayed batch rewrites its own directories byte-for-byte
instead of duplicating rows — the standard recipe when a transactional
table format (Delta/Iceberg) isn't available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

__all__ = ["drain", "overwrite_partitions", "write_stream_partitioned"]


def drain(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Start ``writer`` over all available input with ``checkpoint`` and
    wait for it to stop. A failed batch raises here (as
    ``StreamingQueryException``); otherwise the finished query is
    returned, with its ``recentProgress``."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """Write ``df`` as parquet under ``path``, partitioned by
    ``partition_by``, replacing only the partitions it has rows for."""
    # per-writer option, NOT a session-global conf toggle — a
    # set/restore on the shared session could flip a concurrent
    # static-mode overwrite to dynamic mid-write (ADVICE r11)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_stream_partitioned(
    stream: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    checkpoint: str,
) -> StreamingQuery:
    """Drain ``stream`` into hive-partitioned parquet with batch-replay
    idempotence; returns the finished query."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .repartition(*partition_by),
            path, ["batch_id", *partition_by])

    return drain(stream.writeStream.foreachBatch(sink), checkpoint)
