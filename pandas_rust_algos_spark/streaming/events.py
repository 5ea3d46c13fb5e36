"""Structured Streaming ops over the events table.

The reference has no streaming surface (SURVEY §2.3); this module is
the driver-brief extension: the same windowing expressions as the batch
queries in ``plans/queries_events.py``, lifted to ``readStream`` with
watermarked state. A pipeline can therefore backfill in batch and tail
in streaming with one definition of the aggregation logic.

Scale notes: watermark bounds state (late rows beyond 2h are dropped);
parquet source is used here because it's what the fixtures provide —
swap for Kafka/files in production, the transformations don't change.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import cells


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream (:func:`read_table_stream`).

    Same TIMESTAMP(NANOS) handling as the batch loader
    (``sources.parquet.load_table``): nanos read as long, rebuilt as a
    truncated microsecond timestamp, so stream and batch agree."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    stream = read_table_stream(spark, sf_dir, "events")
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # watermarks require TIMESTAMP; UTC session makes the cast exact
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(stream: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1h counts per event_type — the streaming
    twin of the batch query `events_tumbling_1h`."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
             .cast("double") / F.lit(1e6)).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def cms_windowed(
    stream: DataFrame,
    key: str = "user_id",
    *,
    width: int = 256,
    depth: int = 4,
    window: str = "1 hour",
    watermark: str = "2 hours",
    hash_mode: str = "portable",
) -> DataFrame:
    """Per-window count-min sketch over a stream: ``(window_start, d,
    slot, cnt)`` — the streaming form of
    ``operators/frequency.cms_sketch``. State per window is bounded by
    depth×width cells no matter how many distinct keys arrive (the
    whole point of sketching a stream), the watermark evicts closed
    windows, and because the sketch is insertion-order-independent the
    drained stream result must EQUAL the batch sketch over the same
    rows — which is what the gate's oracle checks."""
    from pandas_rust_algos_spark.operators.frequency import _cms_sketch

    return cells.windowed(
        stream, _cms_sketch(key, width, depth, hash_mode),
        window=window, watermark=watermark)


def hll_windowed(
    stream: DataFrame,
    key: str = "user_id",
    *,
    m: int = 64,
    window: str = "1 hour",
    watermark: str = "2 hours",
    hash_mode: str = "portable",
) -> DataFrame:
    """Per-window HyperLogLog registers over a stream:
    ``(window_start, bucket, mj)`` — the streaming form of
    ``operators/frequency.hll_registers``, for live distinct counts
    (users/hour, keys/day) on an unbounded stream. State per window
    is ≤ m register rows no matter how many distinct keys arrive
    (``max(rho)`` folds incrementally — max is what makes the sketch
    a valid streaming aggregate), the watermark evicts closed
    windows, and because registers are insertion-order-independent
    the drained result must EQUAL the batch register build over the
    same rows — the gate feeds them through ``hll_estimate`` and
    checks the per-window estimates against a full DuckDB replay."""
    from pandas_rust_algos_spark.operators.frequency import _hll_sketch

    return cells.windowed(stream, _hll_sketch(key, m, hash_mode),
                          window=window, watermark=watermark)


def hist_windowed(
    stream: DataFrame,
    col: str = "value",
    *,
    lo: float,
    hi: float,
    bins: int = 64,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window equi-width histogram sketch over a stream:
    ``(window_start, bin, cnt)`` — the streaming form of
    ``operators/histsketch.hist_sketch``, completing the streaming
    sketch family (CMS frequencies, HLL cardinality, histogram
    DISTRIBUTION — live latency/value percentiles per hour). State
    per window is ≤ ``bins`` cell rows no matter how many events
    arrive (counting per cell folds incrementally — SUM is what makes
    the sketch a valid streaming aggregate), the watermark evicts
    closed windows, and because cell counts are insertion-order-
    independent the drained result must EQUAL the batch sketch over
    the same rows — the gate runs the drained cells through the batch
    quantile walk and checks per-window estimates against a full
    DuckDB replay. Same NULL/NaN drop as the batch sketch (the
    engines disagree on floor(NaN))."""
    from pandas_rust_algos_spark.operators.histsketch import _hist_sketch

    return cells.windowed(
        stream, _hist_sketch([("bin", col, lo, hi, bins)]),
        window=window, watermark=watermark)


def session_counts(
    stream: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked session windows (30-min inactivity gap) per user —
    the streaming twin of the batch gaps-and-islands `events_sessionize`.

    ``F.session_window`` is Spark's native stateful session operator:
    state per (user, open session), closed and emitted when the
    watermark passes gap past the last event — bounded state, no custom
    ``applyInPandasWithState`` needed for count/sum aggregates (reach
    for that API only when per-session logic exceeds SQL aggregates).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` were already
    seen within the watermark horizon (at-least-once sources — Kafka
    replays, file re-lists — made effectively-once).

    ``dropDuplicatesWithinWatermark`` is the bounded-state form: a
    key's fingerprint is held only until the watermark passes its event
    time, unlike ``dropDuplicates`` on a stream which keeps every key
    forever. The watermark is therefore the dedup window AND the state
    bound — size it to the source's maximum replay lag."""
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def run_available_now(
    agged: DataFrame,
    *,
    table: str = "stream_out",
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input through the streaming query into an
    in-memory sink and return the result as a DataFrame (test/backfill
    harness; trigger(availableNow) processes everything then stops).
    ``output_mode='update'`` for stateful operators
    (applyInPandasWithState rejects complete); the memory sink then
    accumulates one row per emission — callers keep the latest per key.

    ``state_partitions`` sizes the stateful operator's shard count:
    Spark pins the state partitioning from ``spark.sql.shuffle
    .partitions`` at the FIRST batch of a checkpoint, and every shard
    then pays a per-batch state-store commit (delta file + CRC on the
    checkpoint FS) regardless of how little state it holds. Profiling
    the stream-stream join gate at sf0.1 (200k-row microbatch, 40k
    state rows): 32 shards → ~8s/drain, 8 shards → ~2s — the commit
    fan-out, not the join, was the cost. Size shards to event rate ×
    watermark horizon (state volume), NOT to the session's batch
    shuffle width; the session conf is restored after the query starts
    since the first batch has already pinned it."""
    spark = agged.sparkSession
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                agged.writeStream.format("memory")
                .queryName(table)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(table)


def read_table_stream(spark: SparkSession, sf_dir: str,
                      table: str) -> DataFrame:
    """Any fixture table as an unbounded file stream: schema from the
    batch file, ``maxFilesPerTrigger`` keeps micro-batches bounded.
    FileStreamSource requires a *directory* to monitor and the fixture
    is a single read-only file, so it is exposed through a symlink dir
    (production reads a landing directory or a Kafka topic). No
    timestamp rebuild; ``read_events_stream`` adds the events one."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    stream_dir = tempfile.mkdtemp(prefix=f"{table}_stream_")
    link = os.path.join(stream_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


def kmv_windowed_store(
    stream: DataFrame,
    store_path: str,
    *,
    checkpoint: str,
    key: str = "user_id",
    k: int = 64,
    trunc: str = "hour",
    hash_mode: str = "portable",
    available_now: bool = True,
):
    """Maintain a PERSISTED per-window KMV sketch store over a stream
    — the set-algebra member of the streaming sketch family (CMS
    frequency, HLL cardinality, histogram distribution; r11 VERDICT
    next-#4). KMV's bottom-k fold has no bounded built-in streaming
    aggregate (a ``collect_set`` state would grow with distinct
    keys), so the maintenance runs through the persisted-store
    recipe (``minhash_store``/``ann_index`` pattern): each
    micro-batch sketches ITS OWN rows per window (one batch-local
    distinct + rank pass), merges with the stored sketches via
    ``kmv_merge`` — exact by the min-k union property — and rewrites
    the store, whose total size is ≤ k BIGINTs per window no matter
    how many events arrived. Because a KMV sketch merged with itself
    is itself (union → distinct → min-k), an at-least-once replay of
    a micro-batch is IDEMPOTENT with no partition-overwrite
    bookkeeping needed.

    The prior state is re-read eagerly per batch (a KiB driver
    collect rebuilt through ``session.local_df`` — the documented
    tiny-table path), so the overwrite never reads the path it
    writes. Drained-store state ≡ the batch ``kmv_sketch`` over the
    same rows, which is what the gate's DuckDB oracle replays — and
    the store answers "overlap between this hour's and last hour's
    keys" LIVE through ``kmv_set_ops`` on KiB of state. Window
    eviction (retention) is a caller-side DELETE by window age; late
    rows simply merge into their window, exactly."""
    from pandas_rust_algos_spark.operators.kmv import (
        kmv_merge,
        kmv_sketch,
    )
    from pandas_rust_algos_spark.session import local_df

    win = F.date_format(F.date_trunc(trunc, F.col("ts")),
                        "yyyy-MM-dd HH:mm:ss")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        mini = kmv_sketch(
            batch_df.select(win.alias("window_start"), F.col(key)),
            "window_start", key, k=k, hash_mode=hash_mode)
        sketches = [mini]
        if os.path.isdir(store_path):
            rows = [(r["window_start"], list(r["hs"]))
                    for r in spark.read.parquet(store_path).collect()]
            if rows:
                sketches.append(local_df(
                    spark, rows, "window_start string, hs array<bigint>"))
        merged = kmv_merge(*sketches, k=k)
        merged.coalesce(1).write.mode("overwrite").parquet(store_path)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hist2d_windowed(
    stream: DataFrame,
    x: str,
    y: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 32,
    binsy: int = 32,
    weight: str | None = None,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window 2-D weighted histogram sketch over a stream:
    ``(window_start, binx, biny, wcnt)`` — the streaming form of
    ``operators/histsketch.hist2d_sketch_weighted``, giving the
    streaming sketch family its CORRELATION member (CMS frequencies,
    HLL cardinality, histogram distribution, KMV set algebra, and now
    live bivariate moments): feed the drained cells to
    ``hist2d_weighted_corr_cov`` for per-window corr/cov with
    grid-bounded error. State per window is ≤ binsx·binsy cell rows
    no matter how many events arrive (micro-unit weight SUM per cell
    folds incrementally — SUM is what makes the sketch a valid
    streaming aggregate), the watermark evicts closed windows, and
    because cell sums are insertion-order-independent the drained
    result must EQUAL the batch 2-D sketch over the same rows — the
    gate runs the drained cells through the batch moment finish and
    checks per-window corr/cov against a full DuckDB replay.
    ``weight=None`` sketches unweighted (w = 1.0 — plain corr as the
    constant-weight special case). NULL/NaN on x, y, or the weight
    drops the row (the batch op's rule)."""
    from pandas_rust_algos_spark.operators.histsketch import _hist_sketch

    return cells.windowed(stream, _hist_sketch(
        [("binx", x, lox, hix, binsx), ("biny", y, loy, hiy, binsy)],
        F.lit(1.0) if weight is None else F.col(weight)),
        window=window, watermark=watermark)
