"""Structured Streaming twin vs batch: the same windowing expressions
must produce identical results when run over the events fixture as a
bounded stream (trigger availableNow) and as a plain batch query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.plans import registry
from pandas_rust_algos_spark.streaming import events as se


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    stream = se.read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    agged = se.tumbling_counts(stream)
    streamed = se.run_available_now(agged, table="t_stream_tumbling")

    batch = registry.get("events_tumbling_1h").fn(spark, sf_dir).select(
        "window_start", "event_type", "n_events", "sum_value"
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows


def test_streaming_sessions_match_batch_islands(spark, sf_dir):
    """session_window (streaming stateful sessions) must agree with the
    batch gaps-and-islands sessionization on (user, session) counts."""
    stream = se.read_events_stream(spark, sf_dir)
    streamed = se.run_available_now(
        se.session_counts(stream), table="t_stream_sessions"
    )
    s = sorted(
        (r["user_id"], r["n_events"]) for r in streamed.collect()
    )
    batch = registry.get("events_sessionize").fn(spark, sf_dir)
    b = sorted((r["user_id"], r["n_events"]) for r in batch.collect())
    assert s == b


def test_stateful_profile_matches_batch_aggregate(spark, sf_dir):
    """applyInPandasWithState running profile: after draining the whole
    fixture, the final per-user state must equal the batch aggregate."""
    from pyspark.sql import functions as F

    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming.stateful import running_user_profile

    stream = se.read_events_stream(spark, sf_dir)
    prof = se.run_available_now(
        running_user_profile(stream), table="t_stateful_profile",
        output_mode="update"
    )
    # update mode: keep the latest emission per user
    latest = {
        r["user_id"]: (r["n_events"], r["sum_value_fx"])
        for r in prof.orderBy("n_events").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], r["s_fx"])
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long")).alias("s_fx"),
        ).collect()
    }
    assert latest == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked click→purchase attribution join: drained streaming
    result must equal the same join run in batch (append mode emits a
    pair once its watermark closes; availableNow drains everything)."""
    from pyspark.sql import functions as F

    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming.joins import click_to_purchase

    stream = se.read_events_stream(spark, sf_dir)
    joined = click_to_purchase(stream)
    got = se.run_available_now(joined, table="t_ss_join", output_mode="append")
    s = sorted((r["click_id"], r["purchase_id"]) for r in got.collect())

    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts"))
    b = c.join(p, (F.col("c_user") == F.col("p_user"))
               & (F.col("purchase_ts") >= F.col("click_ts"))
               & (F.col("purchase_ts") <= F.col("click_ts")
                  + F.expr("INTERVAL 1 hour")))
    bpairs = sorted((r["click_id"], r["purchase_id"]) for r in b.collect())
    assert s == bpairs


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """A doubled input (every row appears twice) must come out exactly
    once per event_id; row payloads survive."""
    import os

    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    dup_dir = str(tmp_path / "dup_events")
    ev.unionByName(ev).repartition(2).write.parquet(dup_dir)

    schema = spark.read.parquet(dup_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dup_dir)
    )
    out = se.run_available_now(
        se.dedup_stream(stream, ["event_id"]),
        table="t_stream_dedup", output_mode="append",
    )
    n_distinct = ev.select("event_id").distinct().count()
    got = out.select("event_id").collect()
    assert len(got) == n_distinct
    assert len({r["event_id"] for r in got}) == n_distinct


def test_foreachbatch_sink_idempotent_partitioned(spark, sf_dir, tmp_path):
    """foreachBatch sink: all rows land exactly once in hive partitions;
    re-running the same drained query (fresh checkpoint, same input)
    rewrites batch directories instead of appending duplicates."""
    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming.sinks import write_stream_partitioned

    out_dir = str(tmp_path / "out")
    ev = load_table(spark, sf_dir, "events")

    def drain(ckpt):
        stream = se.read_events_stream(spark, sf_dir)
        q = write_stream_partitioned(
            stream, out_dir, partition_by=["event_type"], checkpoint=ckpt
        )
        assert len(q.recentProgress) <= 1

    drain(str(tmp_path / "ck1"))
    first = spark.read.parquet(out_dir)
    assert first.count() == ev.count()
    assert set(first.select("event_type").distinct().toPandas()["event_type"]) \
        == set(ev.select("event_type").distinct().toPandas()["event_type"])

    # replay: same input through a fresh checkpoint → same batch ids →
    # dynamic overwrite of the same directories, count unchanged
    drain(str(tmp_path / "ck2"))
    again = spark.read.parquet(out_dir)
    assert again.count() == ev.count()


def test_drain_raises_the_sink_failure(spark, sf_dir, tmp_path):
    """A landing waits for its drain: a micro-batch whose foreachBatch
    sink fails raises from the landing call itself, and no query is
    left running."""
    from pyspark.errors import StreamingQueryException

    from pandas_rust_algos_spark.streaming.sinks import write_stream_partitioned

    stream = se.read_events_stream(spark, sf_dir)
    with pytest.raises(StreamingQueryException, match="no_such_col"):
        write_stream_partitioned(
            stream, str(tmp_path / "out"), partition_by=["no_such_col"],
            checkpoint=str(tmp_path / "ck"))
    assert spark.streams.active == []


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static broadcast enrichment: streamed result must equal
    the batch join, with every event preserved (left join) and the
    stream side never shuffled (stateless — no watermark required)."""
    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming.joins import enrich_with_dim

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    stream = se.read_events_stream(spark, sf_dir)
    enriched = enrich_with_dim(
        stream.select("event_id", "user_id", "value"), dim, "user_id")
    streamed = se.run_available_now(enriched, table="t_stream_enrich",
                                    output_mode="append")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    batch = ev.join(dim, "user_id", "left")
    assert sorted(map(tuple, streamed.collect())) \
        == sorted(map(tuple, batch.collect()))
    # left join: nothing dropped
    assert streamed.count() == ev.count()


def test_transform_with_state_matches_classic(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API) must emit
    the same final per-user profile as the classic
    applyInPandasWithState operator and the batch aggregate. Skipped
    where the protobuf runtime dependency is absent; the operator then
    raises a clear ImportError at plan time (also asserted)."""
    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming.stateful import (
        running_user_profile_tws,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        stream = se.read_events_stream(spark, sf_dir)
        with pytest.raises(ImportError, match="protobuf"):
            running_user_profile_tws(stream)
        pytest.skip("protobuf not available: transformWithState gated")

    stream = se.read_events_stream(spark, sf_dir)
    prof = se.run_available_now(
        running_user_profile_tws(stream), table="t_tws_profile",
        output_mode="update",
    )
    latest = {
        r["user_id"]: (r["n_events"], r["sum_value_fx"])
        for r in prof.orderBy("n_events").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["user_id"]: (r["n"], r["s_fx"])
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
            .alias("s_fx"),
        ).collect()
    }
    assert latest == batch


def test_stream_funnel_state_spans_batches(spark, tmp_path):
    """Per-user funnel state must carry across micro-batches: the view
    arrives in file/batch 1, the qualifying click in batch 2."""
    import datetime as dt

    from pandas_rust_algos_spark.streaming import funnel as sf

    def ts(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    f1 = spark.createDataFrame(
        [(1, ts(0), 7, "view", 0.0, "{}"),
         (2, ts(1), 8, "click", 0.0, "{}")],   # click with no prior view
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    f2 = spark.createDataFrame(
        [(3, ts(5), 7, "click", 0.0, "{}"),
         (4, ts(9), 7, "purchase", 0.0, "{}"),
         (5, ts(6), 8, "view", 0.0, "{}")],    # view after the click
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    src = str(tmp_path / "ev")
    f1.coalesce(1).write.parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(f1.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    ckpt = str(tmp_path / "ck")
    q = (sf.funnel_state(stream).writeStream.format("memory")
         .queryName("t_funnel_span").outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table("t_funnel_span")
    from pyspark.sql import functions as F
    latest = {r["user_id"]: r for r in out.groupBy("user_id").agg(
        F.max(F.struct("t1", "t2", "t3")).alias("s")
    ).select("user_id", "s.t1", "s.t2", "s.t3").collect()}
    u7 = latest[7]
    assert u7["t1"] is not None and u7["t2"] is not None \
        and u7["t3"] is not None
    assert u7["t1"] < u7["t2"] < u7["t3"]
    # user 8's click preceded their first view: never advances past t1
    u8 = latest[8]
    assert u8["t1"] is not None and u8["t2"] is None


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Watermark semantics pin (append mode): a straggler arriving
    AFTER its window's state was evicted is dropped — never merged,
    never re-emitted as a duplicate window. Eviction needs the
    watermark to ADVANCE past the window end at a batch boundary and
    then one further batch to apply it, so the timeline is: batch 0
    fills [10:00, 11:00); batch 1's 14:00 event moves the max event
    time; batch 2 runs with watermark 12:00 and evicts+emits the
    window; batch 3's 10:45 straggler hits closed state and is
    counted by numRowsDroppedByWatermark instead of the result."""
    import datetime as dt
    import time

    from pandas_rust_algos_spark.streaming import events as se

    def ev(eid, h, m):
        return (eid, dt.datetime(2024, 1, 1, h, m), 1, "view", 1.0, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = str(tmp_path / "late_ev")
    batches = [
        [ev(1, 10, 0), ev(2, 10, 30)],   # the window under test
        [ev(3, 14, 0)],                  # advances max event time
        [ev(6, 13, 0)],                  # watermark 12:00 applies: evict+emit
        [ev(4, 10, 45), ev(5, 13, 30)],  # straggler + in-horizon row
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        time.sleep(1.1)  # file-source ordering is by modification time

    stream = (spark.readStream.schema(
        spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src))
    ckpt = str(tmp_path / "late_ck")
    q = (se.tumbling_counts(stream).writeStream.format("memory")
         .queryName("t_late_drop").outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    out = {r["window_start"]: r["n_events"]
           for r in spark.table("t_late_drop").collect()}
    # the closed window holds only its pre-eviction rows, emitted once
    assert out == {"2024-01-01 10:00:00": 2}
    # the straggler was dropped BY THE WATERMARK, not lost elsewhere
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress if p["stateOperators"])
    assert dropped == 1


def test_stream_cusum_matches_batch(spark, sf_dir):
    """Drained streaming CUSUM (16 bytes of state per key) must equal
    the batch window-identity operator row-for-row."""
    from pandas_rust_algos_spark.operators.changepoint import cusum
    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.streaming import cusum as sc
    from pandas_rust_algos_spark.streaming import events as se

    kw = dict(target=50.0, slack=5.0, threshold=100.0)
    stream = se.read_events_stream(spark, sf_dir)
    streamed = se.run_available_now(
        sc.cusum_state(stream, **kw),
        table="t_stream_cusum", output_mode="append")
    s = sorted(map(tuple, streamed.collect()))

    ev = load_table(spark, sf_dir, "events")
    batch = cusum(
        ev.select("event_type", "event_id", "value"), "value",
        group_cols=["event_type"], order_cols=["event_id"], **kw,
    ).select("event_type", "event_id", "cusum_micros", "alarm")
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_stream_cusum_state_spans_batches(spark, tmp_path):
    """The (prefix, min_prefix) state must carry across micro-batches:
    splitting a key's rows over two files must give the same statistic
    as one batch."""
    import time

    from pandas_rust_algos_spark.streaming import cusum as sc

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import datetime as dt

    def ev(eid, v):
        return (eid, dt.datetime(2024, 1, 1, 10, 0), 1, "view", v, "{}")

    src = str(tmp_path / "cusum_ev")
    vals = [60.0, 58.0, 40.0, 70.0, 71.0, 69.5]
    spark.createDataFrame([ev(i, v) for i, v in
                           enumerate(vals[:3])], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([ev(i + 3, v) for i, v in
                           enumerate(vals[3:])], schema) \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    ckpt = str(tmp_path / "cusum_ck")
    q = (sc.cusum_state(stream, target=50.0, slack=2.0, threshold=20.0)
         .writeStream.format("memory").queryName("t_cusum_span")
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["event_id"]: r["cusum_micros"]
           for r in spark.table("t_cusum_span").collect()}

    import math
    s, want = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + math.floor(v * 1e6) - int(52.0 * 1e6))
        want[i] = s
    assert got == want


def test_stream_cms_matches_batch_sketch(spark, sf_dir):
    """The windowed streaming CMS must equal the batch sketch built
    per hour over the same rows: the sketch is insertion-order-
    independent, so micro-batch boundaries cannot change any cell."""
    from pandas_rust_algos_spark.operators.frequency import cms_cells
    from pandas_rust_algos_spark.sources import load_table

    stream = se.read_events_stream(spark, sf_dir)
    streamed = se.run_available_now(
        se.cms_windowed(stream), table="t_stream_cms")

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.where(F.col("user_id").isNotNull())
        .select("ts", F.explode(cms_cells("user_id", 256, 4)).alias("c"))
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c.d").alias("d"), F.col("c.slot").alias("slot"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "d", "slot", "cnt")
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0


def test_stream_hist_matches_batch_sketch(spark, sf_dir):
    """The windowed streaming histogram sketch must equal the batch
    sketch built per hour over the same rows: cell counts fold by
    SUM (insertion-order-independent), so micro-batch boundaries
    cannot change any cell — and therefore no quantile estimate."""
    from pandas_rust_algos_spark.operators.histsketch import _bin_expr
    from pandas_rust_algos_spark.sources import load_table

    args = dict(lo=0.0, hi=512.0, bins=64)
    stream = se.read_events_stream(spark, sf_dir)
    streamed = se.run_available_now(
        se.hist_windowed(stream, "value", **args),
        table="t_stream_hist")

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    batch = (
        ev.where(v.isNotNull() & ~F.isnan(v))
        .select("ts", _bin_expr(F.col("value"), 0.0, 512.0, 64)
                .alias("bin"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "bin", "cnt")
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0


def test_stream_hll_matches_batch_registers(spark, sf_dir):
    """The windowed streaming HLL registers must equal the batch
    register build per hour over the same rows: max(rho) is
    order-independent, so micro-batch boundaries cannot change any
    register — and therefore no estimate."""
    from pandas_rust_algos_spark.operators.frequency import hll_bucket_rho
    from pandas_rust_algos_spark.sources import load_table

    stream = se.read_events_stream(spark, sf_dir)
    streamed = se.run_available_now(
        se.hll_windowed(stream), table="t_stream_hll")

    ev = load_table(spark, sf_dir, "events")
    bucket, rho = hll_bucket_rho(F.col("user_id"), 64, "portable")
    batch = (
        ev.where(F.col("user_id").isNotNull())
        .select("ts", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket")
        .agg(F.max("rho").alias("mj"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"), "bucket", "mj")
    )
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows and len(s_rows) > 0


def test_kmv_windowed_store_matches_batch_and_is_idempotent(
        spark, tmp_path):
    """The persisted streaming KMV store after a multi-batch drain
    must EQUAL the batch kmv_sketch over the same rows (min-k merge
    is exact), and re-merging the drained store with itself must be a
    no-op (the at-least-once replay idempotence the sink relies on)."""
    import datetime as dt

    from pandas_rust_algos_spark.operators.kmv import (
        kmv_merge, kmv_sketch,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, t0 + dt.timedelta(minutes=(i * 7) % 180), i % 40)
            for i in range(300)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    src = tmp_path / "slices"
    src.mkdir()
    # two slice files -> two micro-batches under maxFilesPerTrigger=1
    import glob
    import shutil

    for i in range(2):
        part = tmp_path / f"part{i}"
        (ev.where(F.col("event_id") % 2 == i)
         .coalesce(1).write.mode("overwrite").parquet(str(part)))
        [pf] = glob.glob(str(part / "part-*.parquet"))
        shutil.move(pf, str(src / f"slice{i}.parquet"))
    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    store = str(tmp_path / "store")
    q = se.kmv_windowed_store(
        stream, store, checkpoint=str(tmp_path / "ckpt"),
        key="user_id", k=16, hash_mode="portable")
    assert len(q.recentProgress) <= 2

    win = F.date_format(F.date_trunc("hour", F.col("ts")),
                        "yyyy-MM-dd HH:mm:ss")
    batch = kmv_sketch(
        ev.select(win.alias("window_start"), "user_id"),
        "window_start", "user_id", k=16, hash_mode="portable")
    got = sorted((r["window_start"], tuple(r["hs"]))
                 for r in spark.read.parquet(store).collect())
    want = sorted((r["window_start"], tuple(r["hs"]))
                  for r in batch.collect())
    assert got == want and len(got) == 3  # 3 hours of data
    # replay idempotence: store merged with itself == store
    sk = spark.read.parquet(store)
    remerged = sorted((r["window_start"], tuple(r["hs"]))
                      for r in kmv_merge(sk, sk, k=16).collect())
    assert remerged == got


def test_hist2d_windowed_stream_cells_equal_batch(spark, sf_dir):
    """The drained per-window 2-D cells must EQUAL the batch
    hist2d_sketch_weighted over the same rows (cell sums are
    insertion-order-independent), so the streaming corr gate's moment
    finish sees identical state either way."""
    from pandas_rust_algos_spark.operators.histsketch import (
        hist2d_sketch_weighted,
    )

    args = dict(lox=0.0, hix=512.0, binsx=16, loy=0.0, hiy=64.0,
                binsy=16)
    stream = se.read_events_stream(spark, sf_dir).select(
        "ts", F.col("value").alias("x"),
        (F.col("user_id") % 64).cast("double").alias("y"))
    cells = se.run_available_now(
        se.hist2d_windowed(stream, "x", "y", **args),
        table="t_stream_hist2d")

    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("value").alias("x"),
        (F.col("user_id") % 64).cast("double").alias("y"),
        F.lit(1.0).alias("w"))
    batch = hist2d_sketch_weighted(
        ev, "window_start", "x", "y", "w", **args)
    got = sorted(map(tuple, cells.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0
