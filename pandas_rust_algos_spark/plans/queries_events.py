"""Time-window gate queries over the events table (batch form).

The reference has no streaming surface (SURVEY §2.3); these are the
batch-semantics twins of the Structured Streaming ops in
``streaming/events.py`` — same windowing expressions, so a pipeline
can run identical logic in batch backfill and streaming modes.

Window starts are emitted as formatted strings so the hash compare is
independent of engine timestamp internals; sums use fixed-point
micro-units (rule 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandas_rust_algos_spark.plans.registry import dsum, register
from pandas_rust_algos_spark.session import tune
from pandas_rust_algos_spark.sources import file_schema, load_table

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "events_tumbling_1h",
    oracle=f"""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — ``F.window`` exactly as the
    streaming twin uses it (streaming/events.py), run in batch."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
             .cast("double") / F.lit(1e6)).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type", "n_events", "n_users", "sum_value",
        )
    )


@register(
    "events_sliding_2h_1h",
    oracle=f"""
    WITH s AS (
      SELECT STRFTIME(DATE_TRUNC('hour', ts) - INTERVAL (o) HOUR,
                      '{_FMT_DUCK}') AS window_start,
             value
      FROM events CROSS JOIN (VALUES (0), (1)) t(o)
    )
    SELECT window_start, COUNT(*) AS n_events, {dsum('value')} AS sum_value
    FROM s GROUP BY 1
    """,
)
def events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h length, 1h slide): each event lands in
    exactly two windows; ``F.window`` enumerates them without a
    self-join."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
             .cast("double") / F.lit(1e6)).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events", "sum_value",
        )
    )


@register(
    "events_stream_tumbling",
    oracle=f"""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of ``events_tumbling_1h``, ORACLE-
    checked end-to-end: readStream → watermarked tumbling window →
    availableNow drain into a memory sink (complete mode, so every
    window is emitted) must equal the batch hourly aggregation over
    the same table — fixed-point value sums on both engines. Equality
    with the batch Spark query is additionally asserted in
    tests/test_streaming.py."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.tumbling_counts(stream), table="events_stream_tumbling_out",
    )


@register(
    "events_sessionize",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events
    ), g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM e
    ), s AS (
      SELECT user_id, value,
             -- registry rule 1 applies to WINDOW sums too: DuckDB returns
             -- HUGEINT for SUM(INTEGER) which hashes as float64, not int64
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via the gaps-and-islands
    window pattern — one shuffle+sort per user, the batch twin of
    streaming session windows."""
    tune(spark)
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    # microsecond-exact gap compare (cast-to-seconds would truncate and
    # diverge from the oracle's INTERVAL comparison on sub-second gaps);
    # cast("timestamp") first: parquet may scan ts as TIMESTAMP_NTZ, which
    # unix_micros rejects — with the session pinned to UTC the cast is exact
    is_new = F.when(
        prev.isNull()
        | (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_stream_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), g AS (
      SELECT user_id, ts,
             -- Spark session_window extends [ts, ts+gap): an event at
             -- EXACTLY last+gap does not overlap, so the boundary is
             -- diff >= gap (the batch events_sessionize gate pins the
             -- pandas-ish '>' convention instead; both are correct,
             -- each vs its own engine's contract)
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sess
      FROM g
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '{_FMT_DUCK}') AS session_start,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming native session windows (30-min gap) drained
    with availableNow — the streaming twin of the batch gaps-and-islands
    `events_sessionize`, now ORACLE-checked: the DuckDB twin rebuilds
    the same sessions with a gaps-and-islands window using Spark's
    half-open ``diff >= gap`` boundary rule, and (session_start,
    n_events) per user must hash-match. Per-(user, session) equality
    with the batch Spark query is additionally asserted in
    tests/test_streaming.py."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.session_counts(stream), table="events_stream_sessions_out",
    )


@register(
    "events_stream_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join, oracle-checked row-for-row: the
    events stream left-joined to the broadcast customer dimension
    (``streaming/joins.enrich_with_dim`` — stateless, dim re-evaluated
    per micro-batch, streaming side never shuffles) and drained with
    availableNow must equal the batch left join. Unmatched users keep
    NULL segment — the left-outer contract through the streaming
    path."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se
    from pandas_rust_algos_spark.streaming.joins import enrich_with_dim

    stream = se.read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = enrich_with_dim(stream, dim, "user_id").select(
        "event_id", "user_id", "c_mktsegment")
    return se.run_available_now(
        enriched, table="events_stream_enrich_out", output_mode="append")


@register(
    "events_json_props",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           COUNT(k) AS n_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM p GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the ``props`` JSON string
    with an explicit schema (``from_json`` — typed struct, no schema
    inference pass) and aggregate the extracted field. With an explicit
    parse schema Spark prunes the JSON parse to the referenced fields,
    so a wide props blob costs only the fields a query touches; integer
    aggregation keeps the oracle compare exact."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k bigint").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count("p.k").alias("n_k"),
        F.sum("p.k").alias("sum_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
    )


@register(
    "heavy_hitters",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
    SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 20
    """,
)
def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent users: map-side-combined count per
    key, then distributed top-k (TakeOrderedAndProject — per-partition
    heaps, no global sort). Total order (cnt desc, user_id asc) makes
    ties deterministic."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import heavy_hitters

    return heavy_hitters(load_table(spark, sf_dir, "events"), "user_id", k=20)


@register("heavy_hitters_approx")
def heavy_hitters_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (freqItems / Misra-Gries family): one
    pass, bounded memory, superset guarantee — the 100 TB candidate-
    generation path; rows-only gate (the exact twin above is the
    oracle-checked one). Superset-of-truth is asserted in
    tests/test_operators.py."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import heavy_hitters_approx

    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters_approx(ev, "user_id", support=0.01)


@register(
    "heavy_hitters_approx_bounds",
    oracle="""
    WITH c AS (
      SELECT user_id, COUNT(*) AS cnt FROM events
      WHERE user_id IS NOT NULL GROUP BY 1
    ), n AS (SELECT SUM(cnt) AS n_total FROM c)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_hitters,
           CAST(0 AS BIGINT) AS n_missed,
           TRUE AS approx_size_ok
    FROM c CROSS JOIN n
    WHERE CAST(cnt AS DOUBLE) > 0.01 * CAST(n_total AS DOUBLE)
    """,
)
def heavy_hitters_approx_bounds_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The checkable companion to ``heavy_hitters_approx`` (whose
    Misra-Gries candidate set is stream-order-dependent, hence
    rows-only): asserts the two order-INDEPENDENT guarantees in-plan —
    no false negatives (every key above support·N is in the candidate
    set) and the 1/support counter budget — alongside the exact
    true-hitter count the oracle recomputes. A guarantee violation
    flips the value hash (``operators/frequency.py:
    heavy_hitters_approx_bounds_report``)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import (
        heavy_hitters_approx_bounds_report,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull())
    return heavy_hitters_approx_bounds_report(
        ev, "user_id", support=0.01)


def _cms_oracle(width: int = 256, depth: int = 4) -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_cms_hash

    cells = "\n      UNION ALL ".join(
        f"SELECT {d} AS d, CAST({sql_cms_hash(d, 'k')} % {width} AS INT) "
        "AS slot FROM base"
        for d in range(depth)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT user_id, exact_cnt, {d} AS d, "
        f"CAST({sql_cms_hash(d, 'CAST(user_id AS VARCHAR)')} % {width} "
        "AS INT) AS slot FROM top"
        for d in range(depth)
    )
    return f"""
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ), cells AS (
      {cells}
    ), sk AS (
      SELECT d, slot, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
    ), top AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 20
    ), probes AS (
      {probes}
    )
    SELECT p.user_id, p.exact_cnt,
           CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS cms_est
    FROM probes p LEFT JOIN sk ON p.d = sk.d AND p.slot = sk.slot
    GROUP BY p.user_id, p.exact_cnt
    """


def _cms_stream_oracle(width: int = 256, depth: int = 4) -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_cms_hash

    cells = "\n      UNION ALL ".join(
        f"SELECT window_start, {d} AS d, "
        f"CAST({sql_cms_hash(d, 'k')} % {width} AS INT) AS slot FROM base"
        for d in range(depth)
    )
    return f"""
    WITH base AS (
      SELECT STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}')
               AS window_start,
             CAST(user_id AS VARCHAR) AS k
      FROM events WHERE user_id IS NOT NULL
    ), cells AS (
      {cells}
    )
    SELECT window_start, d, slot, COUNT(*) AS cnt
    FROM cells GROUP BY 1, 2, 3
    """


def _hll_stream_oracle(m: int = 64) -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_hll_nunique

    inner = sql_hll_nunique(
        f"STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}')",
        "user_id", "events", m=m)
    return f"""
    WITH est AS ({inner})
    SELECT grp AS window_start, est FROM est
    """


@register("events_stream_hll", oracle=_hll_stream_oracle())
def events_stream_hll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog (``streaming/events.hll_windowed``):
    per-hour distinct-user estimates on the event stream with state
    bounded at ≤ m register rows PER WINDOW regardless of key
    cardinality — live cardinality tracking, the distinct-count
    sibling of ``events_stream_cms``. Registers fold by max (order-
    independent), so the availableNow-drained registers equal the
    batch build over the same rows; the drained state then runs
    through the batch ``hll_estimate`` fold, and the per-window
    estimates must hash-equal the full DuckDB sketch replay —
    stream == batch, value-proven through the estimator."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import hll_estimate
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    regs = se.run_available_now(
        se.hll_windowed(stream), table="events_stream_hll_out",
    )
    return hll_estimate(regs, "window_start", m=64)


@register("events_stream_cms", oracle=_cms_stream_oracle())
def events_stream_cms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch (``streaming/events.cms_windowed``):
    per-hour sketches built over the event stream with watermarked
    state bounded at depth×width cells PER WINDOW regardless of key
    cardinality — the canonical way to track frequencies on an
    unbounded stream. The sketch is insertion-order-independent, so
    the availableNow-drained result must hash-equal a batch DuckDB
    replay of the identical cells — stream==batch, value-proven, the
    same contract as the other streaming gates."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        se.cms_windowed(stream), table="events_stream_cms_out",
    )


_HSTREAM_ARGS = dict(lo=0.0, hi=512.0, bins=64)
_HSTREAM_QS = (0.5, 0.95)


def _hist_stream_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist_quantiles,
        sql_hist_sketch,
    )

    sk = sql_hist_sketch(
        f"STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}')",
        "value", "events", **_HSTREAM_ARGS)
    inner = sql_hist_quantiles(sk, _HSTREAM_QS, **_HSTREAM_ARGS)
    return f"SELECT grp AS window_start, q, est FROM ({inner})"


@register("events_stream_hist", oracle=_hist_stream_oracle())
def events_stream_hist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram sketch (``streaming/events.hist_windowed``):
    per-hour value-distribution sketches on the event stream with
    state bounded at ≤ bins cell rows PER WINDOW regardless of event
    volume — live percentile tracking (p50/p95 latency-style
    dashboards), the DISTRIBUTION member completing the streaming
    sketch family (CMS frequencies, HLL cardinality). Cell counts
    fold by SUM (insertion-order-independent), so the availableNow-
    drained cells equal the batch sketch over the same rows; the
    drained state then runs through the batch ``hist_quantiles``
    walk, and the per-window estimates must hash-equal the full
    DuckDB sketch+walk replay — stream == batch, value-proven through
    the estimator, the ``events_stream_hll`` contract for the
    quantile tier."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist_quantiles,
    )
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    cells = se.run_available_now(
        se.hist_windowed(stream, "value", **_HSTREAM_ARGS),
        table="events_stream_hist_out",
    )
    return hist_quantiles(
        cells, "window_start", _HSTREAM_QS, **_HSTREAM_ARGS)


def _hll_oracle() -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_hll_nunique

    inner = sql_hll_nunique("o_orderpriority", "o_custkey", "orders", m=64)
    return f"""
    WITH est AS ({inner}),
    exact AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nunique
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    )
    SELECT est.grp AS o_orderpriority, exact.exact_nunique,
           est.est AS hll_est
    FROM est JOIN exact ON est.grp = exact.grp
    """


@register("hll_nunique_orders", oracle=_hll_oracle())
def hll_nunique_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog, value-proven end-to-end
    (``operators/frequency.hll_nunique``): per order priority, the
    approximate distinct-customer count next to its exact twin. The
    portable md5 hash + integer-exact rho (``length(bin())``, no float
    log2) + exact integer power sums make the whole sketch replayable
    in DuckDB — the same proof pattern as the minhash/simhash/CMS
    portable twins, here for the one sketch family
    (``approx_count_distinct``'s HLL++) that was previously rows-only.
    Register state is ≤ m rows per group and max-mergeable — the
    100 TB shape for distinct counting."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import hll_nunique

    od = load_table(spark, sf_dir, "orders")
    est = hll_nunique(od, "o_orderpriority", "o_custkey", m=64)
    exact = (
        od.where(F.col("o_custkey").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("exact_nunique"))
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_nunique", F.col("est").alias("hll_est"))


_HIST_ARGS = dict(lo=0.0, hi=110_000.0, bins=512)
_HIST_QS = (0.25, 0.5, 0.75, 0.95)


def _hist_quantiles_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist_quantiles,
        sql_hist_sketch,
    )

    sk = sql_hist_sketch("l_returnflag", "l_extendedprice", "lineitem",
                         **_HIST_ARGS)
    inner = sql_hist_quantiles(sk, _HIST_QS, **_HIST_ARGS)
    return f"SELECT grp AS l_returnflag, q, est FROM ({inner})"


@register("hist_quantiles_prices", oracle=_hist_quantiles_oracle())
def hist_quantiles_prices_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles, value-proven end-to-end
    (``operators/histsketch.py``): per return flag, four price
    quantiles computed from a ≤ 512-row-per-group equi-width sketch —
    the QUANTILE member of the mergeable-summary tier (CMS/HLL/KMV/
    histogram). The DuckDB oracle replays bin assignment, cumulative
    rank walk, and in-cell interpolation from the same expressions;
    error is bounded by one cell width ((hi-lo)/bins ≈ 215 here),
    which the accuracy unit tests pin against exact quantiles."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist_quantiles, hist_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    sk = hist_sketch(li, "l_returnflag", "l_extendedprice", **_HIST_ARGS)
    return hist_quantiles(sk, "l_returnflag", _HIST_QS, **_HIST_ARGS)


def _hist_merge_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist_sketch,
    )

    sk = sql_hist_sketch("l_returnflag", "l_extendedprice", "lineitem",
                         **_HIST_ARGS)
    return (f"SELECT grp AS l_returnflag, bin, cnt FROM ({sk})")


@register("hist_incremental_merge", oracle=_hist_merge_oracle())
def hist_incremental_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch merge, STATE-exact: lineitem split at a
    shipdate cutoff into base/delta, each slice sketched independently
    (one scan of its own slice), folded with ``hist_merge`` — while
    the oracle sketches the full table in one scan. Every merged
    (group, bin, cnt) cell must match, so the gate proves cell-wise
    sum-merge ≡ full rescan on real data — the same append-only
    maintenance contract as cms/hll/kmv_incremental_merge, completing
    the tier's quantile member."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist_merge, hist_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1995-06-01").cast("date")
    base = li.where(F.col("l_shipdate") < cut)
    delta = li.where(~(F.col("l_shipdate") < cut)
                     | F.col("l_shipdate").isNull())
    return hist_merge(
        hist_sketch(base, "l_returnflag", "l_extendedprice", **_HIST_ARGS),
        hist_sketch(delta, "l_returnflag", "l_extendedprice", **_HIST_ARGS),
    )


def _whist_merge_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist_sketch_weighted,
    )

    sk = sql_hist_sketch_weighted(
        "l_returnflag", "l_extendedprice", "l_quantity", "lineitem",
        **_HIST_ARGS)
    return f"SELECT grp AS l_returnflag, bin, wcnt FROM ({sk})"


@register("hist_weighted_incremental_merge", oracle=_whist_merge_oracle())
def hist_weighted_incremental_merge_q(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """WEIGHTED histogram-sketch merge, STATE-exact: the same
    base/delta shipdate split as ``hist_incremental_merge``, each
    slice's micro-unit weight sums sketched independently and folded
    cell-wise (``hist_merge``, BIGINT sums so the fold is exact) — vs
    the oracle's one-scan full-table weighted sketch. Proves the
    approximate weighted quantile's maintenance story on real data:
    an append-only pipeline folds per-slice weighted sketches without
    rescans and the walked quantiles cannot tell the difference
    (``operators/histsketch.py:hist_sketch_weighted``)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist_merge, hist_sketch_weighted,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1995-06-01").cast("date")
    base = li.where(F.col("l_shipdate") < cut)
    delta = li.where(~(F.col("l_shipdate") < cut)
                     | F.col("l_shipdate").isNull())
    return hist_merge(
        hist_sketch_weighted(base, "l_returnflag", "l_extendedprice",
                             "l_quantity", **_HIST_ARGS),
        hist_sketch_weighted(delta, "l_returnflag", "l_extendedprice",
                             "l_quantity", **_HIST_ARGS),
    )


# the group_weighted_corr_approx grid (queries_groupby._WCA_ARGS
# shape) over (discount, tax) weighted by quantity
_H2D_ARGS = dict(lox=0.0, hix=0.11, binsx=11,
                 loy=0.0, hiy=0.09, binsy=9)


def _corr_whist_merge_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist2d_sketch_weighted,
    )

    sk = sql_hist2d_sketch_weighted(
        "l_returnflag", "l_discount", "l_tax", "l_quantity",
        "lineitem", **_H2D_ARGS)
    return f"SELECT grp AS l_returnflag, binx, biny, wcnt FROM ({sk})"


@register("corr_weighted_incremental_merge",
          oracle=_corr_whist_merge_oracle())
def corr_weighted_incremental_merge_q(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """2-D WEIGHTED histogram-sketch merge, STATE-exact: the same
    base/delta shipdate split as the 1-D weighted gate, each slice's
    (binx, biny) micro-unit weight cells sketched independently and
    folded cell-wise (``hist_merge``, BIGINT sums so the fold is
    exact) — vs the oracle's one-scan full-table 2-D sketch. Every
    merged cell must hash-match, which proves the approximate
    weighted CORRELATION's maintenance story on real data: an
    append-only pipeline folds per-slice 2-D sketches without
    rescans, and since ``hist2d_weighted_corr_cov`` is a pure
    function of the cells, the maintained corr/cov summary cannot
    tell the difference (``operators/histsketch.py:
    hist2d_sketch_weighted``; r11 VERDICT next-#3)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist2d_sketch_weighted, hist_merge,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1995-06-01").cast("date")
    base = li.where(F.col("l_shipdate") < cut)
    delta = li.where(~(F.col("l_shipdate") < cut)
                     | F.col("l_shipdate").isNull())
    return hist_merge(
        hist2d_sketch_weighted(base, "l_returnflag", "l_discount",
                               "l_tax", "l_quantity", **_H2D_ARGS),
        hist2d_sketch_weighted(delta, "l_returnflag", "l_discount",
                               "l_tax", "l_quantity", **_H2D_ARGS),
    )


def _kmv_oracle(k: int = 64) -> str:
    from pandas_rust_algos_spark.operators.kmv import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    sk = sql_kmv_sketch("o_orderpriority", "o_custkey", "orders", k=k)
    est = sql_kmv_estimate("hs", k=k)
    return f"""
    WITH sk AS ({sk}),
    est AS (
      SELECT grp, CAST(ROUND({est}) AS BIGINT) AS est FROM sk
    ), exact AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nunique
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    )
    SELECT est.grp AS o_orderpriority, exact.exact_nunique,
           est.est AS kmv_est
    FROM est JOIN exact ON est.grp = exact.grp
    """


@register("kmv_nunique_orders", oracle=_kmv_oracle())
def kmv_nunique_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta) sketch, value-proven end-to-end
    (``operators/kmv.py``): per order priority, the bottom-k distinct-
    customer estimate next to its exact twin. The portable md5-prefix
    hash, the rank filter, and the ``(k-1)·2^60 / h_k`` estimator all
    replay in DuckDB — completing the mergeable-summary tier (CMS =
    frequency, HLL = cardinality, KMV = cardinality + set algebra;
    ``kmv_set_ops_customers`` proves the set-algebra half)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.kmv import (
        kmv_estimate, kmv_sketch,
    )

    od = load_table(spark, sf_dir, "orders")
    est = kmv_estimate(
        kmv_sketch(od, "o_orderpriority", "o_custkey", k=64),
        "o_orderpriority", k=64)
    exact = (
        od.where(F.col("o_custkey").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("exact_nunique"))
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_nunique", F.col("est").alias("kmv_est"))


def _kmv_merge_oracle(k: int = 64) -> str:
    from pandas_rust_algos_spark.operators.kmv import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    sk = sql_kmv_sketch("o_orderpriority", "o_custkey", "orders", k=k)
    est = sql_kmv_estimate("hs", k=k)
    return f"""
    WITH sk AS ({sk})
    SELECT grp AS o_orderpriority,
           CAST(LEN(hs) AS BIGINT) AS n_hs,
           CAST(hs[LEN(hs)] AS BIGINT) AS h_max,
           CAST(ROUND({est}) AS BIGINT) AS kmv_est
    FROM sk
    """


@register("kmv_incremental_merge", oracle=_kmv_merge_oracle())
def kmv_incremental_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch merge, value-proven: orders split at a date cutoff
    into base/delta, each slice sketched independently (one scan of
    its own slice), folded with ``kmv_merge`` — while the DuckDB
    oracle sketches the FULL table in one scan. The output pins the
    merged STATE, not just the estimate: per group, the array length,
    the largest retained hash, and the estimate must all match, so a
    merge that kept a wrong hash cannot pass even if the rounded
    estimate happened to agree. Proves min-k(A ∪ B) is computable
    from min-k(A) ∪ min-k(B) on real data — the append-only
    maintenance contract of the whole sketch tier."""
    tune(spark)
    from pandas_rust_algos_spark.operators.kmv import (
        _estimate_expr, kmv_merge, kmv_sketch,
    )

    od = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    base = od.where(F.col("o_orderdate") < cut)
    delta = od.where(~(F.col("o_orderdate") < cut)
                     | F.col("o_orderdate").isNull())
    merged = kmv_merge(
        kmv_sketch(base, "o_orderpriority", "o_custkey", k=64),
        kmv_sketch(delta, "o_orderpriority", "o_custkey", k=64),
        k=64,
    )
    return merged.select(
        "o_orderpriority",
        F.size("hs").cast("long").alias("n_hs"),
        F.element_at("hs", F.size("hs")).alias("h_max"),
        F.round(_estimate_expr(F.col("hs"), 64)).cast("long")
        .alias("kmv_est"),
    )


def _kmv_setops_oracle(k: int = 64) -> str:
    from pandas_rust_algos_spark.operators.kmv import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    a = sql_kmv_sketch(
        "o_orderpriority", "o_custkey",
        "(SELECT * FROM orders WHERE o_orderdate < DATE '1995-01-01')",
        k=k)
    b = sql_kmv_sketch(
        "o_orderpriority", "o_custkey",
        "(SELECT * FROM orders WHERE o_orderdate >= DATE '1995-01-01')",
        k=k)
    union_est = sql_kmv_estimate("ku", k=k)
    a_est = sql_kmv_estimate("hs_a", k=k)
    b_est = sql_kmv_estimate("hs_b", k=k)
    return f"""
    WITH a AS ({a}), b AS ({b}),
    j AS (
      SELECT a.grp,
             (LIST_SORT(LIST_DISTINCT(a.hs || b.hs)))[1:{k}] AS ku,
             LIST_INTERSECT(a.hs, b.hs) AS hs_both,
             a.hs AS hs_a, b.hs AS hs_b
      FROM a JOIN b USING (grp)
    ), m AS (
      SELECT grp, ku, hs_a, hs_b,
             LEN(LIST_INTERSECT(ku, hs_both)) AS n_both
      FROM j
    )
    SELECT grp AS o_orderpriority,
           CAST(ROUND({union_est}) AS BIGINT) AS union_est,
           CAST(ROUND((CAST(n_both AS DOUBLE) / CAST(LEN(ku) AS DOUBLE))
                      * ({union_est})) AS BIGINT) AS inter_est,
           ROUND(CAST(n_both AS DOUBLE) / CAST(LEN(ku) AS DOUBLE), 6)
             AS jaccard_est,
           CAST(ROUND(GREATEST(CAST(0 AS DOUBLE),
                ({union_est}) - ({b_est}))) AS BIGINT) AS a_only_est,
           CAST(ROUND(GREATEST(CAST(0 AS DOUBLE),
                ({union_est}) - ({a_est}))) AS BIGINT) AS b_only_est
    FROM m
    """


@register("kmv_set_ops_customers", oracle=_kmv_setops_oracle())
def kmv_set_ops_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra, value-proven (``operators/kmv.
    kmv_set_ops``): per order priority, the customer sets "ordered
    before 1995" and "ordered 1995 or later" are sketched
    independently, and the two sketches alone answer |A ∪ B|,
    |A ∩ B|, and Jaccard — the overlap questions HLL registers cannot
    compose into. The DuckDB oracle replays sketch build, the min-k
    union composition, the sample-overlap count, and both estimator
    divisions bit-exactly. At 100 TB this is the audience-overlap /
    cross-table-containment primitive: KiB of state per side answers
    a question whose exact form is a fact-fact distinct join."""
    tune(spark)
    from pandas_rust_algos_spark.operators.kmv import (
        kmv_set_ops, kmv_sketch,
    )

    od = load_table(spark, sf_dir, "orders")
    cut = F.lit("1995-01-01").cast("date")
    a = kmv_sketch(od.where(F.col("o_orderdate") < cut),
                   "o_orderpriority", "o_custkey", k=64)
    b = kmv_sketch(od.where(F.col("o_orderdate") >= cut),
                   "o_orderpriority", "o_custkey", k=64)
    return kmv_set_ops(a, b, k=64)


@register("cms_heavy_hitters", oracle=_cms_oracle())
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch, value-proven end-to-end
    (``operators/frequency.cms_sketch``/``cms_estimate``): the sketch
    is ≤ depth×width rows regardless of data size, mergeable cell-wise,
    and — unlike Misra-Gries — insertion-order-INDEPENDENT, so with
    the portable md5 hash the DuckDB oracle replays sketch build AND
    point queries bit-exactly. The gate estimates the exact top-20
    users through the sketch: every (user, exact, estimate) triple is
    hash-proven, pinning the never-undercount property on real data
    (the xxhash64 ``fast`` mode stays the 100 TB default)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import (
        cms_estimate, cms_sketch, heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_sketch(ev, "user_id", width=256, depth=4)
    top = heavy_hitters(ev, "user_id", k=20).select(
        "user_id", F.col("cnt").alias("exact_cnt"))
    est = cms_estimate(sketch, top, "user_id", width=256, depth=4)
    return (
        top.join(est, "user_id")
        .select("user_id", "exact_cnt", F.col("est").alias("cms_est"))
    )


def _cms_merge_oracle(width: int = 128, depth: int = 4, k: int = 12) -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_cms_hash

    cells = "\n      UNION ALL ".join(
        f"SELECT {d} AS d, CAST({sql_cms_hash(d, 'k')} % {width} AS INT) "
        "AS slot FROM base"
        for d in range(depth)
    )
    probes = "\n      UNION ALL ".join(
        f"SELECT user_id, exact_cnt, {d} AS d, "
        f"CAST({sql_cms_hash(d, 'CAST(user_id AS VARCHAR)')} % {width} "
        "AS INT) AS slot FROM top"
        for d in range(depth)
    )
    return f"""
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id IS NOT NULL
    ), cells AS (
      {cells}
    ), sk AS (
      SELECT d, slot, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
    ), top AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT {k}
    ), probes AS (
      {probes}
    )
    SELECT p.user_id, p.exact_cnt,
           CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS cms_est
    FROM probes p LEFT JOIN sk ON p.d = sk.d AND p.slot = sk.slot
    GROUP BY p.user_id, p.exact_cnt
    """


@register("cms_incremental_merge", oracle=_cms_merge_oracle())
def cms_incremental_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance, value-proven: the event history
    is split at a time cutoff into a "base" and a "delta" slice, each
    sketched INDEPENDENTLY (one scan of its own slice only), then
    folded with ``cms_merge`` — and the DuckDB oracle replays the
    sketch of the FULL concatenated data, so the hash gate proves
    merge(sketch(base), sketch(delta)) == sketch(base ∪ delta)
    bit-exactly on real data. This is how a 100 TB append-only table
    keeps a live frequency sketch: sketch each arriving partition,
    cell-wise-sum it into ≤ depth×width rows of running state, never
    rescan history. Probes report the exact top-12 users through the
    merged sketch (never-undercount visible per row)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import (
        cms_estimate, cms_merge, cms_sketch, heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    base = ev.where(F.col("ts") < cut)
    delta = ev.where(~(F.col("ts") < cut) | F.col("ts").isNull())
    merged = cms_merge(
        cms_sketch(base, "user_id", width=128, depth=4),
        cms_sketch(delta, "user_id", width=128, depth=4),
    )
    top = heavy_hitters(ev, "user_id", k=12).select(
        "user_id", F.col("cnt").alias("exact_cnt"))
    est = cms_estimate(merged, top, "user_id", width=128, depth=4)
    return (
        top.join(est, "user_id")
        .select("user_id", "exact_cnt", F.col("est").alias("cms_est"))
    )


def _hll_merge_oracle() -> str:
    from pandas_rust_algos_spark.operators.frequency import sql_hll_nunique

    inner = sql_hll_nunique("o_orderpriority", "o_custkey", "orders", m=128)
    return f"""
    WITH est AS ({inner}),
    exact AS (
      SELECT o_orderpriority AS grp,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nunique
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
    )
    SELECT est.grp AS o_orderpriority, exact.exact_nunique,
           est.est AS hll_est
    FROM est JOIN exact ON est.grp = exact.grp
    """


@register("hll_incremental_merge", oracle=_hll_merge_oracle())
def hll_incremental_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register merge, value-proven: orders are split at a date
    cutoff into base/delta, each slice builds its own register table
    (``hll_registers``, ≤ m rows per group), ``hll_merge`` folds them
    bucket-wise by max, and the estimate runs over the MERGED
    registers — while the DuckDB oracle replays the sketch over the
    full table in one scan. Hash equality proves
    merge(regs(base), regs(delta)) == regs(base ∪ delta) exactly
    (max is associative/idempotent), i.e. distinct-count sketches on
    an append-only 100 TB table update per-partition without rescans.
    m=128 here (vs 64 in ``hll_nunique_orders``) also exercises the
    non-tabulated alpha branch."""
    tune(spark)
    from pandas_rust_algos_spark.operators.frequency import (
        hll_estimate, hll_merge, hll_registers,
    )

    od = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    base = od.where(F.col("o_orderdate") < cut)
    delta = od.where(~(F.col("o_orderdate") < cut)
                     | F.col("o_orderdate").isNull())
    merged = hll_merge(
        hll_registers(base, "o_orderpriority", "o_custkey", m=128),
        hll_registers(delta, "o_orderpriority", "o_custkey", m=128),
    )
    est = hll_estimate(merged, "o_orderpriority", m=128)
    exact = (
        od.where(F.col("o_custkey").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("exact_nunique"))
    )
    return exact.join(est, "o_orderpriority").select(
        "o_orderpriority", "exact_nunique", F.col("est").alias("hll_est"))


@register(
    "events_rollup_hour_day",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             STRFTIME(DATE_TRUNC('day', ts), '{_FMT_DUCK}') AS day_start,
             STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}') AS hour_start,
             value
      FROM events
    )
    SELECT event_type, day_start, hour_start,
           COUNT(*) AS n_events, {dsum('value')} AS sum_value
    FROM b GROUP BY ROLLUP(event_type, day_start, hour_start)
    """,
)
def events_rollup_hour_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hour, day,
    per-type, and grand-total grains in ONE pass over the events table
    (GROUP BY ROLLUP on the time hierarchy). At 100 TB this replaces
    four separate scans with one; the per-hour grain dominates the
    output and the coarser grains are a near-free re-aggregation of
    the finest grain inside the same HashAggregate."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), _FMT).alias("day_start"),
        F.date_format(F.date_trunc("hour", "ts"), _FMT).alias("hour_start"),
        F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("vfx"),
    )
    return (
        b.rollup("event_type", "day_start", "hour_start")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.sum("vfx").cast("double") / F.lit(1e6)).alias("sum_value"))
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id
    ), j AS (
      SELECT s1.user_id, t1, t2, t3
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx,
           COUNT(*) AS n_users FROM j
    UNION ALL
    SELECT 'click', 2, COUNT(*) FROM j
    WHERE t2 IS NOT NULL AND t2 - t1 <= 604800000000
    UNION ALL
    SELECT 'purchase', 3, COUNT(*) FROM j
    WHERE t2 IS NOT NULL AND t2 - t1 <= 604800000000
      AND t3 IS NOT NULL AND t3 - t1 <= 604800000000
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase within a
    7-day horizon of the first view: each step's earliest qualifying
    timestamp comes from a conditional aggregate over the PREVIOUS
    step's users (strictly increasing event times, the product-
    analytics semantics). Three per-user min-aggregates — each one
    shuffle of (user, ts) pairs with map-side combine — then two
    broadcast-sized left joins; no window over the raw event stream,
    no per-user sort. Timestamps compare as exact microsecond epochs
    on both engines."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t"))
    horizon = 7 * 24 * 3600 * 1_000_000

    s1 = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("t").alias("t1")))
    s2 = (ev.where(F.col("event_type") == "click")
          .join(s1, "user_id").where(F.col("t") > F.col("t1"))
          .groupBy("user_id").agg(F.min("t").alias("t2")))
    s3 = (ev.where(F.col("event_type") == "purchase")
          .join(s2, "user_id").where(F.col("t") > F.col("t2"))
          .groupBy("user_id").agg(F.min("t").alias("t3")))
    j = (s1.join(s2.select("user_id", "t2"), "user_id", "left")
         .join(s3.select("user_id", "t3"), "user_id", "left"))

    in2 = F.col("t2").isNotNull() & (F.col("t2") - F.col("t1") <= horizon)
    in3 = in2 & F.col("t3").isNotNull() & \
        (F.col("t3") - F.col("t1") <= horizon)
    counts = j.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count(F.when(in2, 1)).alias("n2"),
        F.count(F.when(in3, 1)).alias("n3"),
    )
    steps = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3)],
        "step string, step_idx long")
    return (steps.crossJoin(F.broadcast(counts))
            .select("step", "step_idx",
                    F.when(F.col("step_idx") == 1, F.col("n1"))
                    .when(F.col("step_idx") == 2, F.col("n2"))
                    .otherwise(F.col("n3")).alias("n_users")))


@register(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01',
                  MIN(CAST(ts AS DATE))) / 7) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01',
                  CAST(e.ts AS DATE)) / 7) AS BIGINT) - f.cohort_week
               AS week_offset
      FROM events e JOIN first_seen f USING (user_id)
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_active
    FROM activity GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, the
    classic (cohort × week-offset → active users) triangle. Two
    aggregations on the user key — the first-seen aggregate reuses the
    same partitioning as the distinct — and week arithmetic is integer
    day-difference division (identical on both engines; no engine week
    boundaries involved)."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / 7
        ).cast("long").alias("week"),
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        ev.join(first, "user_id")
        .select("user_id", "cohort_week",
                (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .distinct()
    )
    return (activity.groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_active")))


@register(
    "events_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT event_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup, oracle-checked end-to-end: every
    event is DUPLICATED (explode of a 2-element array — simulating an
    at-least-once source replay), streamed through
    ``dropDuplicatesWithinWatermark`` on event_id, drained with
    availableNow, and aggregated per type. The result must equal the
    batch per-type counts over the ORIGINAL table — every injected
    duplicate must die in the dedup state, none of the originals may.

    Determinism note: the fixture is a single parquet file → one
    microbatch → the initial watermark covers every row, so no row is
    late-dropped and exactly one copy per event_id survives. (On a
    multi-batch production source the same plan stays correct for
    duplicates arriving within the watermark horizon — that horizon is
    the documented contract of the operator, streaming/events.py.)"""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir)
    doubled = stream.withColumn("__copy", F.explode(F.array(F.lit(0), F.lit(1)))).drop(
        "__copy"
    )
    deduped = se.dedup_stream(doubled, ["event_id"])
    out = se.run_available_now(
        deduped, table="events_stream_dedup_out", output_mode="append",
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("event_id")).alias("n_distinct"),
    )


@register(
    "events_stream_join",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id AS purchase_id, value AS amount,
             epoch_us(ts) AS purchase_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, click_id, purchase_id, amount, click_us, purchase_us
    FROM c JOIN p ON c.user_id = p.user_id
      AND purchase_us BETWEEN click_us AND click_us + 3600000000
    """,
)
def events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-STREAM self join, oracle-checked end-to-end:
    clicks and purchases of the events stream joined on user within a
    1-hour attribution horizon (``streaming/joins.click_to_purchase``),
    drained with availableNow. The batch interval join over the same
    table must produce the identical pair set — proving the streaming
    join's key+time-range condition loses no pairs and fabricates none.
    Timestamps compare in the microsecond domain on both engines.

    State-bound note (the 100 TB contract): both sides carry a 2-hour
    watermark and the two-sided range predicate, so Spark can expire
    click state at ``watermark - horizon`` and purchase state at the
    watermark — state is bounded by event rate × horizon, regardless
    of stream length. The single-file fixture drains as one microbatch
    (initial watermark covers every row), so no pair is late-dropped
    here.

    Cost attribution (profiled at sf0.1, round 5): the former
    ~8s/drain was NOT the join — recentProgress showed addBatch
    dominated by per-shard state-store commits (32 shards × 4 stores ×
    2 batches, ~0.5s each; the availableNow drain always runs a second
    zero-input batch to advance the watermark and flush endstate).
    Sizing state shards to the stream's volume (8, the
    ``STATE_PARTITIONS`` of every ``run_available_now``) cuts the drain
    to ~2s with identical results; the residual is the two mandatory
    batch rounds + state commit, i.e. steady-state Structured Streaming
    overhead, not plan waste."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se
    from pandas_rust_algos_spark.streaming.joins import click_to_purchase

    stream = se.read_events_stream(spark, sf_dir)
    joined = click_to_purchase(stream)
    out = se.run_available_now(
        joined, table="events_stream_join_out", output_mode="append")
    return out.select(
        "user_id", "click_id", "purchase_id", "amount",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


@register(
    "events_attribution",
    oracle="""
    SELECT event_id, user_id, value,
           ft.eid AS first_event, ft.et AS first_type,
           lt.eid AS last_event,  lt.et AS last_type,
           n_touches
    FROM (
      SELECT event_id, user_id, event_type, value,
             MIN(CASE WHEN event_type IN ('view','click')
                 THEN {'ts': epoch_us(ts), 'eid': event_id,
                       'et': event_type} END)
               OVER w AS ft,
             MAX(CASE WHEN event_type IN ('view','click')
                 THEN {'ts': epoch_us(ts), 'eid': event_id,
                       'et': event_type} END)
               OVER w AS lt,
             COUNT(CASE WHEN event_type IN ('view','click')
                   THEN 1 END) OVER w AS n_touches
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 604800000000 PRECEDING
                             AND 1 PRECEDING)
    ) WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch marketing attribution: each purchase credits
    the earliest and latest view/click by the same user in the 7 days
    strictly before it, plus the touch count.

    One shuffle (user key), one sort, three aggregates over a single
    shared RANGE frame — never a self-join of the event stream against
    itself (the naive purchases×touches join explodes on whale users;
    the window form is linear in events per user). Time arithmetic is
    exact integer microseconds (`unix_micros` ↔ `epoch_us`) — no
    float-seconds drift between engines — and the earliest/latest
    touch is a struct-min/max ordered by (ts, event_id, type), so
    equal-timestamp ties break deterministically on both sides."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    eus = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(eus)
        .rangeBetween(-604_800_000_000, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            eus.alias("ts"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("et"),
        ),
    )
    enriched = ev.select(
        "event_id", "user_id", "event_type", "value",
        F.min(touch).over(w).alias("ft"),
        F.max(touch).over(w).alias("lt"),
        F.count(touch).over(w).alias("n_touches"),
    ).where(F.col("event_type") == "purchase")
    return enriched.select(
        "event_id", "user_id", "value",
        F.col("ft.eid").alias("first_event"),
        F.col("ft.et").alias("first_type"),
        F.col("lt.eid").alias("last_event"),
        F.col("lt.et").alias("last_type"),
        "n_touches",
    )


@register(
    "events_session_paths",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
      FROM events
    ), g AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ), s AS (
      SELECT user_id, ts, event_type, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
      FROM g
    ), p AS (
      SELECT user_id, session_id,
             STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
      FROM s GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: the frequency table of ordered
    event-type sequences per 30-min-gap session.

    Same gaps-and-islands sessionization as ``events_sessionize``
    (one user-keyed shuffle+sort), then the path is assembled with
    sort_array over (ts, event_id, type) structs — a deterministic
    total order, so equal-timestamp events serialize identically on
    both engines — and the final count shuffles only the (short) path
    strings. Whale-session note: the path string is O(session length);
    real pipelines cap it (slice the sorted array) before the final
    groupBy — the fixture's sessions are bounded by the 30-min gap."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp"))
            )
            > 1_800_000_000
        ),
        1,
    ).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(wrun)
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq")
        )
        .select(
            F.concat_ws(
                ">", F.transform(F.col("seq"), lambda s: s.getField("et"))
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


@register(
    "events_stream_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id
    ), j AS (
      SELECT s1.user_id, t1, t2, t3
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx,
           COUNT(*) AS n_users FROM j
    UNION ALL
    SELECT 'click', 2, COUNT(*) FROM j
    WHERE t2 IS NOT NULL AND t2 - t1 <= 604800000000
    UNION ALL
    SELECT 'purchase', 3, COUNT(*) FROM j
    WHERE t2 IS NOT NULL AND t2 - t1 <= 604800000000
      AND t3 IS NOT NULL AND t3 - t1 <= 604800000000
    """,
)
def events_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING funnel, oracle-checked against the batch semantics:
    per-user view→click→purchase state (three longs) carried by
    applyInPandasWithState, drained with availableNow, rolled up to
    step counts. Single-file fixture → one sorted micro-batch → the
    state machine reproduces the batch min-aggregates exactly (see
    streaming/funnel.py for the continuous-mode contract)."""
    tune(spark)
    from pandas_rust_algos_spark.streaming import events as se
    from pandas_rust_algos_spark.streaming import funnel as sf

    stream = se.read_events_stream(spark, sf_dir)
    drained = se.run_available_now(
        sf.funnel_state(stream),
        table="events_stream_funnel_out",
        output_mode="update",
    )
    return sf.funnel_counts(drained)


@register(
    "events_variant_props",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             json_extract_string(props, '$.missing') AS m
      FROM events
    )
    SELECT event_type,
           COUNT(k) AS n_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           COUNT(m) AS n_missing_hits
    FROM p GROUP BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling on Spark 4's VARIANT type: ``props``
    parses ONCE into the binary variant encoding (``parse_json``) and
    fields extract with ``variant_get`` path access — unlike
    ``from_json`` this needs no up-front schema and repeated field
    reads don't re-parse the document (the engine's answer to
    schemaless JSON at 100 TB; columnar shredding applies when stored
    as a variant column). Absent paths are NULL, counted here to pin
    that semantic."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    p = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.variant_get(v, "$.missing", "string").alias("m"),
    )
    return p.groupBy("event_type").agg(
        F.count("k").alias("n_k"),
        F.sum("k").alias("sum_k"),
        F.count("m").alias("n_missing_hits"),
    )


@register(
    "events_stream_cusum",
    oracle="""
    WITH d AS (
      SELECT event_type, event_id,
             (CAST(FLOOR(value * 1e6) AS BIGINT) - 55000000) AS delta
      FROM events
    ), p AS (
      SELECT event_type, event_id,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS prefix
      FROM d
    )
    SELECT event_type, event_id,
           CAST(prefix - LEAST(CAST(0 AS BIGINT),
             MIN(prefix) OVER (PARTITION BY event_type
                               ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)) AS BIGINT)
             AS cusum_micros,
           CAST(prefix - LEAST(CAST(0 AS BIGINT),
             MIN(prefix) OVER (PARTITION BY event_type
                               ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)) AS BIGINT)
             > 100000000 AS alarm
    FROM p
    """,
)
def events_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM drained over the bounded events source
    (``streaming/cusum.py``: the prefix-minus-running-min identity
    reduces per-key state to two longs in applyInPandasWithState).
    Under a drain the result is exactly the batch operator's, and both
    are exact integer arithmetic — so a stateful streaming operator
    gets a full per-row value-hash oracle, which float streaming state
    never could. Target 50, slack 5, threshold 100 (same
    parameterization as the batch ``events_cusum`` gate)."""
    from pandas_rust_algos_spark.streaming import cusum as sc
    from pandas_rust_algos_spark.streaming import events as se

    tune(spark)
    stream = se.read_events_stream(spark, sf_dir)
    return se.run_available_now(
        sc.cusum_state(stream, target=50.0, slack=5.0, threshold=100.0),
        table="t_gate_stream_cusum", output_mode="append",
    )


@register(
    "ab_test_readout",
    oracle="""
    WITH u AS (
      SELECT user_id,
             md5(CAST(user_id AS VARCHAR) || ':ab-gate') < '8' AS in_a,
             CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
                              THEN 1 END) >= 13
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)
               AS x_a,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN in_a THEN 0 ELSE converted END) AS BIGINT)
               AS x_b
      FROM u
    )
    SELECT n_a, x_a, n_b, x_b,
           CAST(x_a AS DOUBLE) / NULLIF(n_a, 0) AS p_a,
           CAST(x_b AS DOUBLE) / NULLIF(n_b, 0) AS p_b,
           (CAST(x_a AS DOUBLE) / NULLIF(n_a, 0)
            - CAST(x_b AS DOUBLE) / NULLIF(n_b, 0))
           / NULLIF(SQRT(
               (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
               * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
               * (CAST(1 AS DOUBLE) / NULLIF(n_a, 0)
                  + CAST(1 AS DOUBLE) / NULLIF(n_b, 0))
             ), 0) AS z
    FROM s
    """,
)
def ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation surface: a deterministic A/B readout. Variant
    assignment is a salted-md5 row property (hex-prefix threshold '8'
    ≈ 50/50 — stable across runs, engines, and retries, unlike
    ``rand()``-based bucketing), conversion is "user made ≥13 purchases" (a threshold that splits the fixture population, so variance — and therefore z — is non-degenerate),
    and the two-proportion pooled z-score comes out UNROUNDED: every
    term divides or multiplies engine-identical values and ``sqrt`` is
    IEEE correctly-rounded, so even the test statistic hash-matches
    bit-for-bit. Degenerate splits (an empty variant, zero variance)
    yield NULL via try_divide/NULLIF on BOTH engines rather than an
    ANSI divide-by-zero error or an engine-dependent inf. One shuffle
    (per-user agg) + a 1-row fold."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    in_a = F.md5(F.concat(F.col("user_id").cast("string"),
                          F.lit(":ab-gate"))) < "8"
    u = ev.groupBy("user_id").agg(
        (F.count(F.when(F.col("event_type") == "purchase", 1)) >= 13)
        .cast("int").alias("converted"),
    ).withColumn("in_a", in_a)
    s = u.agg(
        F.sum(F.col("in_a").cast("long")).alias("n_a"),
        F.sum(F.when(F.col("in_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("x_a"),
        F.sum((~F.col("in_a")).cast("long")).alias("n_b"),
        F.sum(F.when(~F.col("in_a"), F.col("converted")).otherwise(0))
        .cast("long").alias("x_b"),
    )
    p_a = F.try_divide(F.col("x_a").cast("double"), F.col("n_a"))
    p_b = F.try_divide(F.col("x_b").cast("double"), F.col("n_b"))
    pool = (F.col("x_a") + F.col("x_b")).cast("double") \
        / (F.col("n_a") + F.col("n_b"))
    denom = F.sqrt(
        pool * (F.lit(1) - pool)
        * (F.try_divide(F.lit(1.0), F.col("n_a"))
           + F.try_divide(F.lit(1.0), F.col("n_b")))
    )
    z = F.try_divide(p_a - p_b, F.nullif(denom, F.lit(0.0)))
    return s.select("n_a", "x_a", "n_b", "x_b",
                    p_a.alias("p_a"), p_b.alias("p_b"), z.alias("z"))


def _kmv_stream_oracle(k: int = 64) -> str:
    from pandas_rust_algos_spark.operators.kmv import (
        sql_kmv_estimate,
        sql_kmv_sketch,
    )

    hour = f"STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}')"
    sk = sql_kmv_sketch(hour, "user_id", "events", k=k)
    est = sql_kmv_estimate("hs_a", k=k)
    union_est = sql_kmv_estimate("ku", k=k)
    return f"""
    WITH sk AS ({sk}),
    prev AS (
      SELECT STRFTIME(STRPTIME(grp, '{_FMT_DUCK}') + INTERVAL 1 HOUR,
                      '{_FMT_DUCK}') AS grp,
             hs
      FROM sk
    ), j AS (
      SELECT sk.grp,
             (LIST_SORT(LIST_DISTINCT(sk.hs || prev.hs)))[1:{k}] AS ku,
             LIST_INTERSECT(sk.hs, prev.hs) AS hs_both,
             sk.hs AS hs_a
      FROM sk JOIN prev USING (grp)
    ), m AS (
      SELECT grp, ku, hs_a,
             LEN(LIST_INTERSECT(ku, hs_both)) AS n_both
      FROM j
    )
    SELECT grp AS window_start,
           CAST(ROUND({est}) AS BIGINT) AS est,
           CAST(ROUND({union_est}) AS BIGINT) AS union_prev_est,
           CAST(ROUND((CAST(n_both AS DOUBLE) / CAST(LEN(ku) AS DOUBLE))
                      * ({union_est})) AS BIGINT) AS inter_prev_est,
           ROUND(CAST(n_both AS DOUBLE) / CAST(LEN(ku) AS DOUBLE), 6)
             AS jaccard_prev_est
    FROM m
    """


@register("events_stream_kmv", oracle=_kmv_stream_oracle())
def events_stream_kmv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV through a PERSISTED per-hour sketch store
    (``streaming/events.kmv_windowed_store``) — the set-algebra
    member completing the streaming sketch family (r11 VERDICT
    next-#4). The event fixture is re-landed as three slice files so
    the drain really exercises the multi-batch fold: each micro-batch
    sketches its own rows and ``kmv_merge``s into the store (exact by
    the min-k union property, idempotent under replay), leaving ≤ k
    BIGINTs per hour. The drained store then answers, from KiB of
    state alone, BOTH live questions: distinct users per hour
    (``kmv_estimate``) and the hour-over-hour key overlap
    (``kmv_set_ops`` against the previous hour's sketch — union,
    intersection, Jaccard). The DuckDB oracle replays the batch
    sketch per hour, the window-shift self-join, the min-k union
    composition, and every estimator division bit-exactly — proving
    drained-stream state ≡ batch sketch ≡ the full set-algebra
    surface."""
    import tempfile

    from pandas_rust_algos_spark.operators.kmv import (
        kmv_estimate, kmv_set_ops,
    )
    from pandas_rust_algos_spark.streaming import events as se

    tune(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id")
    stream_dir = tempfile.mkdtemp(prefix="events_kmv_slices_")
    # three slice files -> three micro-batches (maxFilesPerTrigger=1);
    # NULL event_ids land in slice 0 so no row is lost vs the oracle.
    # r12: ONE partitionBy write replaces three filtered scans — the
    # old loop paid 3 full event scans + 3 write jobs to land the same
    # rows. repartition(3, "__slice") clusters each slice into its own
    # task (hash of 3 distinct values → each slice wholly in one task
    # ⇒ exactly one file per slice dir), avoiding the coalesce(1)
    # single-task funnel (measured: repart3 0.39 s vs coalesce1 0.44 s
    # vs 3-scan loop 0.62 s isolated, same rows; slice membership is
    # the same pmod; KMV folding is order-independent so in-file row
    # order is immaterial)
    import glob
    import os as _os
    import shutil

    part_dir = tempfile.mkdtemp(prefix="events_kmv_parts_")
    (ev.withColumn(
        "__slice",
        F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3)))
     .repartition(3, "__slice").write.mode("overwrite")
     .partitionBy("__slice").parquet(part_dir))
    for i in range(3):
        [pf] = glob.glob(
            _os.path.join(part_dir, f"__slice={i}", "part-*.parquet"))
        shutil.move(pf, _os.path.join(stream_dir, f"slice{i}.parquet"))
    # one Spark write made the three slices, so they share a footer schema
    schema = file_schema(spark, _os.path.join(stream_dir, "slice0.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    store = tempfile.mkdtemp(prefix="events_kmv_store_") + "/store"
    ckpt = tempfile.mkdtemp(prefix="events_kmv_ckpt_")
    se.kmv_windowed_store(stream, store, checkpoint=ckpt,
                          key="user_id", k=64, hash_mode="portable")
    sk = spark.read.parquet(store)
    est = kmv_estimate(sk, "window_start", k=64)
    prev = sk.select(
        F.date_format(
            F.to_timestamp(F.col("window_start"), "yyyy-MM-dd HH:mm:ss")
            + F.expr("INTERVAL 1 HOUR"),
            "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "hs")
    ops = kmv_set_ops(sk, prev, k=64).select(
        "window_start",
        F.col("union_est").alias("union_prev_est"),
        F.col("inter_est").alias("inter_prev_est"),
        F.col("jaccard_est").alias("jaccard_prev_est"))
    return est.join(ops, "window_start")


_CSTREAM_ARGS = dict(lox=0.0, hix=512.0, binsx=32,
                     loy=0.0, hiy=64.0, binsy=64)


def _corr_stream_oracle() -> str:
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist2d_sketch_weighted,
        sql_hist2d_weighted_corr_cov,
    )

    sk = sql_hist2d_sketch_weighted(
        f"STRFTIME(DATE_TRUNC('hour', ts), '{_FMT_DUCK}')",
        "value", "(user_id % 64)", "1.0", "events", **_CSTREAM_ARGS)
    inner = sql_hist2d_weighted_corr_cov(sk, **_CSTREAM_ARGS)
    return (f"SELECT grp AS window_start, "
            f"ROUND(wcorr, 6) + 0.0 AS wcorr, "
            f"ROUND(wcov, 6) + 0.0 AS wcov FROM ({inner})")


@register("events_stream_corr", oracle=_corr_stream_oracle())
def events_stream_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 2-D histogram sketch → LIVE per-hour correlation
    (``streaming/events.hist2d_windowed``): the bivariate member of
    the streaming sketch family — per-window (value, user-bucket)
    cells with state bounded at ≤ binsx·binsy rows per window
    regardless of event volume (micro-unit weight SUM per cell is a
    valid incremental streaming aggregate), drained cells finish
    through the batch ``hist2d_weighted_corr_cov`` moment tree, so a
    dashboard gets hour-by-hour corr/cov with grid-bounded error and
    no rescans. Cell sums are insertion-order-independent, so the
    drained state equals the batch 2-D sketch over the same rows —
    the DuckDB oracle replays sketch build AND the affine
    center-substitution finish bit-exactly (stream ≡ batch,
    value-proven through the estimator, the ``events_stream_hist``
    contract for the correlation member)."""
    tune(spark)
    from pandas_rust_algos_spark.operators.histsketch import (
        hist2d_weighted_corr_cov,
    )
    from pandas_rust_algos_spark.streaming import events as se

    stream = se.read_events_stream(spark, sf_dir).select(
        "ts", F.col("value").alias("x"),
        (F.col("user_id") % 64).cast("double").alias("y"))
    cells = se.run_available_now(
        se.hist2d_windowed(stream, "x", "y", **_CSTREAM_ARGS),
        table="events_stream_corr_out",
    )
    out = hist2d_weighted_corr_cov(
        cells, "window_start", **_CSTREAM_ARGS)
    return out.select(
        "window_start",
        (F.round("wcorr", 6) + F.lit(0.0)).alias("wcorr"),
        (F.round("wcov", 6) + F.lit(0.0)).alias("wcov"))
