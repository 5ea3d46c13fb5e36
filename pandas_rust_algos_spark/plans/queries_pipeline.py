"""Gate queries for pipeline-infrastructure operators (round 3):
data-quality expectations, end-to-end corpus curation, and gap-filled
time-series resampling.

These are the glue a 100 TB training-data pipeline runs *around* the
per-operator kernels: validate a batch before joining it, run the whole
quality→dedup→decontaminate curation as ONE composed lazy plan, and
regularize event streams onto a fixed time grid for feature windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from pandas_rust_algos_spark.operators import datasplit as ds
from pandas_rust_algos_spark.operators import decontam as dc
from pandas_rust_algos_spark.operators import dedup as dd
from pandas_rust_algos_spark.operators import scrub as sc
from pandas_rust_algos_spark.operators import text as tx
from pandas_rust_algos_spark.operators import validate as V
from pandas_rust_algos_spark.operators.datasplit import split_threshold_hex
from pandas_rust_algos_spark.plans.registry import dsum, register
from pandas_rust_algos_spark.session import run_concurrently, tune
from pandas_rust_algos_spark.sources import load_table, spread


@register(
    "expectations_report",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM lineitem),
    rows_out AS (
      SELECT 'not_null' AS rule, 'l_orderkey' AS target,
             (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
               AS violations, total FROM t
      UNION ALL
      SELECT 'in_range[1.0,25.0]', 'l_quantity',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_quantity NOT BETWEEN 1.0 AND 25.0), total FROM t
      UNION ALL
      SELECT 'in_set[A,N,R]', 'l_returnflag',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_returnflag IS NOT NULL
                AND l_returnflag NOT IN ('A','N','R')), total FROM t
      UNION ALL
      SELECT 'matches[[OF]]', 'l_linestatus',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_linestatus IS NOT NULL
                AND NOT regexp_matches(l_linestatus, '^(?:[OF])$')),
             total FROM t
      UNION ALL
      SELECT 'unique', 'l_orderkey,l_linenumber',
             (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
              FROM lineitem), total FROM t
      UNION ALL
      SELECT 'foreign_key', 'l_orderkey',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
             total FROM t
      UNION ALL
      SELECT 'fk_even_orders_only', 'l_orderkey',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
                (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)),
             total FROM t
    )
    SELECT rule, target, CAST(violations AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total, violations = 0 AS passed
    FROM rows_out
    """,
)
def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over lineitem, one folded-agg scan for
    the five row/uniqueness rules plus one broadcast anti-join per FK
    (``operators/validate.py`` — see its docstring for the 100 TB cost
    model). The second FK deliberately references a *halved* dim so the
    gate proves violation COUNTING, not just all-green booleans."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    half = orders.where(F.col("o_orderkey") % 2 == 0)
    return V.expectations_report(
        li,
        rules=[
            V.not_null("l_orderkey"),
            V.in_range("l_quantity", 1.0, 25.0),
            V.in_set("l_returnflag", ["A", "N", "R"]),
            V.matches("l_linestatus", "[OF]"),
        ],
        uniques=[V.unique("l_orderkey", "l_linenumber")],
        fks=[
            V.foreign_key("l_orderkey", orders, "o_orderkey"),
            V.foreign_key("l_orderkey", half, "o_orderkey",
                          name="fk_even_orders_only"),
        ],
    )


# ---------------------------------------------------- curation funnel

_MIX = {"en": 0.5, "de": 1.0, "fr": 0.25}
_MIX_DEFAULT = 0.05
_MIX_SALT = "curate"

# DuckDB twin of operators.dedup.normalize_text
_NORM_SQL = (
    "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[.,!?;:]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def _curate_oracle() -> str:
    from pandas_rust_algos_spark.plans.queries_scrub import _STOP_SQL

    sampled = ds.sql_stratified_sample(
        "d.lang", "d.doc_id", _MIX, default_frac=_MIX_DEFAULT,
        salt=_MIX_SALT)
    stage = (
        "SELECT '{name}' AS stage, COUNT(*) AS n_docs, "
        "CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_doc_id "
        "FROM f WHERE {cond}"
    )
    return f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    b AS (
      SELECT doc_id, lang, text,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                 x -> x <> '')) AS n_tokens,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS spaces,
             LENGTH(text) - LENGTH(REPLACE(text, '#', '')) AS hashes,
             LENGTH(text) - LENGTH(REPLACE(text, '…', '')) AS ellipses,
             CAST({_STOP_SQL} AS BIGINT) AS stop_hits
      FROM corpus
    ), q AS (
      SELECT doc_id, lang, text,
             (n_tokens BETWEEN 20 AND 100000
              AND n_tokens > 0
              AND CAST(n_chars - spaces AS DOUBLE) / n_tokens
                    BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
              AND CAST(hashes + ellipses AS DOUBLE) / n_tokens
                    < CAST(0.1 AS DOUBLE)
              AND stop_hits >= 2) AS keep
      FROM b
    ), d AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY MD5({_NORM_SQL}), keep ORDER BY doc_id) AS rn
      FROM q
    ), bench AS (
      SELECT DISTINCT UNNEST({tx.sql_token_ngrams('text', 5)}) AS bg
      FROM documents WHERE doc_id % 10 = 0
    ), cg AS (
      SELECT doc_id,
             {tx.sql_token_ngrams('text', 5)} AS grams
      FROM corpus
    ), ex AS (
      SELECT doc_id,
             UNNEST(CASE WHEN LEN(grams) = 0
                         THEN [CAST(NULL AS VARCHAR)] ELSE grams END) AS gram
      FROM cg
    ), hits AS (
      SELECT doc_id, COUNT(bg) AS n_hits
      FROM ex LEFT JOIN bench ON gram = bg
      GROUP BY doc_id
    ), f AS (
      SELECT d.doc_id, d.lang, d.keep, d.rn,
             (hits.n_hits >= 1) AS contaminated,
             ({sampled}) AS sampled
      FROM d JOIN hits ON d.doc_id = hits.doc_id
    )
    {stage.format(name='0_ingest', cond='TRUE')}
    UNION ALL {stage.format(name='1_quality', cond='keep')}
    UNION ALL {stage.format(name='2_exact_dedup', cond='keep AND rn = 1')}
    UNION ALL {stage.format(
        name='3_decontaminated',
        cond='keep AND rn = 1 AND NOT contaminated')}
    UNION ALL {stage.format(
        name='4_mix_sampled',
        cond='keep AND rn = 1 AND NOT contaminated AND sampled')}
    """


@register("curate_pipeline", oracle=_curate_oracle())
def curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE composed lazy plan: Gopher
    quality rules → exact dedup (canonical = smallest doc_id per
    normalized-content digest among quality survivors) → benchmark
    decontamination (every 10th doc stands in as the eval set) →
    stratified mixture sampling. Returns the funnel: per cumulative
    stage, surviving doc count and the exact-membership proof
    ``sum(doc_id)``.

    Scale shape — the reason this is one plan, not four jobs: every
    stage is a FLAG column, so the corpus is scanned ONCE and the
    funnel is a single folded aggregation over the flags (the naive
    form — filter, count, filter, count — re-executes the whole prefix
    per stage). Cost: one window shuffle on the 32-byte content digest
    (dedup), one doc_id-keyed join for contamination flags (the gram
    probe explodes corpus-side but the benchmark side broadcasts), and
    the sampling predicate is pure column algebra. Quality and
    sampling add zero shuffles.
    """
    tune(spark)
    docs = spread(load_table(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    q = sc.quality_filter(corpus)
    w = Window.partitionBy(
        F.md5(dd.normalize_text("text")), "keep").orderBy("doc_id")
    flagged = q.withColumn("__rn", F.row_number().over(w))
    rep = dc.decontaminate(corpus, bench, n=5, min_hits=1)
    flagged = flagged.join(
        rep.select("doc_id", "contaminated"), "doc_id")

    h = F.md5(F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.lit(_MIX_SALT)
    ).cast("binary"))
    thr = F.lit(split_threshold_hex(_MIX_DEFAULT))
    for lang, frac in _MIX.items():
        thr = F.when(F.col("lang") == lang,
                     F.lit(split_threshold_hex(frac))).otherwise(thr)
    sampled = h < thr

    stages = [
        ("0_ingest", F.lit(True)),
        ("1_quality", F.col("keep")),
        ("2_exact_dedup", F.col("keep") & (F.col("__rn") == 1)),
        ("3_decontaminated",
         F.col("keep") & (F.col("__rn") == 1) & ~F.col("contaminated")),
        ("4_mix_sampled",
         F.col("keep") & (F.col("__rn") == 1) & ~F.col("contaminated")
         & sampled),
    ]
    aggs = []
    for i, (_, cond) in enumerate(stages):
        aggs.append(F.sum(cond.cast("long")).alias(f"__n{i}"))
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("doc_id"))), F.lit(0))
            .alias(f"__s{i}")
        )
    one = flagged.agg(*aggs)
    entries = [
        F.struct(
            F.lit(name).alias("stage"),
            F.col(f"__n{i}").alias("n_docs"),
            F.col(f"__s{i}").alias("sum_doc_id"),
        )
        for i, (name, _) in enumerate(stages)
    ]
    return one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


# ------------------------------------------------- gap-filled resample


@register(
    "events_resample_5m",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS bucket,
             event_type, value
      FROM events
    ), bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
    grid AS (
      SELECT t.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM b) t
      CROSS JOIN (
        SELECT UNNEST(generate_series(lo, hi, INTERVAL 5 MINUTE)) AS bucket
        FROM bounds
      ) g
    ), agg AS (
      SELECT event_type, bucket, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
               AS s
      FROM b GROUP BY 1, 2
    ), j AS (
      SELECT g.event_type, g.bucket,
             COALESCE(a.n, 0) AS n_events,
             COALESCE(a.s, CAST(0 AS DOUBLE)) AS sum_value,
             CASE WHEN a.n > 0 THEN a.s / a.n END AS avg0
      FROM grid g LEFT JOIN agg a
        ON g.event_type = a.event_type AND g.bucket = a.bucket
    )
    SELECT event_type,
           STRFTIME(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(n_events AS BIGINT) AS n_events, sum_value,
           LAST_VALUE(avg0 IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS avg_ffill
    FROM j
    """,
)
def events_resample_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time-series resampling (pandas
    ``resample('5min').agg(...).ffill()``): every event type gets a row
    for EVERY 5-minute bucket between the table's global min and max
    bucket — empty buckets appear with ``n_events = 0`` and carry the
    last observed per-bucket mean forward (``last(ignorenulls)`` over
    an unbounded-preceding frame).

    Scale shape: the bucket aggregation is the only data-sized shuffle
    (map-side combined); the grid is built from a 1-row bounds agg
    cross-joined with the distinct type set (both metadata-sized, both
    broadcast), so densification never shuffles the fact table. The
    forward-fill window partitions by event_type — bounded state, one
    pass. Buckets come from ``F.window('5 minutes')`` whose epoch
    origin matches DuckDB's ``time_bucket`` (both origins are
    300-second-aligned), pinning identical bucket edges. The carried
    mean stays deliberately UNROUNDED: it is a division of two
    engine-identical values (fixed-point sum, exact count), and IEEE
    double division is bit-identical across engines while ROUND's
    half-way behavior is not (Java HALF_UP vs DuckDB on e.g.
    66.6149995 — the exact mismatch this gate first caught)."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.window("ts", "5 minutes").start.alias("bucket"),
        "event_type", "value",
    )
    agg = b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
         .cast("double") / F.lit(1e6)).alias("s"),
    )
    bounds = b.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    grid = (
        b.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(
                "lo", "hi", F.expr("INTERVAL 5 MINUTES"))).alias("bucket"),
        )
    )
    j = grid.join(agg, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.coalesce("s", F.lit(0.0)).alias("sum_value"),
        F.when(F.col("n") > 0, F.col("s") / F.col("n")).alias("avg0"),
    )
    w = (
        Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "n_events",
        "sum_value",
        F.last("avg0", ignorenulls=True).over(w).alias("avg_ffill"),
    )


# ------------------------------------------------------- UDTF face


def _pii_spans_oracle() -> str:
    from pandas_rust_algos_spark.plans.queries_scrub import _AUG_SQL

    arms = " UNION ALL ".join(
        f"SELECT doc_id, '{kind}' AS kind, "
        f"UNNEST(REGEXP_EXTRACT_ALL(t, '{pat}')) AS hit FROM aug"
        for kind, pat, _ in sc.PII_PATTERNS
    )
    return f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    {arms}
    """


@register("udtf_pii_spans", oracle=_pii_spans_oracle())
def udtf_pii_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF face (Spark 4): ``LATERAL pii_spans(text)``
    expands each document into one row per PII match
    (``operators/udtf_ops.py``). The gate hashes (doc_id, kind, hit) —
    the span OFFSETS the UDTF adds are verified by in-repo slice-back
    tests (tests/test_udtf.py), since no SQL oracle can produce match
    offsets. Deliberately the slow path: Arrow-batched but
    row-iterating Python — the expression twin (``pii_scrub``) is the
    100 TB path, and this gate exists to pin the escape hatch's
    semantics, not to race it."""
    from pandas_rust_algos_spark.operators.udtf_ops import register_udtfs
    from pandas_rust_algos_spark.plans.queries_scrub import _aug_col

    tune(spark)
    register_udtfs(spark)
    docs = spread(load_table(spark, sf_dir, "documents"))
    docs.select("doc_id", _aug_col().alias("t")) \
        .createOrReplaceTempView("pra_udtf_aug")
    return spark.sql(
        "SELECT d.doc_id, s.kind, s.hit "
        "FROM pra_udtf_aug d, LATERAL pii_spans(d.t) s"
    )


# ------------------------------------------------------ link analytics

_PR_EDGES_SQL = (
    "SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem "
    "UNION ALL "
    "SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM lineitem"
)


def _pagerank_oracle() -> str:
    from pandas_rust_algos_spark.operators.graph import sql_pagerank_fixed

    inner = sql_pagerank_fixed(_PR_EDGES_SQL, n_iter=5)
    return f"""
    SELECT (node - 1) // 2 AS supp_id, rank AS rank_micros
    FROM ({inner}) WHERE node % 2 = 1
    """


@register("pagerank_suppliers", oracle=_pagerank_oracle())
def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier centrality by PageRank over the bipartite
    part↔supplier co-occurrence graph (both edge directions, so rank
    flows). Fixed-point integer iteration (``operators/graph.py``)
    makes 5 power iterations BIT-IDENTICAL across partitionings and
    engines — which is why this iterative algorithm can have a full
    value-hash oracle (the DuckDB twin unrolls the same integer
    update) where float PageRank could only ever be rows-only."""
    from pandas_rust_algos_spark.operators.graph import pagerank_fixed

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    ranks = pagerank_fixed(edges, n_iter=5)
    return ranks.where(F.col("node") % 2 == 1).select(
        F.expr("(node - 1) div 2").alias("supp_id"),
        F.col("rank").alias("rank_micros"),
    )


@register(
    "graph_shortest_hops",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem
        UNION ALL
        SELECT l_suppkey * 2 + 1, l_partkey * 2 FROM lineitem)
    ), bfs(node, hops) AS (
      SELECT CAST(3 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
      UNION
      SELECT e.dst, bfs.hops + 1
      FROM bfs, e WHERE e.src = bfs.node AND bfs.hops < 4
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM bfs GROUP BY node
    """,
)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (``operators/graph.shortest_hops``) over the
    part↔supplier bipartite graph from supplier 1 (node 3): min hops
    to every node within 4 waves. BFS's first-visit distance equals
    the recursive-CTE MIN(hops) closure, so an iterative distributed
    frontier algorithm gets a full value-hash oracle. Frontier joins
    reuse one edge partitioning; the visited set is anti-joined per
    wave — never re-expanded."""
    from pandas_rust_algos_spark.operators.graph import shortest_hops

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    seeds = spark.range(1).select((F.lit(3)).cast("long").alias("node"))
    return shortest_hops(edges, seeds, max_hops=4)


_COORDER_EDGES_SQL = """
    SELECT x.l_partkey AS src, y.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) x
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
"""


@register(
    "triangle_count",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.graph",
        fromlist=["sql_triangle_counts"],
    ).sql_triangle_counts(_COORDER_EDGES_SQL),
)
def triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts (``operators/graph.triangle_counts``)
    over the part co-order (basket) graph — local clustering density,
    the product-affinity analogue of link-farm detection. The Spark
    side enumerates triangles by degree-ordered adjacency-array
    INTERSECTION (orient each edge low→high under the (degree, node)
    total order — a DAG with O(sqrt(m)) out-degrees — then per edge
    ``u→v`` count ``|N+(u) ∩ N+(v)|`` via ``array_intersect`` over
    collected out-lists; no wedge materialization, no iteration, no
    collect). The co-order edge list itself is built the
    ``basket_pairs`` way — per-order sorted item array, ordered pairs
    by nested ``transform``/``slice`` (ONE shuffle, cost ∝ Σ basket²)
    — not a DISTINCT×DISTINCT self-join. The DuckDB oracle counts the
    SAME triangle set with a plain 3-way join over the canonical
    ``a < b`` edge list — orientation and array algebra are provably
    execution strategy, not a semantics change."""
    from pandas_rust_algos_spark.operators.graph import triangle_counts

    tune(spark)
    arr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("a"))
    )
    edges = arr.select(
        F.explode(
            F.flatten(F.transform(
                "a",
                lambda x, i: F.transform(
                    F.slice(F.col("a"), i + 2, F.size("a")),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            ))
        ).alias("p")
    ).select("p.*")
    return triangle_counts(edges)


@register(
    "bloom_join_revenue",
    oracle=f"""
    SELECT s.s_suppkey,
           COUNT(*) AS n_items,
           {dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_acctbal > 9000
    GROUP BY s.s_suppkey
    """,
)
def bloom_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction, result-proven: lineitem joined to the
    high-balance supplier sliver through a Bloom prefilter
    (``operators/bloomjoin.py`` — the fact side drops provably-
    unmatchable rows BEFORE the shuffle; the exact join then removes
    false positives), aggregated to per-supplier revenue. The oracle
    is the PLAIN join: matching hashes prove the bloom moved work
    without changing one row — the defining property of a semi-join
    reducer."""
    from pandas_rust_algos_spark.functions import fixed_sum
    from pandas_rust_algos_spark.operators.bloomjoin import (
        bloom_prefilter_join,
    )

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    sup = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") > 9000
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    joined = bloom_prefilter_join(li, sup, "l_suppkey")
    return joined.groupBy(
        F.col("l_suppkey").alias("s_suppkey")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_sum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "interval_merge",
    oracle="""
    WITH iv AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 30 + 1 AS INT) AS e
      FROM orders
    ), g AS (
      SELECT o_custkey, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR s > MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ), isl AS (
      SELECT o_custkey, s, e,
             CAST(SUM(is_new) OVER (PARTITION BY o_custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM g
    )
    SELECT o_custkey,
           STRFTIME(MIN(s), '%Y-%m-%d') AS span_start,
           STRFTIME(MAX(e), '%Y-%m-%d') AS span_end,
           COUNT(*) AS n_intervals
    FROM isl GROUP BY o_custkey, island
    """,
)
def interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (``operators/intervals.merge_intervals``): each
    order becomes a validity range ``[orderdate, orderdate + 1..30
    days]`` (deterministic synthetic length) and overlapping/touching
    ranges per customer consolidate into disjoint spans — the
    running-max islands trick, one key shuffle, no self-join. The
    oracle replays the identical window algebra; dates emit as strings
    (equal DATE values surface different pandas dtypes across
    engines)."""
    from pandas_rust_algos_spark.operators.intervals import merge_intervals

    tune(spark)
    od = load_table(spark, sf_dir, "orders")
    iv = od.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"),
                   (F.col("o_orderkey") % 30 + 1).cast("int")).alias("e"),
    )
    out = merge_intervals(iv, ["o_custkey"], "s", "e")
    return out.select(
        "o_custkey",
        F.date_format("span_start", "yyyy-MM-dd").alias("span_start"),
        F.date_format("span_end", "yyyy-MM-dd").alias("span_end"),
        "n_intervals",
    )


# -------------------------------------------------- SCD2 temporal join

_SCD2_DIM_SQL = """
      SELECT c_custkey, c_mktsegment,
             DATE '1997-01-01' + CAST(c_custkey % 730 AS INT) AS split
      FROM customer
"""


@register(
    "scd2_join",
    oracle=f"""
    WITH s AS ({_SCD2_DIM_SQL}),
    dim AS (
      SELECT c_custkey AS custkey, c_mktsegment AS seg,
             DATE '1995-01-01' AS valid_from, split AS valid_to FROM s
      UNION ALL
      SELECT c_custkey, c_mktsegment || '-V2', split, DATE '2002-01-01'
      FROM s
    )
    SELECT seg AS segment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1e6) AS BIGINT)) AS DOUBLE)
             / 1e6 AS sum_total
    FROM orders JOIN dim ON o_custkey = custkey
      AND o_orderdate >= valid_from AND o_orderdate < valid_to
    GROUP BY 1
    """,
)
def scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) join: each customer's
    market segment has two validity eras (split date is a pure
    function of the key, so the dim is deterministic), and every order
    joins to the era covering its order date — the standard
    point-in-time dimension lookup of a warehouse.

    Scale shape: temporal-validity joins have no equi-key on the date,
    so this rides ``operators/range_join.py``'s bucket banding
    (interval rows explode into ~era/365d buckets, points bucket once,
    equi-join on (custkey, bucket), exact predicate re-checked) —
    never the broadcast-nested-loop a naive BETWEEN join degenerates
    to. Row-count conservation (every order hits exactly one era) is
    implied by the oracle's row hash."""
    from pandas_rust_algos_spark.operators.range_join import range_join

    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    split = F.date_add(F.to_date(F.lit("1997-01-01")),
                       (F.col("c_custkey") % 730).cast("int"))
    base = cust.select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment"), split.alias("split"),
    )
    dim = base.select(
        "o_custkey",
        F.explode(F.array(
            F.struct(
                F.to_date(F.lit("1995-01-01")).alias("valid_from"),
                F.col("split").alias("valid_to"),
                F.col("c_mktsegment").alias("segment"),
            ),
            F.struct(
                F.col("split").alias("valid_from"),
                F.to_date(F.lit("2002-01-01")).alias("valid_to"),
                F.concat(F.col("c_mktsegment"), F.lit("-V2"))
                .alias("segment"),
            ),
        )).alias("e"),
    ).select("o_custkey", "e.*")
    orders = load_table(spark, sf_dir, "orders")
    joined = range_join(
        orders, "o_orderdate", dim, "valid_from", "valid_to",
        bucket_seconds=86_400 * 365, extra_keys=["o_custkey"],
    )
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.floor(F.col("o_totalprice") * F.lit(1e6)).cast("long"))
         .cast("double") / F.lit(1e6)).alias("sum_total"),
    )


# ------------------------------------------------- anomaly detection

_HOUR_US = 3_600_000_000


@register(
    "events_anomaly",
    oracle=f"""
    WITH w AS (
      SELECT event_type, value,
             SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) OVER win AS s1,
             SUM(CAST(FLOOR(value * value * 1e6) AS BIGINT)) OVER win AS s2,
             COUNT(*) OVER win AS n
      FROM events
      WINDOW win AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                     RANGE BETWEEN {_HOUR_US - 1} PRECEDING
                           AND CURRENT ROW)
    ), f AS (
      SELECT event_type, value, n,
             (CAST(s1 AS DOUBLE) / 1e6) / n AS mean,
             (CAST(s2 AS DOUBLE) / 1e6) / n AS ex2
      FROM w
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN n >= 30 AND (value - mean) * (value - mean)
                              > 9 * (ex2 - mean * mean)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM f GROUP BY 1
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: an event is anomalous when
    its value sits more than 3σ from the trailing-1h mean of its type
    (computed over the half-open RANGE frame ``(t-1h, t]`` on
    epoch-µs, ≥30 observations required). One shuffle (the window
    partition); sums inside the frame are fixed-point micro-units so
    mean/variance derive from engine-identical integers, and every
    subsequent double op is scalar per row — bit-identical across
    engines without any rounding."""
    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts"))
    win = (
        Window.partitionBy("event_type").orderBy(t)
        .rangeBetween(-(_HOUR_US - 1), 0)
    )
    w = ev.select(
        "event_type", "value",
        F.sum(F.floor(F.col("value") * F.lit(1e6)).cast("long"))
        .over(win).alias("s1"),
        F.sum(F.floor(F.col("value") * F.col("value") * F.lit(1e6))
              .cast("long")).over(win).alias("s2"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    f = w.select(
        "event_type", "value", "n",
        ((F.col("s1").cast("double") / F.lit(1e6)) / F.col("n"))
        .alias("mean"),
        ((F.col("s2").cast("double") / F.lit(1e6)) / F.col("n"))
        .alias("ex2"),
    )
    dev2 = (F.col("value") - F.col("mean")) * (F.col("value") - F.col("mean"))
    var = F.col("ex2") - F.col("mean") * F.col("mean")
    flagged = (F.col("n") >= 30) & (dev2 > F.lit(9) * var)
    return f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("long")
        .alias("n_anomalies"),
    )


# ------------------------------------------------------ market basket


@register(
    "basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), n AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM items),
    cnt AS (SELECT p, COUNT(*) AS c FROM items GROUP BY p),
    pairs AS (
      SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_ab
      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    )
    SELECT pa, pb, n_ab, ca.c AS n_a, cb.c AS n_b,
           CAST(n_ab * n_baskets AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN cnt ca ON pa = ca.p
    JOIN cnt cb ON pb = cb.p
    CROSS JOIN n
    WHERE n_ab >= 3
    """,
)
def basket_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining's co-occurrence pass: part pairs ordered
    together in ≥3 orders, with lift (``operators/frequency.py:
    basket_pairs`` — array-algebra pair generation bounded by basket
    size; the oracle's naive self-join is exactly the plan the
    operator exists to avoid at scale)."""
    from pandas_rust_algos_spark.operators.frequency import basket_pairs

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return basket_pairs(li, "l_orderkey", "l_partkey", min_pairs=3)


# ---------------------------------------------------- drift monitoring

_DRIFT_SPLIT = "1998-01-01"


@register(
    "drift_report",
    oracle=f"""
    WITH b AS (
      SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
      FROM lineitem WHERE l_shipdate < TIMESTAMP '{_DRIFT_SPLIT}'
    ), tagged AS (
      SELECT GREATEST(0, LEAST(9, CAST(FLOOR(
               (CAST(l_extendedprice AS DOUBLE) - lo)
               / ((hi - lo) / CAST(10.0 AS DOUBLE))) AS BIGINT)))
               AS bucket,
             CASE WHEN l_shipdate < TIMESTAMP '{_DRIFT_SPLIT}'
                  THEN 1 ELSE 0 END AS r,
             CASE WHEN l_shipdate >= TIMESTAMP '{_DRIFT_SPLIT}'
                  THEN 1 ELSE 0 END AS c
      FROM lineitem CROSS JOIN b
      WHERE l_extendedprice IS NOT NULL
    ), counts AS (
      SELECT bucket, SUM(r) AS n_ref, SUM(c) AS n_cur
      FROM tagged GROUP BY bucket
    ), grid AS (SELECT UNNEST(range(0, 10)) AS bucket),
    filled AS (
      SELECT g.bucket,
             CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
             CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
      FROM grid g LEFT JOIN counts USING (bucket)
    ), t AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM filled)
    SELECT bucket, n_ref, n_cur,
           CASE WHEN t_ref > 0
                THEN CAST(n_ref AS DOUBLE) / t_ref END AS rate_ref,
           CASE WHEN t_cur > 0
                THEN CAST(n_cur AS DOUBLE) / t_cur END AS rate_cur
    FROM filled CROSS JOIN t
    """,
)
def drift_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift of l_extendedprice between pre- and
    post-1998 shipments (``operators/drift.py``): the reference side
    defines 10 equal-width bins; both sides histogram into them (edge
    bins absorb out-of-support mass). Two scans + 10-row shuffles —
    the monitoring query a pipeline runs before promoting a batch."""
    from pandas_rust_algos_spark.operators.drift import drift_report

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    return drift_report(
        li.where(F.col("l_shipdate") < split),
        li.where(F.col("l_shipdate") >= split),
        "l_extendedprice",
        n_buckets=10,
    )


# ---------------------------------------------- window-function surface


@register(
    "window_rank_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROW_NUMBER() OVER w AS rn,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining SQL ranking-window surface in one pass:
    row_number / ntile / percent_rank / cume_dist over a TOTAL order
    (price with key tiebreaks — a non-unique ordering would make
    row_number and ntile partition-order-dependent). percent_rank and
    cume_dist are BIGINT/BIGINT divisions — engine-identical. One
    shuffle (the window partition)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber")
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "window_frames",
    oracle="""
    WITH b AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
             END AS maybe
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_returnflag,
           FIRST_VALUE(cents) OVER (PARTITION BY l_returnflag
             ORDER BY cents, l_orderkey, l_linenumber
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fv2,
           NTH_VALUE(cents, 2) OVER (PARTITION BY l_returnflag
             ORDER BY cents, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2,
           LAG(cents, 2, -1) OVER (PARTITION BY l_returnflag
             ORDER BY cents, l_orderkey, l_linenumber) AS lag2,
           LAST_VALUE(maybe IGNORE NULLS) OVER (PARTITION BY l_returnflag
             ORDER BY cents, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn,
           CAST(SUM(cents) OVER (PARTITION BY l_returnflag ORDER BY cents
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS range_sum,
           CAST(COUNT(*) OVER (PARTITION BY l_returnflag ORDER BY cents
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS range_n
    FROM b
    """,
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRAME surface of window functions, one pass each per
    partitioning: bounded ROWS frames (first_value over 2-preceding),
    nth_value over the growing frame, lag with an explicit default,
    last_value IGNORE NULLS (the gap-tolerant forward-fill primitive),
    and numeric RANGE frames (sum/count over a 100.00-wide sliding
    value band — peers enter together, so the frame is tie-safe).
    Everything computes on integer cents (fixed-point), so sums and
    frames are engine-exact; the ROWS windows share one sort-exchange
    and the RANGE windows a second (ORDER BY must be bare numeric for
    a value range)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    b = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        cents.alias("cents"),
        F.when(F.col("l_linenumber") % 3 == 0, F.lit(None))
        .otherwise(cents).alias("maybe"),
    )
    wrows = Window.partitionBy("l_returnflag").orderBy(
        "cents", "l_orderkey", "l_linenumber")
    grow = wrows.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wrange = Window.partitionBy("l_returnflag").orderBy("cents") \
        .rangeBetween(-10000, 0)
    return b.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.first("cents").over(wrows.rowsBetween(-2, 0)).alias("fv2"),
        F.nth_value("cents", 2).over(grow).alias("nth2"),
        F.lag("cents", 2, -1).over(wrows).alias("lag2"),
        F.last("maybe", ignorenulls=True).over(grow).alias("last_nn"),
        F.sum("cents").over(wrange).alias("range_sum"),
        F.count(F.lit(1)).over(wrange).alias("range_n"),
    )


# ------------------------------------------------------- grouping sets

_GSETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 1e6) AS BIGINT))
                AS DOUBLE) / 1e6 AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
"""


@register("grouping_sets_revenue", oracle=_GSETS_SQL)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube compile
    to) with GROUPING() flags disambiguating real NULL keys from
    subtotal rows — ONE aggregation pass produces all three
    granularities (Spark expands sets map-side; no multi-scan union).
    The oracle is the IDENTICAL SQL text run by DuckDB — the gate pins
    that the engine's SQL face speaks the standard dialect."""
    from pandas_rust_algos_spark.sources import sql as run_sql

    tune(spark)
    return run_sql(spark, sf_dir, _GSETS_SQL)


# ------------------------------------------------------ changepoints


@register(
    "events_cusum",
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
    ), s AS (
      -- CAST: DuckDB window SUM(BIGINT) yields HUGEINT, which pandas
      -- would surface as float64 and break the bit-level hash compare
      SELECT event_type,
             CAST(prefix - LEAST(CAST(0 AS BIGINT),
               MIN(prefix) OVER (PARTITION BY event_type
                                 ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)) AS BIGINT) AS cusum
      FROM p
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN cusum > 100000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           MAX(cusum) AS max_cusum
    FROM s GROUP BY 1
    """,
)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type (target 50, slack 5,
    alarm threshold 100 in value units): the sequential recursion is
    eliminated by the prefix-minus-running-min identity
    (``operators/changepoint.py``), so an inherently stateful control
    chart runs as two stacked window projections — one shuffle, exact
    BIGINT arithmetic, full value-hash oracle. Ordered by event_id
    (total order; a ts order with ties would be partition-
    dependent)."""
    from pandas_rust_algos_spark.operators.changepoint import cusum

    tune(spark)
    ev = load_table(spark, sf_dir, "events")
    out = cusum(
        ev.select("event_type", "event_id", "value"),
        "value",
        group_cols=["event_type"], order_cols=["event_id"],
        target=50.0, slack=5.0, threshold=100.0,
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("alarm").cast("long")).alias("n_alarms"),
        F.max("cusum_micros").alias("max_cusum"),
    )


# --------------------------------------------------- training export


@register(
    "webdataset_export",
    oracle=f"""
    SELECT {sc.sql_shard_assign('doc_id', n_shards=8, salt='gate')}
             AS shard,
           COUNT(*) AS n_samples
    FROM documents GROUP BY shard
    """,
)
def webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar-shard (WebDataset-layout) export of the documents table
    (``sources/webdataset.py``): deterministic salted-md5 shard
    membership, byte-reproducible tars (zeroed tar metadata, key-sorted
    members — re-runs produce identical SHA-256s, tested in
    tests/test_webdataset.py). The gate hash-checks the manifest's
    (shard, n_samples) against the shard-assignment oracle — proving
    the exported membership — while byte/sha determinism is pinned
    in-repo (no SQL twin can compute a tar hash)."""
    import tempfile

    from pandas_rust_algos_spark.sources.webdataset import write_webdataset

    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tempfile.mkdtemp(prefix="wds_gate_")
    mani = write_webdataset(
        docs, out, key_col="doc_id", text_cols=["text"],
        n_shards=8, salt="gate",
    )
    return mani.select("shard", "n_samples")


# ------------------------------------------- lakehouse merge-on-read


@register(
    "delete_mor_read",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(p_size) AS BIGINT) AS sum_size,
           CAST(SUM(p_partkey) AS BIGINT) AS sum_key
    FROM part
    WHERE NOT (p_size % 7 = 0 AND p_brand LIKE 'Brand#3%')
    GROUP BY p_brand
    """,
)
def delete_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end merge-on-read deletion vectors
    (``sources/table_format.py:delete_mor`` +
    ``sources/vtable_source.py``): the part table is committed to a
    versioned table, a sliver is tombstoned with a METADATA-ONLY
    delete (zero data files rewritten — the 100 TB GDPR-erasure
    path), and the result is read back through the ``vtable``
    DataSource, which applies the vector per row group during the
    scan. The oracle recomputes the survivors straight from the
    source parquet (``WHERE NOT pred``); ``sum_key`` makes the hash
    sensitive to exact row membership, so a vector that dropped the
    wrong rows — or none — cannot pass. Metadata-only-ness itself is
    pinned in tests/test_table_format.py (commit has no add/remove)."""
    import tempfile

    from pandas_rust_algos_spark.sources.table_format import VersionedTable
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    tune(spark)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    path = tempfile.mkdtemp(prefix="mor_gate_")
    tbl = VersionedTable(spark, path, key_cols=["p_partkey"])
    tbl.create(part.repartition(4))
    tbl.delete_mor("p_size % 7 = 0 AND p_brand LIKE 'Brand#3%'")
    register_vtable_source(spark)
    survivors = spark.read.format("vtable").load(path)
    return survivors.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").alias("sum_size"),
        F.sum("p_partkey").alias("sum_key"),
    )


@register(
    "skew_join_salted",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-spread equi-join, result-proven: lineitem ⋈ orders runs
    through ``operators/skew_handling.salted_join`` (probe side salted
    deterministically, build side replicated 8×, join keyed on
    key+salt so a whale orderkey spreads over 8 reducers), then
    aggregates revenue per order priority. The oracle is the PLAIN
    join: a hash match proves salting moved work without changing one
    row — the defining property of a skew mitigation. Reference: no
    join surface exists (SURVEY §2.3); this pins the 100 TB skew
    playbook's third leg (broadcast < AQE skew-split < explicit salt)
    as an operator."""
    from pandas_rust_algos_spark.functions import fixed_sum
    from pandas_rust_algos_spark.operators.skew_handling import salted_join

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        fixed_sum(F.col("l_extendedprice")
                  * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "bucketed_join_revenue",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(l.rev_micro) AS DOUBLE) / 1e6 AS revenue
    FROM (
      SELECT l_orderkey,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1e6)
                 AS BIGINT)) AS rev_micro
      FROM lineitem GROUP BY l_orderkey
    ) l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join + on-key aggregation
    (``sources/bucketing.py``), result-proven: lineitem and orders are
    written bucketed+sorted on the order key, the per-order revenue
    pre-aggregation runs WITHOUT an exchange (bucket layout already
    hash-partitions by the grouping key), the fact-fact SortMergeJoin
    runs WITHOUT an exchange on either side (matching output
    partitionings), and the only shuffle left is the aggregate-sized
    rollup to order status — the layout, not the optimizer, paid for
    the join. Shuffle-freedom itself is plan-asserted in
    tests/test_bucketing.py; the oracle here proves the co-located
    plan changes no row. Broadcast is disabled for the query so the
    co-located SMJ path (the one that matters when BOTH sides are
    fact-sized at 100 TB) is the path actually exercised."""
    from pandas_rust_algos_spark.sources.bucketing import (
        read_bucketed,
        write_bucketed,
    )

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    # the two bucketed landings are independent (distinct tables, no
    # shared input lineage beyond the parquet scans) — submit them
    # concurrently so the small orders write back-fills the executors
    # the lineitem write's task tail frees (guide §2.6, the
    # formats_roundtrip recipe)
    run_concurrently(
        lambda: write_bucketed(li, "gate_bkt_lineitem", "l_orderkey",
                               num_buckets=8),
        lambda: write_bucketed(orders, "gate_bkt_orders", "o_orderkey",
                               num_buckets=8),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bl = read_bucketed(spark, "gate_bkt_lineitem")
        bo = read_bucketed(spark, "gate_bkt_orders")
        per_order = bl.groupBy("l_orderkey").agg(
            F.sum(
                F.floor(F.col("l_extendedprice")
                        * (1 - F.col("l_discount")) * 1e6).cast("long")
            ).alias("rev_micro")
        )
        joined = per_order.join(
            bo, per_order["l_orderkey"] == bo["o_orderkey"])
        out = joined.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("rev_micro").cast("double") / 1e6).alias("revenue"),
        )
        # materialize within the no-broadcast window: the plan is
        # finalized lazily, so restore the conf only after the driver
        # would have consumed it — return a cached-shape DataFrame
        checkpointed = out.localCheckpoint(eager=True)
        # the checkpoint hides the zero-exchange SMJ behind a `Scan
        # ExistingRDD`; record the executed pre-checkpoint plan so the
        # snapshot tool can show the structure this gate exists to prove
        from pandas_rust_algos_spark.plans.registry import (
            record_plan_probe,
        )
        record_plan_probe("bucketed_join_revenue", out)
        out = checkpointed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


@register(
    "update_mor_read",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN p_size % 5 = 0 AND p_brand LIKE 'Brand#1%'
                         THEN p_size + 100 ELSE p_size END) AS BIGINT)
             AS sum_size,
           CAST(SUM(p_partkey) AS BIGINT) AS sum_key
    FROM part
    GROUP BY p_brand
    """,
)
def update_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end merge-on-read UPDATE
    (``sources/table_format.py:update_mor`` +
    ``sources/vtable_source.py``): the part table is committed to a
    versioned table, a sliver is updated by tombstoning the OLD row
    versions in a deletion vector and appending the updated copies in
    ONE atomic commit — no existing data file rewritten (the Delta
    deletion-vector UPDATE path; commit cost O(matches), the 100 TB
    point-update tool) — and the result is read back through the
    ``vtable`` DataSource, which applies the vector per row group
    during the scan. The oracle recomputes the post-update state
    straight from the source parquet via CASE; ``sum_key`` keeps the
    hash sensitive to exact row membership, so a vector that dropped
    the wrong rows, duplicated an update, or missed one cannot
    pass."""
    import tempfile

    from pandas_rust_algos_spark.sources.table_format import VersionedTable
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    tune(spark)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    path = tempfile.mkdtemp(prefix="morupd_gate_")
    tbl = VersionedTable(spark, path, key_cols=["p_partkey"])
    tbl.create(part.repartition(4))
    tbl.update_mor("p_size % 5 = 0 AND p_brand LIKE 'Brand#1%'",
                   {"p_size": "p_size + 100"})
    register_vtable_source(spark)
    rows = spark.read.format("vtable").load(path)
    return rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").alias("sum_size"),
        F.sum("p_partkey").alias("sum_key"),
    )


@register(
    "table_cdf_read",
    oracle="""
    SELECT p_partkey, 'changed' AS status,
           CAST(p_size AS BIGINT) AS old_p_size,
           CAST(p_size + 100 AS BIGINT) AS new_p_size
    FROM part WHERE p_size % 5 = 0 AND p_brand LIKE 'Brand#2%'
    UNION ALL
    SELECT p_partkey, 'removed',
           CAST(p_size AS BIGINT), CAST(NULL AS BIGINT)
    FROM part WHERE p_size % 7 = 0 AND p_brand LIKE 'Brand#4%'
    """,
)
def table_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed across a mixed MoR history
    (``sources/table_format.py:changes``): the part table is
    committed (v0), a sliver is UPDATEd merge-on-read (v1 — deletion
    vector + appended copies, no file rewritten), a disjoint sliver is
    DELETEd merge-on-read (v2 — metadata-only), and ``changes(0, 2)``
    must report exactly the changed rows with old/new values and the
    removed rows with NULL new values — one full-outer hash join of
    the two pinned snapshots, unchanged rows filtered executor-side.
    The oracle recomputes the expected feed straight from the source
    parquet (the two predicates target disjoint brands, so the
    expected CDF is a closed-form CASE-free union). Downstream this
    feed is what drives the incremental materialized views
    (`matview_incremental`) — here the feed itself is value-proven."""
    import tempfile

    from pandas_rust_algos_spark.sources.table_format import VersionedTable

    tune(spark)
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    path = tempfile.mkdtemp(prefix="cdf_gate_")
    tbl = VersionedTable(spark, path, key_cols=["p_partkey"])
    tbl.create(part.repartition(4))
    tbl.update_mor("p_size % 5 = 0 AND p_brand LIKE 'Brand#2%'",
                   {"p_size": "p_size + 100"})
    tbl.delete_mor("p_size % 7 = 0 AND p_brand LIKE 'Brand#4%'")
    feed = tbl.changes(0, 2)
    return feed.select(
        "p_partkey", "status",
        F.col("old_p_size").cast("long").alias("old_p_size"),
        F.col("new_p_size").cast("long").alias("new_p_size"),
    )


@register(
    "merge_upsert_read",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, MONTH(o_orderdate) AS m, o_totalprice FROM orders
    ),
    tgt AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
    ins AS (SELECT * FROM base
            WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0),
    upd AS (SELECT o_orderkey, m, o_totalprice + 1000 AS o_totalprice
            FROM base WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0),
    del AS (SELECT o_orderkey FROM base
            WHERE o_orderkey % 3 = 2 AND o_orderkey % 5 = 0),
    bkeys AS (
      SELECT o_orderkey FROM ins
      UNION ALL SELECT o_orderkey FROM upd
      UNION ALL SELECT o_orderkey FROM del
    ),
    final AS (
      SELECT * FROM tgt
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM bkeys)
      UNION ALL SELECT * FROM ins
      UNION ALL SELECT * FROM upd
    )
    SELECT CAST(m AS BIGINT) AS m,
           COUNT(*) AS n_rows,
           {dsum("o_totalprice")} AS sum_price,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM final GROUP BY m
    """,
)
def merge_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned MERGE INTO over plain parquet
    (``sources/merge.py:merge_into_partitioned``), result-proven: a
    month-partitioned orders table is bootstrapped from a key subset,
    then ONE batch inserts new keys, updates existing prices, and
    tombstone-deletes others (boolean delete_col); only the partitions
    present in the batch are read or rewritten (mtime-pruning of
    untouched partitions is pinned in tests/test_sinks.py — here the
    RESULT is pinned). The oracle computes the declarative final state
    (target − batch keys ∪ inserts ∪ updates) straight from the source
    parquet; sum_key makes the hash sensitive to exact row membership,
    so a lost delete, doubled upsert, or dropped untouched partition
    cannot pass."""
    import tempfile

    from pandas_rust_algos_spark.sources.merge import merge_into_partitioned

    tune(spark)
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.month("o_orderdate").alias("m"),
        "o_totalprice",
    )
    path = tempfile.mkdtemp(prefix="merge_gate_") + "/tbl"
    k = F.col("o_orderkey")
    merge_into_partitioned(
        spark, path, base.where(k % 3 != 0),
        key_cols=["o_orderkey"], partition_col="m")
    # the merge consumes the batch three times (touched-partition
    # collect, distinct-key broadcast build, upsert union into the
    # rewrite) — persist it so the 3-branch union scan of orders runs
    # once instead of per consumer (guide §5; within-invocation cache)
    batch = (
        base.where((k % 3 == 0) & (k % 2 == 0))
        .withColumn("__del", F.lit(False))
        .unionByName(
            base.where((k % 3 == 1) & (k % 5 == 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .withColumn("__del", F.lit(False)))
        .unionByName(
            base.where((k % 3 == 2) & (k % 5 == 0))
            .withColumn("__del", F.lit(True)))
    ).persist()
    try:
        merge_into_partitioned(
            spark, path, batch,
            key_cols=["o_orderkey"], partition_col="m", delete_col="__del")
    finally:
        # the merge's writes materialized every consumer of the batch;
        # the returned frame reads the written parquet, so nothing
        # references the cache past this point
        batch.unpersist(blocking=False)
    from pandas_rust_algos_spark.functions import fixed_sum

    final = spark.read.parquet(path)
    return final.groupBy(F.col("m").cast("long").alias("m")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        fixed_sum(F.col("o_totalprice")).alias("sum_price"),
        F.sum("o_orderkey").alias("sum_key"),
    )


@register(
    "jsonl_quarantine_read",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '__quarantined__' AS lang, CAST(4 AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS sum_chars
    """,
)
def jsonl_quarantine_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL landing with MALFORMED-LINE QUARANTINE
    (``sources/formats.land_with_quarantine``): the documents table is
    exported to JSON-lines, four deterministic bad lines are planted
    (truncated JSON, non-JSON text, a bare array, and a VALID JSON
    line whose doc_id fails bigint coercion — the PERMISSIVE
    type-failure case), and the landing pass parses the text ONCE into
    parquet carrying the corrupt column. Clean rows re-aggregate to
    the exact source per-language profile (round-trip + quarantine
    completeness in one hash: a swallowed bad line would change the
    quarantine count, a mis-parsed clean line would change a
    lang/sum bucket); quarantined rows surface as an audit row. Scale
    shape: one sequential text scan, parquet out, clean/quarantine
    reads are row-group-pruned parquet filters — DROPMALFORMED
    (silent deletion), caching a corpus-sized text scan, and the
    Databricks-only badRecordsPath are all documented non-answers."""
    import os
    import tempfile

    from pandas_rust_algos_spark.sources.formats import (
        land_with_quarantine,
        write_sink,
    )

    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="jsonl_gate_")
    drop = os.path.join(root, "drop")
    write_sink(docs, drop, "json", mode="overwrite")
    bad = "\n".join([
        '{"doc_id": 900001, "lang": "xx"',          # truncated object
        "this line is not json at all",              # not JSON
        "[1, 2, 3]",                                 # bare array row
        '{"doc_id": "not-a-number", "lang": "yy", "n_chars": 5}',
    ])
    with open(os.path.join(drop, "part-99999-bad.json"), "w") as fh:
        fh.write(bad + "\n")
    clean, quarantined = land_with_quarantine(
        spark, drop, "json", "doc_id bigint, lang string, n_chars bigint",
        os.path.join(root, "landed"))
    agg = clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    qrow = quarantined.agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.lit("__quarantined__").alias("lang"), "n_docs",
        F.lit(None).cast("long").alias("sum_chars"),
    )
    return agg.unionByName(qrow)


@register(
    "docs_stream_quarantine_land",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT '__quarantined__' AS lang, CAST(4 AS BIGINT) AS n_docs,
           CAST(NULL AS BIGINT) AS sum_chars
    """,
)
def docs_stream_quarantine_land(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Quarantine landing AT INGEST — the streaming twin of
    ``jsonl_quarantine_read`` and the third member of the
    screen-at-ingest family (bloom screen, signature-store ingest):
    the landing directory is watched as a stream
    (``sources/formats.stream_land_with_quarantine``), each
    micro-batch parses its files ONCE in PERMISSIVE mode and lands to
    ``batch_id=<id>`` parquet via dynamic partition overwrite
    (replay-idempotent). The drained landing re-aggregates to the
    SAME oracle as the batch gate, pinning stream ≡ batch ≡ DuckDB in
    one hash — including the planted-bad-line quarantine count."""
    import os
    import tempfile

    from pandas_rust_algos_spark.sources.formats import (
        stream_land_with_quarantine,
        write_sink,
    )

    tune(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="jsonl_stream_gate_")
    drop = os.path.join(root, "drop")
    write_sink(docs, drop, "json", mode="overwrite")
    bad = "\n".join([
        '{"doc_id": 900001, "lang": "xx"',
        "this line is not json at all",
        "[1, 2, 3]",
        '{"doc_id": "not-a-number", "lang": "yy", "n_chars": 5}',
    ])
    with open(os.path.join(drop, "part-99999-bad.json"), "w") as fh:
        fh.write(bad + "\n")
    landed_path = os.path.join(root, "landed")
    stream_land_with_quarantine(
        spark, drop, "json",
        "doc_id bigint, lang string, n_chars bigint", landed_path,
        checkpoint=os.path.join(root, "ckpt"), maxFilesPerTrigger="2")
    landed = spark.read.parquet(landed_path)
    clean = landed.where(F.col("_corrupt_record").isNull())
    agg = clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    qrow = landed.where(F.col("_corrupt_record").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.lit("__quarantined__").alias("lang"), "n_docs",
        F.lit(None).cast("long").alias("sum_chars"),
    )
    return agg.unionByName(qrow)


@register(
    "formats_roundtrip",
    oracle=f"""
    WITH agg AS (
      SELECT l_returnflag,
             COUNT(*) AS n_items,
             {dsum("l_extendedprice")} AS sum_price,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'csv' AS fmt, * FROM agg
    UNION ALL SELECT 'json', * FROM agg
    UNION ALL SELECT 'orc', * FROM agg
    """,
)
def formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic source/sink formats, result-proven end-to-end
    (``sources/formats.py``): a lineitem projection is written to CSV,
    JSON, and ORC sinks and read back through ``read_source`` with the
    explicit-schema contract (no inference scan), then aggregated per
    format. Every format's aggregate must hash-match the same numbers
    computed from the original parquet — proving the text round trips
    preserve doubles exactly (Java shortest-repr) and the columnar ORC
    path preserves types. The land-and-convert recipe itself
    (``convert_to_parquet``) and pushdown assertions live in
    tests/test_formats.py; this gate pins the driver-visible face."""
    import tempfile
    from functools import partial

    from pandas_rust_algos_spark.sources.formats import (
        read_source,
        write_sink,
    )

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    schema = ("l_orderkey bigint, l_returnflag string, "
              "l_quantity double, l_extendedprice double")
    root = tempfile.mkdtemp(prefix="formats_gate_")
    from pandas_rust_algos_spark.functions import fixed_sum

    # The three sink writes are independent jobs over the same narrow
    # projection — submit them from a small thread pool so each job's
    # task tail back-fills the executors the others free (guide §2.6:
    # actions are only sequential because driver code calls them
    # sequentially). Same three writes, same bytes, same read-backs.
    run_concurrently(*(
        partial(write_sink, li, f"{root}/{fmt}", fmt, mode="overwrite")
        for fmt in ("csv", "json", "orc")))

    outs = []
    for fmt in ("csv", "json", "orc"):
        path = f"{root}/{fmt}"
        back = read_source(
            spark, path, fmt,
            schema=None if fmt == "orc" else schema)
        outs.append(
            back.groupBy("l_returnflag").agg(
                F.count(F.lit(1)).alias("n_items"),
                fixed_sum(F.col("l_extendedprice")).alias("sum_price"),
                F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            ).select(F.lit(fmt).alias("fmt"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _zorder_oracle() -> str:
    """DuckDB twin of ``layout.zorder_column`` over (l_quantity,
    l_extendedprice), bits=8, fixed ranges — the same bucket expression
    tree, then the same column-major bit interleave, generated
    term-by-term so both engines compute identical longs."""
    def bucket(col, mn, span):
        return (f"COALESCE(LEAST(GREATEST(CAST(FLOOR((CAST({col} AS DOUBLE)"
                f" - CAST({mn} AS DOUBLE)) * CAST(255.0 AS DOUBLE)"
                f" / CAST({span} AS DOUBLE)) AS BIGINT), 0), 255), 0)")
    b0 = bucket("l_quantity", "1.0", "49.0")
    b1 = bucket("l_extendedprice", "900.0", "104100.0")
    terms = []
    for ci, b in ((0, b0), (1, b1)):
        for k in range(8):
            terms.append(f"((({b} >> {k}) & 1) << {k * 2 + ci})")
    z = " + ".join(terms)
    return f"""
    SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS z
    FROM lineitem
    """


@register("zorder_codes", oracle=_zorder_oracle())
def zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) codes value-proven per row: the interleaved
    long that ``sources/layout.py:zorder_column`` computes over
    (quantity, price) with pinned domain ranges must hash-match a
    DuckDB replay of the same bucket + bit-interleave algebra — pure
    shift/mask/add codegen arithmetic on both engines, no UDF. The
    file-skipping EFFECT of writing sorted by this code (footer-stat
    pruning on BOTH dimensions) is proven separately in
    tests/test_layout.py; this gate pins the code itself, which is
    what OPTIMIZE ZORDER correctness rests on."""
    from pandas_rust_algos_spark.sources.layout import zorder_column

    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    z = zorder_column(
        li, ["l_quantity", "l_extendedprice"], bits=8,
        ranges={"l_quantity": (1.0, 50.0),
                "l_extendedprice": (900.0, 105000.0)})
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        z.alias("z"),
    )


@register(
    "schema_evolution_read",
    oracle="""
    WITH a AS (SELECT c_custkey FROM customer WHERE c_custkey % 4 < 2),
    b AS (SELECT c_custkey, c_custkey % 2 AS c_flag
          FROM customer WHERE c_custkey % 4 >= 2)
    SELECT 'v0' AS snap,
           (SELECT COUNT(*) FROM a) AS n_rows,
           CAST((SELECT SUM(c_custkey) FROM a) AS BIGINT) AS sum_key,
           CAST(NULL AS BIGINT) AS sum_flag,
           CAST(NULL AS BIGINT) AS n_null_flag
    UNION ALL
    SELECT 'latest',
           (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b),
           CAST((SELECT SUM(c_custkey) FROM a)
                + (SELECT SUM(c_custkey) FROM b) AS BIGINT),
           CAST((SELECT SUM(c_flag) FROM b) AS BIGINT),
           (SELECT COUNT(*) FROM a)
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution + time travel, result-proven
    (``sources/table_format.py:append(merge_schema=True)``): half the
    customers are committed (v0, two columns), the other half appended
    WITH a new column (v1 — the committed schema widens; old files are
    never rewritten), and both eras are read back: the v0 time-travel
    read must see the era-correct two-column schema, while the latest
    read sees three columns with NULL flags for pre-evolution rows
    (explicit-schema scan over mixed file generations). The oracle
    computes both snapshots' aggregates closed-form from the source
    parquet; n_null_flag pins exactly which rows lack the evolved
    column, so a rewrite that dropped it — or backfilled it — cannot
    pass."""
    import tempfile

    from pandas_rust_algos_spark.sources.table_format import VersionedTable

    tune(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    path = tempfile.mkdtemp(prefix="evo_gate_")
    tbl = VersionedTable(spark, path, key_cols=["c_custkey"])
    tbl.create(cust.where(k % 4 < 2))
    tbl.append(
        cust.where(k % 4 >= 2).withColumn("c_flag", (k % 2)),
        merge_schema=True)
    v0 = tbl.read(version=0)
    assert v0.columns == ["c_custkey"], v0.columns
    latest = tbl.read()
    null_long = F.lit(None).cast("long")
    out_v0 = v0.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("sum_key"),
    ).select(F.lit("v0").alias("snap"), "n_rows", "sum_key",
             null_long.alias("sum_flag"), null_long.alias("n_null_flag"))
    out_latest = latest.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("sum_key"),
        F.sum("c_flag").alias("sum_flag"),
        F.count_if(F.col("c_flag").isNull()).alias("n_null_flag"),
    ).select(F.lit("latest").alias("snap"), "n_rows", "sum_key",
             "sum_flag", "n_null_flag")
    return out_v0.unionByName(out_latest)


@register(
    "restore_read",
    oracle="""
    SELECT s_nationkey,
           COUNT(*) AS n_supp,
           CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def restore_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (version rollback), result-proven
    (``sources/table_format.py:restore``): the supplier table is
    committed (v0), WRECKED by an overwrite that drops half the rows
    and a merge-on-read delete that tombstones more (v1-v2), then
    restored to v0 — an append-only metadata commit that re-adds the
    original files by reference (zero data movement) and rolls the
    deletion vectors back with it. The read after restore must equal
    the ORIGINAL table exactly — the oracle aggregates the source
    parquet untouched; sum_key pins membership, so a restore that
    leaked the overwrite, kept a tombstone, or resurrected nothing
    cannot pass. History stays auditable: the wrecked era remains
    time-travelable (asserted in-gate)."""
    import tempfile

    from pandas_rust_algos_spark.sources.table_format import VersionedTable

    tune(spark)
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    path = tempfile.mkdtemp(prefix="restore_gate_")
    tbl = VersionedTable(spark, path, key_cols=["s_suppkey"])
    tbl.create(sup.repartition(2))
    tbl.overwrite(sup.where(F.col("s_suppkey") % 2 == 0))
    tbl.delete_mor("s_suppkey % 4 = 0")
    wrecked = tbl.read().count()
    tbl.restore(0)
    assert tbl.read(version=2).count() == wrecked  # era stays auditable
    return tbl.read().groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("s_suppkey").alias("sum_key"),
    )


_PACK_NORM_MD5 = (
    "MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),"
    " '[.,!?;:]', '', 'g'), '\\s+', ' ', 'g')))"
)


def _pack_budget_weighted_oracle() -> str:
    """One statement replaying the WHOLE composition: soft-dedup
    weights (1/n_copies over the md5 content hash), the shared
    cumulative-weight walk for p50/p90/p99 of token counts, and the
    greedy next-fit pack fold under the p99 budget (the
    ``pack_sequences_sharded`` recursive CTE with the budget a scalar
    subquery instead of a literal)."""
    cnt = tx.sql_token_count("text")
    b = "(SELECT p99 FROM b)"
    return f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, doc_id % 4 AS shard,
             COALESCE({cnt}, 0) AS cnt,
             CAST(FLOOR((CAST(1.0 AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY {_PACK_NORM_MD5})) * 1e6)
               AS BIGINT) AS wq
      FROM documents
    ), c AS (
      SELECT cnt AS x,
             SUM(wq) OVER (ORDER BY cnt) AS cw,
             SUM(wq) OVER () AS tw
      FROM d
    ), b AS (
      SELECT
        MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.5 * CAST(tw AS DOUBLE)
            THEN x END) AS p50,
        MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.9 * CAST(tw AS DOUBLE)
            THEN x END) AS p90,
        MIN(CASE WHEN CAST(cw AS DOUBLE) >= 0.99 * CAST(tw AS DOUBLE)
            THEN x END) AS p99
      FROM c WHERE tw > 0
    ), rows_in AS (
      SELECT doc_id, shard, cnt,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM d
    ), r AS (
      SELECT shard, rn, doc_id, cnt, 0 AS pack_idx, cnt AS fill, 0 AS pos
      FROM rows_in WHERE rn = 1
      UNION ALL
      SELECT i.shard, i.rn, i.doc_id, i.cnt,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN r.pack_idx + 1 ELSE r.pack_idx END,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN i.cnt ELSE r.fill + i.cnt END,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN 0 ELSE r.pos + 1 END
      FROM r JOIN rows_in i ON i.shard = r.shard AND i.rn = r.rn + 1
    )
    SELECT doc_id, cnt AS n_tokens,
           shard || '-' || pack_idx AS pack_id,
           CAST(pos AS INTEGER) AS pack_pos,
           (SELECT p50 FROM b) AS budget_p50,
           (SELECT p90 FROM b) AS budget_p90,
           {b} AS budget
    FROM r
    """


@register("pack_budget_weighted", oracle=_pack_budget_weighted_oracle())
def pack_budget_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing-budget COMPOSITION the weighted-quantile family was
    built for (``dedup_weighted_stats`` pattern, one step further):
    soft-dedup weights (1/n_copies) feed ``group_weighted_quantiles``
    — p50/p90/p99 of per-document token counts with every exact-
    content cluster counted ONCE, one shared cumulative-weight window
    for all three — and the p99 becomes the ``pack_sequences`` budget,
    so boilerplate-duplicated short docs cannot shrink the packing
    budget the way an unweighted percentile would let them. The
    budget row is a metadata-sized collect (one row — the documented
    whale-set/centroid pattern); packing is the value-sharded
    row-for-row-provable fold; the oracle replays weights, walk, AND
    fold in one recursive-CTE statement. At corpus scale swap the
    exact quantile for ``group_weighted_quantile_approx`` (same
    crossing rule over the mergeable weighted histogram — the single-
    group exact window funnels one sort partition; the sketch never
    does)."""
    from pandas_rust_algos_spark.operators import weighted as wt
    from pandas_rust_algos_spark.operators.packing import pack_sequences

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # coalesce NULL token counts to 0 BEFORE the quantile walk and the
    # pack fold — the oracle's d CTE does COALESCE(cnt, 0), while
    # group_weighted_quantiles drops NULL-value rows, so an un-coalesced
    # NULL-text document would diverge the two sides (ADVICE r11)
    base = docs.select(
        "doc_id", (F.col("doc_id") % 4).alias("shard"),
        F.coalesce(tx.token_count("text"), F.lit(0)).alias("n_tokens"))
    weights = dd.dedup_soft_weights(docs).select("doc_id", "weight")
    # j feeds BOTH the budget quantile collect and the pack fold —
    # without the persist the soft-weights window re-runs (guide §5)
    from pyspark import StorageLevel

    from pandas_rust_algos_spark import cachelife

    j = cachelife.track(base.join(weights, "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK))
    qrow = wt.group_weighted_quantiles(
        j.select(F.lit("all").alias("g"),
                 F.col("n_tokens").alias("x"), "weight"),
        "g", "x", "weight", qs=(0.5, 0.9, 0.99)).collect()[0]
    p50, p90, p99 = (int(qrow["wq_0_5"]), int(qrow["wq_0_9"]),
                     int(qrow["wq_0_99"]))
    packed = pack_sequences(j.select("doc_id", "shard", "n_tokens"),
                            "n_tokens", budget=p99,
                            order_col="doc_id", shard_col="shard")
    return packed.select(
        "doc_id", "n_tokens", "pack_id", "pack_pos",
        F.lit(p50).cast("long").alias("budget_p50"),
        F.lit(p90).cast("long").alias("budget_p90"),
        F.lit(p99).cast("long").alias("budget"))


def _pack_budget_weighted_approx_oracle() -> str:
    """The scale-path twin of :func:`_pack_budget_weighted_oracle`:
    the budget comes from the WEIGHTED HISTOGRAM SKETCH walk (the
    mergeable no-sort path) instead of the exact cumulative window —
    sketch, walk, FLOOR, and the greedy fold all replayed in one
    statement (the sketch/walk SQL is the gate-shared
    ``histsketch.sql_hist_*_weighted`` pair verbatim, nested as a
    scalar subquery)."""
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist_sketch_weighted,
        sql_hist_weighted_quantiles,
    )

    cnt = tx.sql_token_count("text")
    table = (f"(SELECT 'all' AS gk, COALESCE({cnt}, 0) AS x, "
             f"CAST(1.0 AS DOUBLE)"
             f"/COUNT(*) OVER (PARTITION BY {_PACK_NORM_MD5}) AS w "
             f"FROM documents) dsub")
    sk = sql_hist_sketch_weighted("gk", "x", "w", table,
                                  lo=0.0, hi=128.0, bins=128)
    walk = sql_hist_weighted_quantiles(sk, (0.99,),
                                       lo=0.0, hi=128.0, bins=128)
    b = "(SELECT budget FROM bq)"
    return f"""
    WITH RECURSIVE bq AS (
      SELECT CAST(FLOOR(est) AS BIGINT) AS budget FROM ({walk})
    ), rows_in AS (
      SELECT doc_id, doc_id % 4 AS shard, COALESCE({cnt}, 0) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 4
                                ORDER BY doc_id) AS rn
      FROM documents
    ), r AS (
      SELECT shard, rn, doc_id, cnt, 0 AS pack_idx, cnt AS fill, 0 AS pos
      FROM rows_in WHERE rn = 1
      UNION ALL
      SELECT i.shard, i.rn, i.doc_id, i.cnt,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN r.pack_idx + 1 ELSE r.pack_idx END,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN i.cnt ELSE r.fill + i.cnt END,
             CASE WHEN r.fill + i.cnt > {b}
                  THEN 0 ELSE r.pos + 1 END
      FROM r JOIN rows_in i ON i.shard = r.shard AND i.rn = r.rn + 1
    )
    SELECT doc_id, cnt AS n_tokens,
           shard || '-' || pack_idx AS pack_id,
           CAST(pos AS INTEGER) AS pack_pos,
           {b} AS budget
    FROM r
    """


@register("pack_budget_weighted_approx",
          oracle=_pack_budget_weighted_approx_oracle())
def pack_budget_weighted_approx(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The SCALE PATH of ``pack_budget_weighted``, value-proven: the
    p99 packing budget comes from ``group_weighted_quantile_approx``
    — the mergeable weighted histogram sketch (one map-side-combined
    pass, ≤128 cells, no within-group sort) instead of the exact
    single-partition cumulative window, then FLOOR to an integer
    token budget. At cell width 1 token (lo=0, hi=128, bins=128 over
    10–100-token documents) the approx budget sits within one token
    of the exact crossing value, and the whole composition — soft-
    dedup weights → sketch → walk → floor → greedy fold — is replayed
    by ONE recursive-CTE oracle, so the corpus-scale recipe the exact
    gate's docstring points to is itself hash-proven, not just
    recommended."""
    import math

    from pandas_rust_algos_spark.operators import weighted as wt
    from pandas_rust_algos_spark.operators.packing import pack_sequences

    tune(spark)
    docs = load_table(spark, sf_dir, "documents")
    # COALESCE(token_count, 0) mirrors the oracle's dsub/rows_in CTEs
    # (ADVICE r11: NULL-text docs must not diverge the two sides)
    base = docs.select(
        "doc_id", (F.col("doc_id") % 4).alias("shard"),
        F.coalesce(tx.token_count("text"), F.lit(0)).alias("n_tokens"))
    weights = dd.dedup_soft_weights(docs).select("doc_id", "weight")
    # j feeds BOTH the budget quantile collect and the pack fold —
    # without the persist the soft-weights window re-runs (guide §5)
    from pyspark import StorageLevel

    from pandas_rust_algos_spark import cachelife

    j = cachelife.track(base.join(weights, "doc_id").persist(
        StorageLevel.MEMORY_AND_DISK))
    est = wt.group_weighted_quantile_approx(
        j.select(F.lit("all").alias("gk"),
                 F.col("n_tokens").alias("x"), "weight"),
        "gk", "x", "weight", (0.99,),
        lo=0.0, hi=128.0, bins=128).collect()[0]["est"]
    budget = int(math.floor(est))
    packed = pack_sequences(j.select("doc_id", "shard", "n_tokens"),
                            "n_tokens", budget=budget,
                            order_col="doc_id", shard_col="shard")
    return packed.select(
        "doc_id", "n_tokens", "pack_id", "pack_pos",
        F.lit(budget).cast("long").alias("budget"))
