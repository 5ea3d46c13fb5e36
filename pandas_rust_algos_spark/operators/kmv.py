"""KMV (k-minimum-values, a.k.a. theta/bottom-k) sketches: mergeable
distinct counting WITH set-operation estimates.

Public algorithm: Bar-Yossef et al. 2002 (counting distinct elements),
estimator form from Beyer et al. SIGMOD'07 — keep the k smallest
distinct hash values; with U_k the k-th smallest hash normalized to
[0,1], the unbiased distinct-count estimate is ``(k-1) / U_k``. The
same k-sample doubles as a uniform sample of the distinct values,
which is what gives KMV the property HLL lacks: sketches of two sets
compose into UNION, INTERSECTION, and JACCARD estimates (the theta-
sketch trick) — ``union_kminval`` of both sketches estimates |A ∪ B|,
and the fraction of that combined sample present in both inputs
estimates the Jaccard similarity.

Where each sketch in the engine's mergeable-summary tier wins:

- CMS (``operators/frequency``): per-key FREQUENCY estimates.
- HLL (``operators/frequency``): distinct counts in m registers —
  smallest state, but registers of different sets only merge to a
  UNION estimate; no intersections.
- KMV (here): distinct counts in ≤ k values — slightly larger state
  than HLL at equal error, but closed under set algebra.

State per group is an ascending ``array<bigint>`` of at most k 60-bit
hashes — the ENTIRE sketch, mergeable by "union, distinct, keep k
smallest" (exact: min-k(A ∪ B) is computable from min-k(A) ∪ min-k(B)
because any value in min-k of the union is in the min-k of the slice
it came from). ``portable`` hash mode uses the engine's shared
md5-prefix→60-bit recipe, so a SQL oracle replays sketch build, merge,
estimator, and set ops bit-exactly; ``fast`` (xxhash64 masked to the
same 60-bit domain) is the 100 TB default.

Scale shape: the BUILD pays one distinct-shuffle of (group, hash) and
a per-group rank filter — the same traffic an exact COUNT(DISTINCT)
pays once. The win is everything after: the sketch (k longs per
group) is what you store, merge per arriving partition, and run set
algebra on — history is never rescanned, and cross-table overlap
questions (|A ∩ B| across two 100 TB tables) run on KiB of state.

Relative error ≈ 1/sqrt(k-2) for the distinct estimate (~13% at
k=64); raise k for tighter bounds. Reference scope: the reference has
no sketch surface at all (SURVEY §2.3) — driver-brief extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import cells
from pandas_rust_algos_spark.operators.frequency import (
    hash60,
    sql_cms_hash,
)

__all__ = [
    "kmv_sketch",
    "kmv_merge",
    "kmv_estimate",
    "kmv_set_ops",
    "sql_kmv_sketch",
    "sql_kmv_estimate",
]

_DOMAIN = float(1 << 60)  # hashes live in [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    group: str,
    col: str,
    *,
    k: int = 64,
    hash_mode: str = "portable",
) -> DataFrame:
    """Build per-group KMV sketches: ``(group, hs)`` with ``hs`` the
    ascending array of the ≤ k smallest distinct 60-bit hashes of
    ``col`` — the sketch's entire state.

    The rank filter runs as a per-group window over DISTINCT hashes —
    sort-based, never buffering a group in memory (a ``collect_set``
    pre-aggregate would). Groups with fewer than k distinct values
    keep everything, which is what makes the estimator exact there."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    kstr = F.col(col).cast("string")
    hd = (
        df.where(F.col(col).isNotNull())
        .select(F.col(group), hash60(kstr, hash_mode).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group).orderBy("h")
    return (
        hd.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .groupBy(group)
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
    )


def kmv_merge(*sketches: DataFrame, k: int = 64) -> DataFrame:
    """Merge KMV sketches group-wise: union the hash arrays, dedup,
    keep the k smallest — EXACT: the merged sketch equals the sketch
    of the concatenated data (every member of the union's min-k is in
    the min-k of whichever slice contained it). Same append-only
    maintenance shape as ``cms_merge``/``hll_merge``: sketch each new
    partition (one scan of the delta), fold into k longs of running
    state per group, never rescan history."""
    return cells.merge(sketches, lambda hs: F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(hs)))),
        1, k))


def _estimate_expr(hs, k: int):
    """Distinct-count estimate from one sketch array: exact size when
    the group never filled the sketch, else ``(k-1) * 2^60 / h_k`` —
    one double division, bit-identical across engines."""
    return F.when(
        F.size(hs) < k, F.size(hs).cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_DOMAIN)
        / F.element_at(hs, k).cast("double")
    )


def kmv_estimate(sketch: DataFrame, group: str, *, k: int = 64) -> DataFrame:
    """Fold sketches into per-group estimates ``(group, est)``,
    rounded to BIGINT (which absorbs the one division's last-ulp)."""
    return sketch.select(
        group,
        F.round(_estimate_expr(F.col("hs"), k)).cast("long").alias("est"),
    )


def kmv_set_ops(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    *,
    k: int = 64,
) -> DataFrame:
    """Set-operation estimates from two per-group sketch tables (inner
    join on the group column): ``(group, union_est, inter_est,
    jaccard_est, a_only_est, b_only_est)``.

    The theta-sketch composition, array algebra end to end: the min-k
    of the combined hash arrays is a valid KMV sketch of A ∪ B (union
    estimate); that same array is a uniform k-sample of the union's
    distinct values, so the fraction of it present in BOTH inputs
    estimates Jaccard, and ``jaccard * union`` estimates the
    intersection — the overlap question HLL registers cannot answer.
    Differences come free by inclusion-exclusion on the same sketches:
    ``|A \\ B| = |A ∪ B| − |B|`` (clamped at 0 — the estimators are
    independent, so tiny negatives are possible and meaningless). All
    counts are integers and the only float ops are a fixed sequence of
    divisions/multiplies — engine-replayable."""
    group = sketch_a.columns[0]
    a = sketch_a.select(F.col(group), F.col("hs").alias("hs_a"))
    b = sketch_b.select(F.col(group), F.col("hs").alias("hs_b"))
    ku = F.slice(
        F.array_sort(F.array_distinct(F.concat("hs_a", "hs_b"))), 1, k)
    both = F.array_intersect("hs_a", "hs_b")
    j = (
        a.join(b, group)
        .select(
            F.col(group),
            ku.alias("ku"),
            F.size(F.array_intersect(ku, both)).alias("n_both"),
            "hs_a", "hs_b",
        )
    )
    union_est = _estimate_expr(F.col("ku"), k)
    a_est = _estimate_expr(F.col("hs_a"), k)
    b_est = _estimate_expr(F.col("hs_b"), k)
    jac = F.col("n_both").cast("double") / F.size("ku").cast("double")
    zero = F.lit(0.0)
    return j.select(
        group,
        F.round(union_est).cast("long").alias("union_est"),
        F.round(jac * union_est).cast("long").alias("inter_est"),
        F.round(jac, 6).alias("jaccard_est"),
        F.round(F.greatest(zero, union_est - b_est)).cast("long")
        .alias("a_only_est"),
        F.round(F.greatest(zero, union_est - a_est)).cast("long")
        .alias("b_only_est"),
    )


def sql_kmv_sketch(
    group_expr: str,
    col_expr: str,
    table: str,
    *,
    k: int = 64,
) -> str:
    """DuckDB twin of :func:`kmv_sketch` (portable mode): identical
    hash, distinct, rank filter, ascending list. Yields ``(grp, hs)``."""
    h = sql_cms_hash(0, f"CAST({col_expr} AS VARCHAR)")
    return f"""
    SELECT grp, LIST(h ORDER BY h) AS hs FROM (
      SELECT grp, h,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
      FROM (
        SELECT DISTINCT {group_expr} AS grp, {h} AS h
        FROM {table} WHERE {col_expr} IS NOT NULL
      )
    ) WHERE rn <= {k} GROUP BY grp
    """


def sql_kmv_estimate(hs_expr: str, *, k: int = 64) -> str:
    """DuckDB twin of :func:`_estimate_expr` over a list expression —
    same branch, same constants, same single division."""
    return (
        f"CASE WHEN LEN({hs_expr}) < {k} "
        f"THEN CAST(LEN({hs_expr}) AS DOUBLE) "
        f"ELSE CAST({float(k - 1)} AS DOUBLE) * CAST({_DOMAIN} AS DOUBLE) "
        f"/ CAST({hs_expr}[{k}] AS DOUBLE) END"
    )
