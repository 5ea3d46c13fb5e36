"""Weighted grouped aggregations: weighted mean / variance / quantile.

Driver-brief training-pipeline extensions (the reference has no
weighted kernels — SURVEY §2.3): the natural companions to
:func:`~pandas_rust_algos_spark.operators.dedup.dedup_soft_weights`,
whose ``1/n_copies`` weights turn corpus statistics over ALL rows into
statistics over unique contents — and, more generally, the primitives
behind quality-weighted mixture audits (mean tokens per language
weighted by quality score, weighted length percentiles for packing
budgets, importance-weighted eval slices).

Semantics
---------
Frequency-weight conventions, NA-skipping like the rest of the
grouped family (a NULL value OR a NULL weight drops the observation):

- ``weighted mean  = Σwx / Σw``
- ``weighted var   = (Σwx² − (Σwx)²/Σw) / (Σw − ddof)`` — with
  ``ddof=1`` this is the frequency-weights unbiased estimator (each
  unit of weight counts as one observation, the soft-dedup reading);
  NULL when ``Σw − ddof ≤ 0``.
- ``weighted quantile(q) = min{ x : cumw(x) ≥ q·W }`` with ``cumw``
  the running weight in value order (RANGE frame, so equal values
  accumulate together and tie order cannot matter) — the standard
  left-continuous inverse-CDF rule; at ``q=0.5`` the weighted median.

Determinism (registry rules)
----------------------------
Every sum is :func:`functions.na.fixed_sum` — weights and products
quantized to 1e-6 micro-units, summed exactly in BIGINT, so results
are partitioning-independent and bit-identical to the DuckDB twins
(``sql_*`` here build on ``registry.dsum`` with the same expressions);
the finishing arithmetic is single IEEE ops both engines round
identically. The quantile compares integer micro-unit cumulative
weights against ``q · W`` in one IEEE multiply.

Scale shape (100 TB)
--------------------
Mean/var are single map-side-combinable ``groupBy().agg()`` passes —
three long-sums wide, the cheapest shuffle shape there is; a
boilerplate whale group partial-aggregates like any other sum.
The quantile pays the within-group sort every exact quantile pays
(the ``group_quantile`` class, documented trade-off); at corpus scale
use :func:`group_weighted_quantile_approx` — bucketed pre-aggregation
(micro-unit weight-sum per equi-width value cell, ≤ bins rows per
group, mergeable cell-wise via ``histsketch.hist_merge``) whose
cumulative-WEIGHT walk is error-bounded by one cell width. The exact
op remains the oracle anchor.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandas_rust_algos_spark.functions.na import fixed_sum
from pandas_rust_algos_spark.operators.grouped_agg import _prep

__all__ = [
    "group_weighted_mean",
    "group_weighted_var",
    "group_weighted_stats",
    "group_weighted_quantile",
    "group_weighted_quantiles",
    "group_weighted_quantile_approx",
    "group_weighted_corr_cov",
    "group_weighted_corr_approx",
    "sql_group_weighted_corr_approx",
    "sql_group_weighted_stats",
    "sql_group_weighted_quantiles",
    "sql_group_weighted_quantile",
    "sql_group_weighted_corr_cov",
]


def _cols(x: Sequence[str] | str) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _q_name(q: float) -> str:
    """Identifier-safe output column name for quantile ``q``.

    ``repr(float(q))`` breaks for scientific-notation reprs (q=1e-05 →
    ``wq_1e-05`` — invalid unquoted SQL alias, backtick-needing Spark
    name). Format with a fixed 6-decimal formatter instead (matches the
    1e-6 micro-unit weight resolution — finer q is unrepresentable in
    the crossing test anyway), strip trailing zeros, '.'→'_'.
    """
    s = f"{float(q):.6f}".rstrip("0")
    if s.endswith("."):
        s += "0"  # keep one decimal digit: wq_1_0, not wq_1
    return "wq_" + s.replace(".", "_")


def _check_q_names(qs: Sequence[float]) -> None:
    """Two requested quantiles closer than the 1e-6 name resolution
    would silently alias to the SAME ``wq_*`` output column (0.1234561
    vs 0.1234565 → one name), making downstream selects ambiguous —
    refuse loudly instead (ADVICE r11)."""
    seen: dict[str, float] = {}
    for q in qs:
        n = _q_name(q)
        if n in seen:
            raise ValueError(
                f"qs {seen[n]!r} and {q!r} are indistinguishable at the "
                f"1e-6 output-name resolution (both map to column {n!r})")
        seen[n] = q


def _observed(df: DataFrame, value_col: str, weight_col: str) -> DataFrame:
    """NA-skip: drop rows where the value OR the weight is NULL (an
    unweighted-NA observation has no defined contribution)."""
    return df.where(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())


def group_weighted_mean(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    *,
    out_col: str = "wmean",
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group weighted mean Σwx/Σw (fixed-point sums, one IEEE
    division). NULL for groups with zero observed weight."""
    keys = _cols(keys)
    d = _observed(_prep(df, keys, dropna_keys), value_col, weight_col)
    sw = fixed_sum(F.col(weight_col))
    swx = fixed_sum(F.col(weight_col) * F.col(value_col))
    return d.groupBy(*keys).agg(
        (swx / F.nullif(sw, F.lit(0.0))).alias(out_col))


def group_weighted_var(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    *,
    ddof: int = 1,
    out_col: str = "wvar",
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group frequency-weights variance
    ``(Σwx² − (Σwx)²/Σw) / (Σw − ddof)``; NULL when ``Σw − ddof ≤ 0``
    (the ``group_var`` min-observations rule carried to weights)."""
    keys = _cols(keys)
    d = _observed(_prep(df, keys, dropna_keys), value_col, weight_col)
    w, x = F.col(weight_col), F.col(value_col)
    sw = fixed_sum(w)
    swx = fixed_sum(w * x)
    swxx = fixed_sum(w * x * x)
    denom = sw - F.lit(float(ddof))
    var = (swxx - swx * swx / sw) / denom
    return d.groupBy(*keys).agg(
        F.when(denom > 0, var).alias(out_col))


def group_weighted_stats(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    *,
    ddof: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Weighted mean AND variance in ONE groupBy pass (the shape the
    SQL twin emits): ``(keys..., wmean, wvar)`` — three fixed-point
    sums wide, map-side combined."""
    keys = _cols(keys)
    d = _observed(_prep(df, keys, dropna_keys), value_col, weight_col)
    w, x = F.col(weight_col), F.col(value_col)
    sw = fixed_sum(w)
    swx = fixed_sum(w * x)
    swxx = fixed_sum(w * x * x)
    denom = sw - F.lit(float(ddof))
    return d.groupBy(*keys).agg(
        (swx / F.nullif(sw, F.lit(0.0))).alias("wmean"),
        F.when(denom > 0, (swxx - swx * swx / sw) / denom).alias("wvar"),
    )


def group_weighted_quantile(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    *,
    q: float = 0.5,
    out_col: str = "wquantile",
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group weighted quantile: the smallest value whose cumulative
    weight (value order, RANGE frame — ties accumulate together)
    reaches ``q`` of the group's total weight. Weights quantized to
    micro-units exactly like the sums, so the crossing row — and hence
    the picked value — is engine- and partitioning-independent.

    Groups whose total quantized weight is zero (all weights 0 or
    < 1e-6) are DROPPED — the mean/var NULL convention: without
    positive weight no quantile is defined (the ``cw >= q*tw`` test
    would otherwise trivially pick the group's min)."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    keys = _cols(keys)
    d = _observed(_prep(df, keys, dropna_keys), value_col, weight_col)
    wq = F.floor(F.col(weight_col) * F.lit(1e6)).cast("long")
    d = d.select(*keys, F.col(value_col), wq.alias("__wq"))
    cum = Window.partitionBy(*keys).orderBy(value_col)  # RANGE frame
    tot = Window.partitionBy(*keys)
    d = d.select(
        *keys, value_col,
        F.sum("__wq").over(cum).alias("__cw"),
        F.sum("__wq").over(tot).alias("__tw"),
    )
    return (
        d.where(
            (F.col("__tw") > 0)
            & (F.col("__cw").cast("double")
               >= F.lit(q) * F.col("__tw").cast("double")))
        .groupBy(*keys)
        .agg(F.min(value_col).alias(out_col))
    )


def group_weighted_quantiles(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
    qs: Sequence[float],
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """MULTIPLE weighted quantiles in ONE pass (the packing-budget
    shape: p50/p90/p99 of weighted sequence lengths in one job): the
    cumulative-weight window is computed once; each requested ``q``
    becomes one conditional MIN aggregate over the same rows —
    ``min(x WHERE cumw ≥ q·W)`` is exactly the single-q rule, so each
    output column equals :func:`group_weighted_quantile` at that
    ``q``. Output columns ``wq_<q with '.' as '_'>`` in input order
    (e.g. ``wq_0_5``, ``wq_0_99``). Zero-total-weight groups are
    dropped, matching the single-q rule."""
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"every q must be in (0, 1], got {q}")
    _check_q_names(qs)
    keys = _cols(keys)
    d = _observed(_prep(df, keys, dropna_keys), value_col, weight_col)
    wq = F.floor(F.col(weight_col) * F.lit(1e6)).cast("long")
    d = d.select(*keys, F.col(value_col), wq.alias("__wq"))
    cum = Window.partitionBy(*keys).orderBy(value_col)  # RANGE frame
    tot = Window.partitionBy(*keys)
    d = d.select(
        *keys, value_col,
        F.sum("__wq").over(cum).alias("__cw"),
        F.sum("__wq").over(tot).alias("__tw"),
    )
    aggs = []
    for q in qs:
        crossed = (F.col("__cw").cast("double")
                   >= F.lit(float(q)) * F.col("__tw").cast("double"))
        aggs.append(
            F.min(F.when(crossed, F.col(value_col))).alias(_q_name(q)))
    return d.where(F.col("__tw") > 0).groupBy(*keys).agg(*aggs)


def group_weighted_corr_cov(
    df: DataFrame,
    keys: Sequence[str] | str,
    x: str,
    y: str,
    weight_col: str,
    *,
    ddof: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group WEIGHTED Pearson correlation and covariance of
    (x, y) — the bivariate member of the weighted family (quality-
    weighted feature correlation, soft-dedup-corrected drift pairs):

    - ``wcov  = (Σwxy − Σwx·Σwy/W) / (W − ddof)`` (frequency-weights
      sample covariance; NULL when ``W − ddof ≤ 0``),
    - ``wcorr = (W·Σwxy − Σwx·Σwy) /
      sqrt(W·Σwxx − Σwx²) / sqrt(W·Σwyy − Σwy²)`` (scale-free; NULL
      when either variance term is ≤ 0).

    An observation contributes iff x AND y AND the weight are all
    non-NULL (pairwise-complete carried to weights). One map-side-
    combined groupBy, six fixed-point micro-unit sums wide — the
    ``group_weighted_stats`` shuffle shape; the finishing arithmetic
    is the same IEEE tree the DuckDB twin evaluates."""
    keys = _cols(keys)
    d = _prep(df, keys, dropna_keys).where(
        F.col(x).isNotNull() & F.col(y).isNotNull()
        & F.col(weight_col).isNotNull())
    w, cx, cy = F.col(weight_col), F.col(x), F.col(y)
    sw = fixed_sum(w)
    swx = fixed_sum(w * cx)
    swy = fixed_sum(w * cy)
    swxy = fixed_sum(w * cx * cy)
    swxx = fixed_sum(w * cx * cx)
    swyy = fixed_sum(w * cy * cy)
    agged = d.groupBy(*keys).agg(
        sw.alias("__sw"), swx.alias("__swx"), swy.alias("__swy"),
        swxy.alias("__swxy"), swxx.alias("__swxx"), swyy.alias("__swyy"))
    W = F.col("__sw")
    vx = W * F.col("__swxx") - F.col("__swx") * F.col("__swx")
    vy = W * F.col("__swyy") - F.col("__swy") * F.col("__swy")
    num = W * F.col("__swxy") - F.col("__swx") * F.col("__swy")
    corr = F.when((W > 0) & (vx > 0) & (vy > 0),
                  num / F.sqrt(vx) / F.sqrt(vy))
    denom = W - F.lit(float(ddof))
    cov = F.when(
        (W > 0) & (denom > 0),
        (F.col("__swxy") - F.col("__swx") * F.col("__swy") / W) / denom)
    return agged.select(*keys, corr.alias("wcorr"), cov.alias("wcov"))


def sql_group_weighted_corr_cov(
    table: str,
    key_expr: str,
    x_expr: str,
    y_expr: str,
    weight_expr: str,
    *,
    ddof: int = 1,
    key_name: str | None = None,
) -> str:
    """DuckDB twin of :func:`group_weighted_corr_cov` — same micro-unit
    sums (``registry.dsum`` shape inlined), same finishing IEEE
    trees, same NULL rules."""
    key_name = key_name or key_expr

    def dsum(e: str) -> str:
        return (f"(CAST(SUM(CAST(FLOOR(({e}) * 1e6) AS BIGINT)) "
                f"AS DOUBLE) / 1e6)")

    w, x, y = weight_expr, x_expr, y_expr
    sw = dsum(w)
    swx = dsum(f"({w}) * ({x})")
    swy = dsum(f"({w}) * ({y})")
    swxy = dsum(f"({w}) * ({x}) * ({y})")
    swxx = dsum(f"({w}) * ({x}) * ({x})")
    swyy = dsum(f"({w}) * ({y}) * ({y})")
    return f"""
    SELECT {key_expr} AS {key_name},
           CASE WHEN {sw} > 0
                 AND {sw} * {swxx} - {swx} * {swx} > 0
                 AND {sw} * {swyy} - {swy} * {swy} > 0 THEN
             ({sw} * {swxy} - {swx} * {swy})
               / SQRT({sw} * {swxx} - {swx} * {swx})
               / SQRT({sw} * {swyy} - {swy} * {swy})
           END AS wcorr,
           CASE WHEN {sw} > 0 AND {sw} - {float(ddof)!r} > 0 THEN
             ({swxy} - {swx} * {swy} / {sw})
               / ({sw} - {float(ddof)!r})
           END AS wcov
    FROM {table}
    WHERE ({x}) IS NOT NULL AND ({y}) IS NOT NULL
      AND ({w}) IS NOT NULL
    GROUP BY 1
    """


def group_weighted_quantile_approx(
    df: DataFrame,
    group: str,
    value_col: str,
    weight_col: str,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
    dropna_keys: bool = True,
) -> DataFrame:
    """Approximate weighted quantiles via the weighted histogram
    sketch — the 100 TB path: one map-side-combined pass builds
    ``(group, bin, Σ micro-unit weight)`` (≤ ``bins`` rows per group,
    mergeable cell-wise, no within-group sort), then the cumulative-
    WEIGHT walk picks and interpolates the crossing cell. Error ≤ one
    cell width ``(hi-lo)/bins`` in the value domain vs
    :func:`group_weighted_quantile` (pinned by the unit tests);
    out-of-range values clamp into the edge cells (frozen-domain
    contract, ``histsketch`` docstring). Output ``(group, q, est)``.
    Single group column (the sketch family's shape)."""
    from pandas_rust_algos_spark.operators.histsketch import (
        hist_sketch_weighted,
        hist_weighted_quantiles,
    )

    d = _prep(df, [group], dropna_keys)
    sk = hist_sketch_weighted(
        d, group, value_col, weight_col, lo=lo, hi=hi, bins=bins)
    return hist_weighted_quantiles(
        sk, group, qs, lo=lo, hi=hi, bins=bins)


def sql_group_weighted_quantiles(
    table: str,
    key_expr: str,
    value_expr: str,
    weight_expr: str,
    qs: Sequence[float],
    *,
    key_name: str | None = None,
) -> str:
    """DuckDB twin of :func:`group_weighted_quantiles` — same shared
    cumulative window, one conditional MIN per q."""
    _check_q_names(qs)
    key_name = key_name or key_expr
    sels = []
    for q in qs:
        sels.append(
            f"MIN(CASE WHEN CAST(cw AS DOUBLE) >= {float(q)!r} * "
            f"CAST(tw AS DOUBLE) THEN x END) AS {_q_name(q)}")
    sel = ",\n           ".join(sels)
    return f"""
    WITH t AS (
      SELECT {key_expr} AS k, {value_expr} AS x,
             CAST(FLOOR(({weight_expr}) * 1e6) AS BIGINT) AS wq
      FROM {table}
      WHERE ({value_expr}) IS NOT NULL AND ({weight_expr}) IS NOT NULL
    ), c AS (
      SELECT k, x,
             SUM(wq) OVER (PARTITION BY k ORDER BY x) AS cw,
             SUM(wq) OVER (PARTITION BY k) AS tw
      FROM t
    )
    SELECT k AS {key_name},
           {sel}
    FROM c WHERE tw > 0 GROUP BY 1
    """


def sql_group_weighted_stats(
    table: str,
    key_expr: str,
    value_expr: str,
    weight_expr: str,
    *,
    ddof: int = 1,
    key_name: str | None = None,
) -> str:
    """DuckDB twin of weighted mean + var in one statement — same
    micro-unit sums (``registry.dsum`` shape inlined), same finishing
    IEEE arithmetic, same NULL rules. ``key_name`` sets the output
    alias (defaults to ``key_expr``; pass it when the expr is not a
    bare column name)."""
    key_name = key_name or key_expr

    def dsum(e: str) -> str:
        # outer parens are load-bearing: the trailing "/ 1e6" would
        # otherwise re-associate inside composite expressions like
        # swx * swx / sw
        return (f"(CAST(SUM(CAST(FLOOR(({e}) * 1e6) AS BIGINT)) "
                f"AS DOUBLE) / 1e6)")

    sw = dsum(weight_expr)
    swx = dsum(f"({weight_expr}) * ({value_expr})")
    swxx = dsum(f"({weight_expr}) * ({value_expr}) * ({value_expr})")
    return f"""
    SELECT {key_expr} AS {key_name},
           {swx} / NULLIF({sw}, CAST(0.0 AS DOUBLE)) AS wmean,
           CASE WHEN {sw} - {float(ddof)!r} > 0
                THEN ({swxx} - {swx} * {swx} / {sw})
                     / ({sw} - {float(ddof)!r})
           END AS wvar
    FROM {table}
    WHERE ({value_expr}) IS NOT NULL AND ({weight_expr}) IS NOT NULL
    GROUP BY 1
    """


def sql_group_weighted_quantile(
    table: str,
    key_expr: str,
    value_expr: str,
    weight_expr: str,
    *,
    q: float = 0.5,
    key_name: str | None = None,
) -> str:
    """DuckDB twin of :func:`group_weighted_quantile` — same micro-unit
    cumulative weights over a RANGE-framed value order, same one IEEE
    threshold multiply. ``key_name`` as in
    :func:`sql_group_weighted_stats`."""
    key_name = key_name or key_expr
    return f"""
    WITH t AS (
      SELECT {key_expr} AS k, {value_expr} AS x,
             CAST(FLOOR(({weight_expr}) * 1e6) AS BIGINT) AS wq
      FROM {table}
      WHERE ({value_expr}) IS NOT NULL AND ({weight_expr}) IS NOT NULL
    ), c AS (
      SELECT k, x,
             SUM(wq) OVER (PARTITION BY k ORDER BY x) AS cw,
             SUM(wq) OVER (PARTITION BY k) AS tw
      FROM t
    )
    SELECT k AS {key_name}, MIN(x) AS wquantile
    FROM c
    WHERE tw > 0
      AND CAST(cw AS DOUBLE) >= {float(q)!r} * CAST(tw AS DOUBLE)
    GROUP BY 1
    """


def group_weighted_corr_approx(
    df: DataFrame,
    group: str,
    x: str,
    y: str,
    weight_col: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 64,
    binsy: int = 64,
    ddof: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Approximate weighted correlation + covariance via the 2-D
    weighted histogram sketch — the MERGEABLE tier the quantile
    family got in r11, extended to the bivariate op (r11 VERDICT
    next-#3): one map-side-combined pass builds ``(group, binx, biny,
    Σ micro-unit weight)`` (≤ binsx·binsy rows per group, folds
    cell-wise via ``histsketch.hist_merge`` without rescans), then
    each cell's center stands in for its observations in the exact
    op's moment formulas. Error is bounded by the grid resolution
    (half a cell width per axis per moment), independent of data
    size; an append-only 100 TB pipeline maintains a live
    correlation summary per slice where the exact
    :func:`group_weighted_corr_cov` would rescan everything. Output
    ``(group, wcorr, wcov)``; NULL rules match the exact op. When
    each distinct (x, y) lattice point gets its own cell (discrete
    domains like discount/tax grids), the center substitution is an
    affine relabeling and corr matches the exact op EXACTLY —
    pinned in tests/test_weighted.py."""
    from pandas_rust_algos_spark.operators.histsketch import (
        hist2d_sketch_weighted,
        hist2d_weighted_corr_cov,
    )

    d = _prep(df, [group], dropna_keys)
    sk = hist2d_sketch_weighted(
        d, group, x, y, weight_col,
        lox=lox, hix=hix, loy=loy, hiy=hiy, binsx=binsx, binsy=binsy)
    return hist2d_weighted_corr_cov(
        sk, group, lox=lox, hix=hix, loy=loy, hiy=hiy,
        binsx=binsx, binsy=binsy, ddof=ddof)


def sql_group_weighted_corr_approx(
    table: str,
    key_expr: str,
    x_expr: str,
    y_expr: str,
    weight_expr: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 64,
    binsy: int = 64,
    ddof: int = 1,
) -> str:
    """DuckDB twin of :func:`group_weighted_corr_approx` — sketch
    build and moment finish replayed from the same expression trees
    (``histsketch.sql_hist2d_*``). Output columns ``(grp, wcorr,
    wcov)``."""
    from pandas_rust_algos_spark.operators.histsketch import (
        sql_hist2d_sketch_weighted,
        sql_hist2d_weighted_corr_cov,
    )

    sk = sql_hist2d_sketch_weighted(
        key_expr, x_expr, y_expr, weight_expr, table,
        lox=lox, hix=hix, loy=loy, hiy=hiy, binsx=binsx, binsy=binsy)
    return sql_hist2d_weighted_corr_cov(
        sk, lox=lox, hix=hix, loy=loy, hiy=hiy,
        binsx=binsx, binsy=binsy, ddof=ddof)
