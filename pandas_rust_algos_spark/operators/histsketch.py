"""Equi-width histogram sketches: the QUANTILE member of the
engine's mergeable-summary tier.

Tier map (all append-only-maintainable, all bounded-state, all
portable-hash/integer enough for a SQL oracle to replay bit-exactly):

- CMS  (``operators/frequency``): per-key frequency.
- HLL  (``operators/frequency``): cardinality.
- KMV  (``operators/kmv``):       cardinality + set algebra.
- histogram (here):               value distribution / quantiles.

The sketch is the classic fixed-grid histogram (public folklore;
equi-width variant of Ioannidis' histogram survey): the value domain
``[lo, hi)`` is cut into ``bins`` equal cells, the sketch is ``(group,
bin, cnt)`` — at most ``bins`` rows per group regardless of data size
— and sketches merge by cell-wise SUM, exactly (counting is
distributive), the same contract as ``cms_merge``. Quantile queries
walk the cumulative counts to the straddling cell and interpolate
within it, so the error is bounded by ONE CELL WIDTH in the value
domain: ``(hi-lo)/bins``, independent of row count and skew across
cells.

Trade vs the alternatives, stated honestly: Spark's
``percentile_approx`` (KLL/GK family, the engine's ``group_quantile_
approx``) gives RANK-error bounds without a domain and remains the
production default for unknown domains; the exact path
(``grouped_agg.group_quantile``) is the parity tool. What neither
gives is a *mergeable, engine-replayable* summary an append-only
pipeline can maintain per partition and fold without rescans — this
does, at the cost of fixing ``[lo, hi)`` up front (the "frozen
quantizer" contract, same as the IVF index: pick the domain once,
from the first slice or domain knowledge; out-of-range values clamp
into the edge cells and the clamp count is queryable).

Determinism: bin assignment is one fixed double expression evaluated
identically in Spark and DuckDB (same IEEE tree); counts are BIGINT;
the quantile interpolation is integer rank algebra plus one final
multiply-divide, rounded to 6 decimals on both engines (registry
rule 4).

Reference scope: the reference's quantile kernel is per-group exact
interpolation (``groupby.rs`` group_quantile — covered by
``group_quantile_*``); no sketch surface exists (SURVEY §2.3). This
is the driver-brief 100 TB extension.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import cells

__all__ = [
    "hist_sketch",
    "hist_merge",
    "hist_quantiles",
    "sql_hist_sketch",
    "sql_hist_quantiles",
    "hist_sketch_weighted",
    "hist_weighted_quantiles",
    "sql_hist_sketch_weighted",
    "sql_hist_weighted_quantiles",
    "hist2d_sketch_weighted",
    "hist2d_weighted_corr_cov",
    "sql_hist2d_sketch_weighted",
    "sql_hist2d_weighted_corr_cov",
]


def _check(lo: float, hi: float, bins: int) -> None:
    if not (hi > lo):
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")


def _bin_expr(col, lo: float, hi: float, bins: int):
    """Cell index in [0, bins-1]; out-of-range values clamp into the
    edge cells (the clamp keeps totals right so ranks stay exact —
    only the VALUE of an out-of-range quantile saturates at lo/hi)."""
    raw = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        * F.lit(float(bins)) / F.lit(float(hi - lo))
    ).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(bins - 1), raw))


def _sql_bin(e: str, lo: float, hi: float, bins: int) -> str:
    """DuckDB twin of :func:`_bin_expr`: same double expression, same
    clamp."""
    r = (f"CAST(FLOOR((CAST({e} AS DOUBLE) - {float(lo)}) "
         f"* {float(bins)} / {float(hi - lo)}) AS BIGINT)")
    return f"GREATEST(0, LEAST({bins - 1}, {r}))"


def _hist_sketch(axes: Sequence[tuple[str, str, float, float, int]],
                 weight: Column | None = None) -> cells.Cells:
    """The histogram cells of every form (1-D, weighted, 2-D, windowed),
    one ``(name, col, lo, hi, bins)`` per axis. Cells fold a row count
    ``cnt``, or with a ``weight`` its 1e-6 micro-unit BIGINT sum
    ``wcnt``. A row is kept iff every axis value and the weight are
    non-NULL and non-NaN (the engines disagree on floor(NaN))."""
    vals, project = [], []
    for name, col, lo, hi, bins in axes:
        _check(lo, hi, bins)
        vals.append(F.col(col).cast("double"))
        project.append(_bin_expr(F.col(col), lo, hi, bins).alias(name))
    fold = F.count(F.lit(1)).alias("cnt")
    if weight is not None:
        w = weight.cast("double")
        vals.append(w)
        project.append(F.floor(w * F.lit(1e6)).cast("long").alias("__wq"))
        fold = F.sum("__wq").alias("wcnt")
    keep = functools.reduce(operator.and_, [
        c for v in vals for c in (v.isNotNull(), ~F.isnan(v))])
    return cells.Cells(keep, tuple(a[0] for a in axes), tuple(project),
                       fold)


def hist_sketch(
    df: DataFrame,
    group: str,
    col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Build per-group histogram sketches ``(group, bin, cnt)`` — one
    map-side-combined aggregate: raw values shuffle only as cell ids
    that combine into ≤ bins rows per group per task, the same traffic
    shape as the CMS build."""
    return cells.build(
        df, [group], _hist_sketch([("bin", col, lo, hi, bins)]))


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histogram sketches cell-wise (sum per ``(group, bin)`` or
    ``(group, binx, biny)``) — EXACT by distributivity, like
    ``cms_merge``: the merge of per-partition/per-day sketches is
    byte-identical to the sketch of the concatenated data. All inputs
    must share the geometry. The state column (``cnt``, or the BIGINT
    micro-unit ``wcnt`` of weighted sketches) is read off the input."""
    return cells.merge(sketches, F.sum)


def hist_quantiles(
    sketch: DataFrame,
    group: str,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Quantile estimates from sketches alone: ``(group, q, est)`` for
    every q in ``qs``. Rank algebra: target rank ``r = ceil(q·n)``
    (clamped to ≥ 1); the answering cell is the first whose cumulative
    count reaches r; the estimate interpolates linearly inside that
    cell — ``edge_lo + width · (r - cum_before) / cell_cnt`` — so the
    error is ≤ one cell width. Integer ranks end-to-end; the one
    double interpolation is a fixed expression rounded to 6 decimals
    (engine-identical). Cost: the sketch is ≤ bins rows per group, so
    this is a window scan over KiB of state, never over data."""
    _check(lo, hi, bins)
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    width = (hi - lo) / bins
    w = Window.partitionBy(group).orderBy("bin")
    cum = (
        sketch
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy(group)))
    )
    out = None
    for q in qs:
        r = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(float(q)) * F.col("n").cast("double"))
            .cast("long"),
        )
        hit = (
            cum.where((F.col("cum") >= r)
                      & (F.col("cum") - F.col("cnt") < r))
            .select(
                F.col(group),
                F.lit(float(q)).alias("q"),
                F.round(
                    F.lit(float(lo))
                    + F.col("bin").cast("double") * F.lit(width)
                    + F.lit(width)
                    * (r - (F.col("cum") - F.col("cnt"))).cast("double")
                    / F.col("cnt").cast("double"),
                    6,
                ).alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def sql_hist_sketch(
    group_expr: str,
    col_expr: str,
    table: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> str:
    """DuckDB twin of :func:`hist_sketch`: same double bin expression,
    same clamp."""
    return f"""
    SELECT {group_expr} AS grp,
           {_sql_bin(col_expr, lo, hi, bins)} AS bin,
           COUNT(*) AS cnt
    FROM {table}
    WHERE {col_expr} IS NOT NULL
      AND NOT ISNAN(CAST({col_expr} AS DOUBLE))
    GROUP BY 1, 2
    """


def hist_sketch_weighted(
    df: DataFrame,
    group: str,
    col: str,
    weight_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Weighted histogram sketch ``(group, bin, wcnt)``: per cell, the
    1e-6 micro-unit SUM of weights (BIGINT — the ``weighted.py``
    quantization, so merges stay exact and both engines agree
    bit-for-bit). This is the 100 TB path the exact
    ``group_weighted_quantile`` docstring names: an append-only
    pipeline maintains ≤ ``bins`` rows per group per slice and folds
    them cell-wise (``hist_merge``) — no within-group sort, no rescan.
    NA rule matches the exact op (NULL value or NULL weight drops the
    row); NaN on either axis drops too (the engines disagree on
    floor(NaN))."""
    return cells.build(df, [group], _hist_sketch(
        [("bin", col, lo, hi, bins)], F.col(weight_col)))


def hist_weighted_quantiles(
    sketch: DataFrame,
    group: str,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Weighted quantile estimates from weighted sketches alone:
    ``(group, q, est)``. Same walk as :func:`hist_quantiles` but over
    cumulative WEIGHT: the target is ``q·W`` (one IEEE multiply of the
    BIGINT micro-unit total, the exact op's crossing test); the
    answering cell is the first whose cumulative weight reaches it;
    the estimate interpolates linearly inside the cell on the weight
    axis — error ≤ one cell width in the VALUE domain, independent of
    row count and weight skew across cells. Zero-total-weight groups
    are dropped (the exact op's ``tw > 0`` rule). Cost: ≤ bins rows
    per group — a window scan over KiB of state, never over data."""
    _check(lo, hi, bins)
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    width = (hi - lo) / bins
    w = Window.partitionBy(group).orderBy("bin")
    cum = (
        sketch
        .withColumn("cum", F.sum("wcnt").over(w))
        .withColumn("tw", F.sum("wcnt").over(Window.partitionBy(group)))
        .where(F.col("tw") > 0)
    )
    out = None
    for q in qs:
        target = F.lit(float(q)) * F.col("tw").cast("double")
        cum_before = (F.col("cum") - F.col("wcnt")).cast("double")
        hit = (
            cum.where((F.col("cum").cast("double") >= target)
                      & (cum_before < target))
            .select(
                F.col(group),
                F.lit(float(q)).alias("q"),
                F.round(
                    F.lit(float(lo))
                    + F.col("bin").cast("double") * F.lit(width)
                    + F.lit(width)
                    * (target - cum_before)
                    / F.col("wcnt").cast("double"),
                    6,
                ).alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def sql_hist_sketch_weighted(
    group_expr: str,
    col_expr: str,
    weight_expr: str,
    table: str,
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> str:
    """DuckDB twin of :func:`hist_sketch_weighted`: same bin
    expression, same micro-unit weight quantization."""
    return f"""
    SELECT {group_expr} AS grp,
           {_sql_bin(col_expr, lo, hi, bins)} AS bin,
           CAST(SUM(CAST(FLOOR(CAST({weight_expr} AS DOUBLE) * 1e6)
               AS BIGINT)) AS BIGINT) AS wcnt
    FROM {table}
    WHERE {col_expr} IS NOT NULL
      AND NOT ISNAN(CAST({col_expr} AS DOUBLE))
      AND {weight_expr} IS NOT NULL
      AND NOT ISNAN(CAST({weight_expr} AS DOUBLE))
    GROUP BY 1, 2
    """


def sql_hist_weighted_quantiles(
    sketch_cte: str,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> str:
    """DuckDB twin of :func:`hist_weighted_quantiles` over a weighted
    sketch CTE with columns ``(grp, bin, wcnt)`` — same cumulative
    weight walk, same in-cell interpolation, same tw > 0 drop."""
    if not qs:
        raise ValueError("qs must be non-empty")
    width = (hi - lo) / bins
    arms = []
    for q in qs:
        arms.append(f"""
      SELECT grp, CAST({float(q)} AS DOUBLE) AS q,
             ROUND({float(lo)} + CAST(bin AS DOUBLE) * {width}
                   + {width} * (target - CAST(cum_before AS DOUBLE))
                     / CAST(wcnt AS DOUBLE), 6) AS est
      FROM (
        SELECT grp, bin, wcnt, cum, cum - wcnt AS cum_before,
               {float(q)} * CAST(tw AS DOUBLE) AS target
        FROM cumulated WHERE tw > 0
      ) WHERE CAST(cum AS DOUBLE) >= target
          AND CAST(cum_before AS DOUBLE) < target""")
    return f"""
    WITH sk AS ({sketch_cte}),
    cumulated AS (
      SELECT grp, bin, wcnt,
             SUM(wcnt) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(wcnt) OVER (PARTITION BY grp) AS tw
      FROM sk
    )
    {" UNION ALL ".join(arms)}
    """


def sql_hist_quantiles(
    sketch_cte: str,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int = 256,
) -> str:
    """DuckDB twin of :func:`hist_quantiles` over a sketch CTE named
    in ``sketch_cte`` with columns ``(grp, bin, cnt)``."""
    if not qs:
        raise ValueError("qs must be non-empty")
    width = (hi - lo) / bins
    arms = []
    for q in qs:
        arms.append(f"""
      SELECT grp, CAST({float(q)} AS DOUBLE) AS q,
             ROUND({float(lo)} + CAST(bin AS DOUBLE) * {width}
                   + {width} * CAST(r - cum_before AS DOUBLE)
                     / CAST(cnt AS DOUBLE), 6) AS est
      FROM (
        SELECT grp, bin, cnt, cum, cum - cnt AS cum_before,
               GREATEST(CAST(1 AS BIGINT),
                 CAST(CEIL({float(q)} * CAST(n AS DOUBLE)) AS BIGINT)) AS r
        FROM cumulated
      ) WHERE cum >= r AND cum_before < r""")
    return f"""
    WITH sk AS ({sketch_cte}),
    cumulated AS (
      SELECT grp, bin, cnt,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS n
      FROM sk
    )
    {" UNION ALL ".join(arms)}
    """

# --------------------------------------------------------------- 2-D tier
#
# The BIVARIATE extension (r11 VERDICT next-#3): a (group, binx, biny,
# wcnt) cell grid over two value axes. Same contracts as the 1-D
# weighted sketch — micro-unit BIGINT weight sums per cell, cell-wise
# exact merge, frozen [lo, hi) domains — but the query it answers is
# the weighted covariance/correlation of (x, y): every moment the
# exact ``weighted.group_weighted_corr_cov`` needs (W, Σwx, Σwy, Σwxy,
# Σwxx, Σwyy) is recoverable from the grid by replacing each
# observation with its CELL CENTER. The center substitution perturbs x
# by at most half a cell width (same for y), so the moment error — and
# through the same finishing IEEE trees, the cov/corr error — is
# bounded by the grid resolution, independent of row count.
#
# Determinism is the part that needs care: summing double moments
# across cells would be order-dependent. So the per-group sufficient
# statistics stay INTEGER — Σwcnt, Σwcnt·binx, Σwcnt·biny,
# Σwcnt·binx·biny, Σwcnt·binx², Σwcnt·biny² are exact BIGINT sums in
# any order — and the value-domain moments come out of ONE fixed
# affine expression tree per group (x = cx0 + widthx·binx), evaluated
# identically by Spark and DuckDB.


def _check2d(lox: float, hix: float, loy: float, hiy: float,
             binsx: int, binsy: int) -> None:
    _check(lox, hix, binsx)
    _check(loy, hiy, binsy)


def hist2d_sketch_weighted(
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
) -> DataFrame:
    """Weighted 2-D histogram sketch ``(group, binx, biny, wcnt)``:
    per cell, the 1e-6 micro-unit BIGINT sum of weights — ≤
    ``binsx·binsy`` rows per group regardless of data size, built in
    ONE map-side-combined pass (raw rows shuffle only as combined
    cell ids). NA rule matches the exact bivariate op
    (``weighted.group_weighted_corr_cov``): a row contributes iff x
    AND y AND the weight are all non-NULL; NaN on any of the three
    drops too (the engines disagree on floor(NaN))."""
    return cells.build(df, [group], _hist_sketch(
        [("binx", x, lox, hix, binsx), ("biny", y, loy, hiy, binsy)],
        F.col(weight_col)))


def hist2d_weighted_corr_cov(
    sketch: DataFrame,
    group: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 64,
    binsy: int = 64,
    ddof: int = 1,
) -> DataFrame:
    """Weighted Pearson correlation + covariance estimates from 2-D
    sketches alone: ``(group, wcorr, wcov)``. Every observation is
    represented by its cell center, so each recovered moment — and
    the finishing cov/corr — deviates from the exact op by a bound
    set by the cell widths, not the data size. The per-group
    sufficient statistics are six exact BIGINT sums over ≤
    ``binsx·binsy`` cells (order-independent); the affine
    center-substitution and the cov/corr finish are ONE fixed double
    expression tree shared verbatim with the DuckDB twin. NULL rules
    match the exact op: corr NULL when either variance term ≤ 0, cov
    NULL when ``W − ddof ≤ 0``. Cost: a KiB-state aggregate, never a
    data scan."""
    _check2d(lox, hix, loy, hiy, binsx, binsy)
    wx = (hix - lox) / binsx
    wy = (hiy - loy) / binsy
    cx0 = lox + 0.5 * wx  # center of x-cell 0
    cy0 = loy + 0.5 * wy
    bx, by, w = F.col("binx"), F.col("biny"), F.col("wcnt")
    agged = sketch.groupBy(group).agg(
        F.sum(w).alias("__m0"),
        F.sum(w * bx).alias("__sx"),
        F.sum(w * by).alias("__sy"),
        F.sum(w * bx * by).alias("__sxy"),
        F.sum(w * bx * bx).alias("__sxx"),
        F.sum(w * by * by).alias("__syy"),
    )
    # micro-units -> real units, then the affine center substitution
    # x = cx0 + wx*binx (same tree as the SQL twin, parenthesized
    # identically)
    m0 = F.col("__m0").cast("double") / F.lit(1e6)
    sx = F.col("__sx").cast("double") / F.lit(1e6)
    sy = F.col("__sy").cast("double") / F.lit(1e6)
    sxy = F.col("__sxy").cast("double") / F.lit(1e6)
    sxx = F.col("__sxx").cast("double") / F.lit(1e6)
    syy = F.col("__syy").cast("double") / F.lit(1e6)
    mx = F.lit(cx0) * m0 + F.lit(wx) * sx
    my = F.lit(cy0) * m0 + F.lit(wy) * sy
    mxx = (F.lit(cx0 * cx0) * m0 + F.lit(2.0 * cx0 * wx) * sx
           + F.lit(wx * wx) * sxx)
    myy = (F.lit(cy0 * cy0) * m0 + F.lit(2.0 * cy0 * wy) * sy
           + F.lit(wy * wy) * syy)
    mxy = (F.lit(cx0 * cy0) * m0 + F.lit(cx0 * wy) * sy
           + F.lit(cy0 * wx) * sx + F.lit(wx * wy) * sxy)
    vx_ = m0 * mxx - mx * mx
    vy_ = m0 * myy - my * my
    num = m0 * mxy - mx * my
    corr = F.when((m0 > 0) & (vx_ > 0) & (vy_ > 0),
                  num / F.sqrt(vx_) / F.sqrt(vy_))
    denom = m0 - F.lit(float(ddof))
    cov = F.when((m0 > 0) & (denom > 0),
                 (mxy - mx * my / m0) / denom)
    return agged.select(
        F.col(group), corr.alias("wcorr"), cov.alias("wcov"))


def sql_hist2d_sketch_weighted(
    group_expr: str,
    x_expr: str,
    y_expr: str,
    weight_expr: str,
    table: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 64,
    binsy: int = 64,
) -> str:
    """DuckDB twin of :func:`hist2d_sketch_weighted`: same bin
    expressions, same micro-unit quantization, same NA rule."""
    _check2d(lox, hix, loy, hiy, binsx, binsy)
    return f"""
    SELECT {group_expr} AS grp,
           {_sql_bin(x_expr, lox, hix, binsx)} AS binx,
           {_sql_bin(y_expr, loy, hiy, binsy)} AS biny,
           CAST(SUM(CAST(FLOOR(CAST({weight_expr} AS DOUBLE) * 1e6)
               AS BIGINT)) AS BIGINT) AS wcnt
    FROM {table}
    WHERE {x_expr} IS NOT NULL
      AND NOT ISNAN(CAST({x_expr} AS DOUBLE))
      AND {y_expr} IS NOT NULL
      AND NOT ISNAN(CAST({y_expr} AS DOUBLE))
      AND {weight_expr} IS NOT NULL
      AND NOT ISNAN(CAST({weight_expr} AS DOUBLE))
    GROUP BY 1, 2, 3
    """


def sql_hist2d_weighted_corr_cov(
    sketch_cte: str,
    *,
    lox: float,
    hix: float,
    loy: float,
    hiy: float,
    binsx: int = 64,
    binsy: int = 64,
    ddof: int = 1,
) -> str:
    """DuckDB twin of :func:`hist2d_weighted_corr_cov` over a sketch
    CTE with columns ``(grp, binx, biny, wcnt)`` — identical integer
    sufficient statistics, identical affine/finish trees, identical
    NULL rules."""
    _check2d(lox, hix, loy, hiy, binsx, binsy)
    wx = (hix - lox) / binsx
    wy = (hiy - loy) / binsy
    cx0 = lox + 0.5 * wx
    cy0 = loy + 0.5 * wy
    m0 = "(CAST(im0 AS DOUBLE) / 1e6)"
    sx = "(CAST(isx AS DOUBLE) / 1e6)"
    sy = "(CAST(isy AS DOUBLE) / 1e6)"
    sxy = "(CAST(isxy AS DOUBLE) / 1e6)"
    sxx = "(CAST(isxx AS DOUBLE) / 1e6)"
    syy = "(CAST(isyy AS DOUBLE) / 1e6)"
    mx = f"({cx0!r} * {m0} + {wx!r} * {sx})"
    my = f"({cy0!r} * {m0} + {wy!r} * {sy})"
    mxx = (f"({cx0 * cx0!r} * {m0} + {2.0 * cx0 * wx!r} * {sx} "
           f"+ {wx * wx!r} * {sxx})")
    myy = (f"({cy0 * cy0!r} * {m0} + {2.0 * cy0 * wy!r} * {sy} "
           f"+ {wy * wy!r} * {syy})")
    mxy = (f"({cx0 * cy0!r} * {m0} + {cx0 * wy!r} * {sy} "
           f"+ {cy0 * wx!r} * {sx} + {wx * wy!r} * {sxy})")
    vx_ = f"({m0} * {mxx} - {mx} * {mx})"
    vy_ = f"({m0} * {myy} - {my} * {my})"
    num = f"({m0} * {mxy} - {mx} * {my})"
    return f"""
    WITH sk2 AS ({sketch_cte}),
    stats AS (
      SELECT grp,
             CAST(SUM(wcnt) AS BIGINT) AS im0,
             CAST(SUM(wcnt * binx) AS BIGINT) AS isx,
             CAST(SUM(wcnt * biny) AS BIGINT) AS isy,
             CAST(SUM(wcnt * binx * biny) AS BIGINT) AS isxy,
             CAST(SUM(wcnt * binx * binx) AS BIGINT) AS isxx,
             CAST(SUM(wcnt * biny * biny) AS BIGINT) AS isyy
      FROM sk2 GROUP BY 1
    )
    SELECT grp,
           CASE WHEN {m0} > 0 AND {vx_} > 0 AND {vy_} > 0 THEN
             {num} / SQRT({vx_}) / SQRT({vy_})
           END AS wcorr,
           CASE WHEN {m0} > 0 AND {m0} - {float(ddof)!r} > 0 THEN
             ({mxy} - {mx} * {my} / {m0}) / ({m0} - {float(ddof)!r})
           END AS wcov
    FROM stats
    """
