"""Grouped transforms — per-row results over ordered groups.

Mirrors the reference's cumulative/indexer kernels (SURVEY §2.1 rows
17-23): ``group_cumsum`` ``group_cumprod`` ``group_cummin``
``group_cummax`` (``/root/reference/src/groupby.rs:211-536,2185-2293``),
``group_shift_indexer`` (``groupby.rs:538-595``),
``group_fillna_indexer`` (``groupby.rs:621-669``) and the
declared-but-unimplemented ``group_rank`` (``lib.rs:1259-1274``).

The reference walks rows in array order with per-group running state; in
a distributed engine "array order" must be an explicit order column and
running state becomes a window frame:

    Window.partitionBy(keys).orderBy(order)
          .rowsBetween(unboundedPreceding, currentRow)

One shuffle+sort on (keys, order) serves *all* window expressions built
on the same spec — callers composing several transforms should pass the
same keys/order so Catalyst reuses a single Sort+Exchange. Every
transform has exactly one code path, and all expressions stay JVM-side
(no Python in the hot path).

NA semantics (pandas): an NA input row yields NA output at that row;
with ``skipna=False`` the first NA *poisons* the rest of the group
(``groupby.rs:505-519``) — expressed as a running has-seen-NA flag.
Reference's cummax-computes-cummin dispatch bug (SURVEY §2.4 #1) is not
reproduced.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

from pandas_rust_algos_spark.operators.grouped_agg import (
    _cols,
    _nn,
    _order_stat,
)

__all__ = [
    "running_window",
    "group_cumsum",
    "group_cumprod",
    "group_cummin",
    "group_cummax",
    "group_cumcount",
    "group_shift",
    "group_fillna",
    "group_interpolate",
    "group_rank",
    "group_diff",
    "group_pct_change",
    "rolling_agg",
    "expanding_agg",
    "rolling_time_agg",
    "rolling_corr_cov",
    "rolling_quantile",
    "group_ewm_mean",
    "group_ewm_var",
    "group_zscore",
    "group_winsorize",
    "group_robust_zscore",
]


def running_window(keys: Sequence[str] | str, order: Sequence[str] | str) -> WindowSpec:
    """The shared running-frame window spec (start-of-group → current row)."""
    return (
        Window.partitionBy(*_cols(keys))
        .orderBy(*_cols(order))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _trailing_window(
    keys: Sequence[str] | str, order: Sequence[str] | str, window: int
) -> WindowSpec:
    """The rolling row-count frame: ``window-1`` preceding rows .. current."""
    return (
        Window.partitionBy(*_cols(keys))
        .orderBy(*_cols(order))
        .rowsBetween(-(window - 1), Window.currentRow)
    )


def _shifted(c: Column | str, periods: int, w: WindowSpec) -> Column:
    """``c`` from ``periods`` rows earlier in the window's order (later
    for negative ``periods``); NULL past the group's edge."""
    return F.lag(c, periods).over(w) if periods >= 0 else F.lead(c, -periods).over(w)


def _cumulative(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    make_running,
    *,
    skipna: bool = True,
    out_suffix: str,
) -> DataFrame:
    """Shared NA/poisoning scaffolding for all cumulative ops."""
    w = running_window(keys, order)
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        run = make_running(c, w)
        if skipna:
            # NA row → NA output; later rows continue (sum/min/max skip nulls)
            expr = F.when(c.isNull(), F.lit(None)).otherwise(run)
        else:
            seen_na = F.max(c.isNull().cast("int")).over(w) == 1
            expr = F.when(seen_na, F.lit(None)).otherwise(run)
        out = out.withColumn(f"{v}{out_suffix}", expr)
    return out


def group_cumsum(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    skipna: bool = True,
    out_suffix: str = "_cumsum",
) -> DataFrame:
    """Per-group running sum (``group_cumsum``, ``groupby.rs:424-536``).
    The reference Kahan-compensates floats (``groupby.rs:302-360``);
    window double sums at double precision are accepted as-is."""
    return _cumulative(df, keys, order, values,
                       lambda c, w: F.sum(c).over(w),
                       skipna=skipna, out_suffix=out_suffix)


def group_cummin(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    skipna: bool = True,
    out_suffix: str = "_cummin",
) -> DataFrame:
    """Per-group running min (``group_cummin``, ``groupby.rs:2185-2293``)."""
    return _cumulative(df, keys, order, values,
                       lambda c, w: F.min(c).over(w),
                       skipna=skipna, out_suffix=out_suffix)


def group_cummax(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    skipna: bool = True,
    out_suffix: str = "_cummax",
) -> DataFrame:
    """Per-group running max — the *intended* semantics; the reference's
    dispatch passes ``compute_max=false`` everywhere (SURVEY §2.4 #1)."""
    return _cumulative(df, keys, order, values,
                       lambda c, w: F.max(c).over(w),
                       skipna=skipna, out_suffix=out_suffix)


def group_cumcount(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    *,
    out_col: str = "cumcount",
) -> DataFrame:
    """0-based running position within group (pandas ``cumcount``)."""
    w = running_window(keys, order)
    return df.withColumn(out_col, F.count(F.lit(1)).over(w) - 1)


def _running_prod(c: Column, w: WindowSpec) -> Column:
    """Running product as sign/zero-aware ``exp(Σ log|x|)``: any zero so
    far → 0, the parity of the negatives → the sign."""
    zeros = F.sum(F.when(c == 0, 1).otherwise(0)).over(w)
    negs = F.sum(F.when(c < 0, 1).otherwise(0)).over(w)
    logsum = F.sum(F.when(c != 0, F.log(F.abs(c)))).over(w)
    sign = F.when(negs % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when(zeros > 0, F.lit(0.0)).otherwise(sign * F.exp(logsum))


def group_cumprod(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    skipna: bool = True,
    out_suffix: str = "_cumprod",
) -> DataFrame:
    """Per-group running product (``group_cumprod``,
    ``groupby.rs:211-300``).

    Spark has no windowed product builtin, so it is composed JVM-side
    as sign/zero-aware ``exp(Σ log|x|)``:

        zeros>0 → 0;  parity(negatives) → sign;  exp(sum(log(abs)))

    which is scale-friendly (pure window aggregates) at ~1e-14 relative
    error from the log/exp round-trip; a zero sticks exactly. Same
    NA/poisoning rules as :func:`group_cumsum`.
    """
    return _cumulative(df, keys, order, values, _running_prod,
                       skipna=skipna, out_suffix=out_suffix)


def group_shift(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    periods: int = 1,
    out_suffix: str = "_shift",
) -> DataFrame:
    """Per-group shift by ±periods (``group_shift_indexer``,
    ``groupby.rs:538-595``). The reference emits a row-index indexer
    with -1 for shifted-out slots; Spark's ``lag``/``lead`` produce the
    gathered values directly, NULL where the reference says -1 —
    including groups shorter than \\|periods\\| (``groupby.rs:585-588``)."""
    w = Window.partitionBy(*_cols(keys)).orderBy(*_cols(order))
    out = df
    for v in _cols(values):
        out = out.withColumn(f"{v}{out_suffix}", _shifted(v, periods, w))
    return out


def group_fillna(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    direction: str = "ffill",
    limit: int = -1,
    dropna_keys: bool = False,
    out_suffix: str = "_filled",
) -> DataFrame:
    """Per-group ffill/bfill with consecutive-fill ``limit``
    (``group_fillna_indexer``, ``groupby.rs:621-669``).

    ffill = last non-null over (start → current); bfill is the same
    algorithm on the reversed order (``groupby.rs:606-608``), i.e.
    first non-null over (current → end) ≡ last-non-null over a
    descending-ordered running frame. ``limit`` caps the fill distance:
    distance = row_number − row_number-at-last-valid (``645-650``).
    ``dropna_keys=True`` (reference ``dropna``): NULL-key rows stay
    unfilled (``groupby.rs:642-643``) — rows are kept, not dropped.
    """
    if direction not in ("ffill", "bfill"):
        raise ValueError("direction must be 'ffill' or 'bfill'")
    keys, order = _cols(keys), _cols(order)
    ordering = [F.col(o) for o in order]
    if direction == "bfill":
        ordering = [o.desc() for o in ordering]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        rn = F.row_number().over(Window.partitionBy(*keys).orderBy(*ordering))
        last_valid_rn = F.max(F.when(c.isNotNull(), rn)).over(w)
        filled = F.last(c, ignorenulls=True).over(w)
        if limit is not None and limit >= 0:
            dist = rn - last_valid_rn
            filled = F.when(dist <= limit, filled)
        expr = F.when(c.isNotNull(), c).otherwise(filled)
        if dropna_keys:
            null_key = None
            for k in keys:
                nk = F.col(k).isNull()
                null_key = nk if null_key is None else (null_key | nk)
            expr = F.when(null_key, c).otherwise(expr)
        out = out.withColumn(f"{v}{out_suffix}", expr)
    return out


def group_interpolate(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    out_suffix: str = "_interp",
) -> DataFrame:
    """pandas ``interpolate(method='linear')`` over ordered groups:
    each NULL (or NaN) run is filled linearly between its surrounding
    observed values by *row position* (pandas' default linear method
    interpolates on the positional index, not on a time column).
    pandas edge semantics: leading NULLs stay NULL (nothing to anchor
    the left end), trailing NULLs hold the last observed value.

    Everything is window algebra over ONE (keys, order) sort — the
    surrounding anchors are last/first-non-null over half-open frames
    with their row numbers, then a straight-line blend. No Python, no
    per-group buffering; state per row is O(1).
    """
    keys, order = _cols(keys), _cols(order)
    w = Window.partitionBy(*keys).orderBy(*order)
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    rn = F.row_number().over(w)
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        marked_rn = F.when(c.isNotNull(), rn)
        prev_v = F.last(c, ignorenulls=True).over(wb)
        next_v = F.first(c, ignorenulls=True).over(wf)
        prev_rn = F.last(marked_rn, ignorenulls=True).over(wb)
        next_rn = F.first(marked_rn, ignorenulls=True).over(wf)
        frac = (rn - prev_rn).cast("double") / (next_rn - prev_rn).cast("double")
        expr = (
            F.when(c.isNotNull(), c)
            .when(prev_v.isNull(), F.lit(None))        # leading gap
            .when(next_v.isNull(), prev_v)             # trailing gap: hold
            .otherwise(prev_v + (next_v - prev_v) * frac)
        )
        out = out.withColumn(f"{v}{out_suffix}", expr)
    return out


def group_rank(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    method: str = "average",
    ascending: bool = True,
    pct: bool = False,
    na_option: str = "keep",
    out_col: str = "rank",
) -> DataFrame:
    """Per-group rank — the reference *declares* this with the full
    pandas surface but raises NotImplementedError (``lib.rs:1259-1274``);
    we implement the declared intent.

    ties_method: average|min|max|first|dense; na_option: keep|top|bottom.
    pct divides by the count of ranked (non-null) values per group.
    """
    methods = ("average", "min", "max", "first", "dense")
    if method not in methods:
        raise ValueError(f"method must be one of {methods}")
    if na_option not in ("keep", "top", "bottom"):
        raise ValueError("na_option must be keep|top|bottom")

    keys = _cols(keys)
    c = _nn(df, value)
    if na_option == "top":
        vc = c.asc_nulls_first() if ascending else c.desc_nulls_first()
    else:
        # keep: NULLs must sort last so they don't displace the ranks of
        # observed values (they're masked to NULL below); bottom: same
        # order, but NULLs receive the trailing ranks
        vc = c.asc_nulls_last() if ascending else c.desc_nulls_last()
    w = Window.partitionBy(*keys).orderBy(vc)

    if method == "first":
        r = F.row_number().over(w).cast("double")
    elif method == "dense":
        r = F.dense_rank().over(w).cast("double")
    elif method == "min":
        r = F.rank().over(w).cast("double")
    else:
        # max = rank + ties - 1 ; average = (min + max) / 2.
        # ties = size of the peers frame (RANGE CURRENT ROW..CURRENT ROW
        # = rows equal on the order key) — shares the (keys, value)
        # shuffle+sort of the rank window instead of forcing a second
        # exchange partitioned by (keys, value)
        ties = F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        rmin = F.rank().over(w).cast("double")
        r = rmin + (ties - 1) if method == "max" else rmin + (ties - 1) / 2.0

    if na_option == "keep":
        r = F.when(c.isNull(), F.lit(None)).otherwise(r)
        denom = F.count(c).over(Window.partitionBy(*keys))
    else:
        denom = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    if pct:
        r = r / denom
    return df.withColumn(out_col, r)


def group_diff(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    periods: int = 1,
    out_suffix: str = "_diff",
) -> DataFrame:
    """Per-group discrete difference (pandas ``diff``): v - shift(v, periods).
    NULL where the shifted slot is out of the group (or either side NA)."""
    w = Window.partitionBy(*_cols(keys)).orderBy(*_cols(order))
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        prev = _shifted(c, periods, w)
        out = out.withColumn(f"{v}{out_suffix}", c - prev)
    return out


def group_pct_change(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    periods: int = 1,
    out_suffix: str = "_pct",
) -> DataFrame:
    """Per-group relative change (pandas ``pct_change``):
    v / shift(v, periods) - 1. Division by zero yields NULL (pandas
    emits inf; NULL is the engine's NA convention — documented
    deviation, matching SQL semantics)."""
    w = Window.partitionBy(*_cols(keys)).orderBy(*_cols(order))
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        prev = _shifted(c, periods, w)
        out = out.withColumn(
            f"{v}{out_suffix}",
            F.when(prev != 0, c / prev - 1),
        )
    return out


#: window aggregates by pandas name, shared by every rolling/expanding op
_WINDOW_AGGS = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
                "std": F.stddev_samp, "var": F.var_samp, "count": F.count}


def _check_aggs(aggs: Sequence[str], kind: str) -> None:
    bad = set(aggs) - set(_WINDOW_AGGS)
    if bad:
        raise ValueError(f"unsupported {kind} aggs {sorted(bad)}; "
                         f"choose from {sorted(_WINDOW_AGGS)}")


def _frame_aggs(
    df: DataFrame,
    values: Sequence[str] | str,
    w: WindowSpec,
    aggs: Sequence[str],
    min_periods: int,
    out_fmt: str,
) -> DataFrame:
    """Each agg of each value over frame ``w``, NULL where the frame
    holds fewer than ``min_periods`` non-null observations — expressed
    as a count over the same frame, so every expression shares one
    Sort+Exchange."""
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        nobs = F.count(c).over(w)
        for a in aggs:
            expr = F.when(nobs >= min_periods, _WINDOW_AGGS[a](c).over(w))
            out = out.withColumn(out_fmt.format(v=v, a=a), expr)
    return out


def rolling_agg(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    window: int,
    aggs: Sequence[str] = ("mean",),
    min_periods: int | None = None,
    out_fmt: str = "{v}_roll_{a}",
) -> DataFrame:
    """pandas ``rolling(window, min_periods)`` over ordered groups:
    trailing row-count frames (window-1 preceding .. current).

    min_periods (default = window) NULLs positions whose frame holds
    fewer non-null observations; every rolling expression for one
    (keys, order, window) shares a single Sort+Exchange.
    """
    _check_aggs(aggs, "rolling")
    w = _trailing_window(keys, order, window)
    mp = window if min_periods is None else min_periods
    return _frame_aggs(df, values, w, aggs, mp, out_fmt)


def expanding_agg(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    aggs: Sequence[str] = ("mean",),
    min_periods: int = 1,
    out_fmt: str = "{v}_exp_{a}",
) -> DataFrame:
    """pandas ``expanding(min_periods)`` over ordered groups: start-of-
    group → current-row frames (``rolling_agg`` with an unbounded left
    edge). Positions whose frame holds fewer than ``min_periods``
    non-null observations yield NULL.
    """
    _check_aggs(aggs, "expanding")
    return _frame_aggs(df, values, running_window(keys, order), aggs,
                       min_periods, out_fmt)


def rolling_time_agg(
    df: DataFrame,
    keys: Sequence[str] | str,
    ts_col: str,
    values: Sequence[str] | str,
    *,
    duration: str = "1 hour",
    aggs: Sequence[str] = ("count", "sum"),
    closed: str = "right",
    out_fmt: str = "{v}_troll_{a}",
) -> DataFrame:
    """pandas ``rolling('1h', on=ts)`` over ordered groups: trailing
    *time-based* frames ending at each row's time ``t``.

    ``closed`` selects which frame ends are inclusive, exactly as in
    pandas: ``'right'`` (the pandas default for offset windows) is the
    half-open ``(t-duration, t]``; ``'both'`` is ``[t-duration, t]``
    (what a bare SQL ``RANGE ... PRECEDING AND CURRENT ROW`` computes);
    ``'left'`` is ``[t-duration, t)``; ``'neither'`` is the open
    interval. Because the order key is integer epoch-microseconds, each
    variant is an exact integer frame bound — e.g. 'right' is
    ``rangeBetween(-duration+1µs, 0)`` — no float epsilon games.

    Row-count frames (``rolling_agg``) answer "last k observations";
    time frames answer "last hour" — the shape every event-rate /
    velocity feature uses. Spark's RANGE frame needs a single numeric
    order expression, so the timestamp is ordered as epoch microseconds
    and the frame bound is the duration in microseconds — exact integer
    arithmetic, no unit drift. Rows tied on ts are frame *peers*: every
    one of them sees the identical frame (SQL RANGE semantics), making
    the result a deterministic row set even when ties arrive in any
    order — no tiebreak column is needed, unlike ROWS frames.

    Scale: one Sort+Exchange on (keys, ts) serves all requested aggs;
    state per frame is O(1) (sliding aggregates), never a buffered list.
    """
    _check_aggs(aggs, "rolling")
    _CLOSED = {"right": (1, 0), "both": (0, 0),
               "left": (0, -1), "neither": (1, -1)}
    if closed not in _CLOSED:
        raise ValueError(f"closed must be one of {sorted(_CLOSED)}, "
                         f"got {closed!r}")
    dur_us = _duration_to_us(duration)
    lo_off, hi = _CLOSED[closed]
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(*_cols(keys))
        .orderBy(ord_us)
        .rangeBetween(-dur_us + lo_off, hi)
    )
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        for a in aggs:
            out = out.withColumn(out_fmt.format(v=v, a=a),
                                 _WINDOW_AGGS[a](c).over(w))
    return out


_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _duration_to_us(duration: str) -> int:
    """'90 minutes' → 5_400_000_000 µs (whole units only — RANGE bounds
    are exact integers, never floats)."""
    parts = duration.strip().split()
    if len(parts) != 2 or not parts[0].isdigit() or parts[1] not in _UNITS_US:
        raise ValueError(
            f"duration must look like '<n> <unit>' with unit in "
            f"{sorted(set(_UNITS_US))}, got {duration!r}")
    return int(parts[0]) * _UNITS_US[parts[1]]


def rolling_corr_cov(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    x: str,
    y: str,
    *,
    window: int,
    min_periods: int | None = None,
    scale: int = 3,
    out_corr: str = "roll_corr",
    out_cov: str = "roll_cov",
) -> DataFrame:
    """pandas ``rolling(window).corr/cov`` between two columns over
    ordered groups — trailing row frames, pairwise-complete pairs.

    Same exact fixed-point power-sum construction as
    ``grouped_agg.group_corr_cov`` (n, Σx, Σy, Σxy, Σx², Σy² over
    ``floor(v·10^scale)`` integers, exact in decimal(38)), but each sum
    is a window aggregate over ONE shared frame: all six ride a single
    Sort+Exchange on (keys, order), and the float division at the end
    starts from identical integers on every engine/partitioning.

    ``min_periods`` (default ``window``) applies to the count of
    pairwise-complete rows in the frame; zero variance in the frame →
    NULL corr (pandas NaN). Covariance is the sample (ddof=1) one.
    """
    mp = window if min_periods is None else min_periods
    w = _trailing_window(keys, order, window)
    k = 10 ** scale
    cx = _nn(df, x)
    cy = _nn(df, y)
    both = cx.isNotNull() & cy.isNotNull()
    fx = F.when(both, F.floor(cx * F.lit(k)).cast("decimal(38,0)"))
    fy = F.when(both, F.floor(cy * F.lit(k)).cast("decimal(38,0)"))
    n = F.count(F.when(both, F.lit(1))).over(w).cast("decimal(38,0)")
    sx, sy = F.sum(fx).over(w), F.sum(fy).over(w)
    sxy = F.sum(fx * fy).over(w)
    sxx, syy = F.sum(fx * fx).over(w), F.sum(fy * fy).over(w)
    cov_num = (n * sxy - sx * sy).cast("double")
    vx = (n * sxx - sx * sx).cast("double")
    vy = (n * syy - sy * sy).cast("double")
    corr = F.when((n >= mp) & (n >= 2) & (vx > 0) & (vy > 0),
                  cov_num / F.sqrt(vx) / F.sqrt(vy))
    cov = F.when((n >= mp) & (n >= 2),
                 cov_num / (n * (n - 1)).cast("double") / F.lit(float(k * k)))
    return df.withColumn(out_corr, corr).withColumn(out_cov, cov)


def rolling_quantile(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    value: str,
    *,
    window: int,
    q: float,
    min_periods: int | None = None,
    out_col: str = "roll_quantile",
) -> DataFrame:
    """pandas ``rolling(window).quantile(q)`` (linear interpolation)
    over ordered groups — exact order statistics from a sorted
    *bounded* array per frame.

    Unlike grouped quantiles (where buffering a whole group is the
    scale hazard the rank-window path in ``grouped_agg`` exists to
    avoid), a rolling frame holds at most ``window`` rows by
    construction, so ``collect_list`` + ``array_sort`` per frame is
    O(window) state — safe at any table size, still one shared
    Sort+Exchange with every other window expression on the same
    (keys, order).

    Linear interpolation ``lo + (hi - lo)·frac`` over integer inputs
    (e.g. fixed-point micro-units) is exact in doubles up to 2⁵¹, which
    is what the oracle twin relies on; nulls are excluded and
    ``min_periods`` (default ``window``) applies to the non-null count.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0,1], got {q}")
    mp = window if min_periods is None else min_periods
    w = _trailing_window(keys, order, window)
    c = _nn(df, value)
    arr = F.array_sort(F.collect_list(c).over(w))
    n = F.size(arr)
    pos = (n - 1).cast("double") * F.lit(float(q))
    lo = F.floor(pos).cast("int")
    frac = pos - lo.cast("double")
    lo_v = F.element_at(arr, lo + 1).cast("double")
    hi_v = F.element_at(arr, F.least(lo + 2, n)).cast("double")
    val = lo_v + (hi_v - lo_v) * frac
    return df.withColumn(out_col, F.when(n >= F.greatest(F.lit(mp), F.lit(1)),
                                         val))


#: longest EWM lookback frame, in rows (see :func:`_ewm_frame`)
_EWM_MAX_LOOKBACK = 10_000
#: relative weight of the terms an EWM lookback frame leaves out
_EWM_TRUNCATION = 1e-15


def _ewm_frame(
    keys: list[str], order: list[str], alpha: float
) -> tuple[float, WindowSpec]:
    """The decay ``1-α`` and the bounded trailing frame every EWM fold
    runs over: lookback K rows with ``(1-α)^K < 1e-15``, so the terms
    left out are below double precision (α=0.5 → K=50; smaller α →
    longer K). K is capped at :data:`_EWM_MAX_LOOKBACK` rows to keep
    per-row state bounded; an ``alpha`` that would need more raises
    rather than silently breaking the bound."""
    import math

    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    w1 = 1.0 - alpha
    K = 0 if w1 == 0.0 else math.ceil(math.log(_EWM_TRUNCATION) / math.log(w1))
    if K > _EWM_MAX_LOOKBACK:
        min_alpha = 1.0 - _EWM_TRUNCATION ** (1.0 / _EWM_MAX_LOOKBACK)
        raise ValueError(
            f"alpha={alpha} needs a {K}-row lookback to keep the EWM "
            f"truncation below {_EWM_TRUNCATION:g}; the smallest supported "
            f"alpha is {math.ceil(min_alpha * 1e6) / 1e6} "
            f"({_EWM_MAX_LOOKBACK}-row cap)")
    frame = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-K, Window.currentRow)
    )
    return w1, frame


def group_ewm_mean(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    alpha: float,
    ignore_na: bool = True,
    adjust: bool = True,
    na_output: str = "null",
    out_suffix: str = "_ewm",
) -> DataFrame:
    """Per-group exponentially weighted mean (pandas ``ewm(alpha=...)
    .mean()``, adjusted form): y_t = Σ_{i<=t} (1-α)^(t-i)·x_i / Σ w^k.

    ``adjust=False`` computes the recursive form instead
    (y_0 = x_0; y_t = (1-α)·y_{t-1} + α·x_t) via the same bounded
    fold: the frame's oldest element seeds y, later elements apply the
    recurrence. For rows deeper than the lookback this assigns the
    frame-opening element weight (1-α)^K instead of the exact
    α(1-α)^K + tail — an error below (1-α)^K ≈ 1e-15 relative, the
    same truncation bound as the adjusted path. With
    ``ignore_na=False`` the fold carries pandas' exact
    ``(weighted_avg, old_wt)`` state: a NULL row multiplies ``old_wt``
    by (1-α) without contributing, and each observation combines as
    ``((1-α)·old_wt·y + α·x) / ((1-α)·old_wt + α)`` then resets
    ``old_wt`` to 1 — pandas' own recurrence for this mode.

    The recurrence stays JVM-side, re-expressed as a fold over a
    *bounded* trailing frame — lookback K chosen so (1-α)^K < 1e-15,
    i.e. truncated terms are below double precision (for α=0.5 that's
    K=50; smaller α → longer K). State per row is the collected frame
    (K values), so memory is bounded and independent of group size —
    this is what makes it viable inside a 10^9-row group where the
    exact recurrence would serialize. K is capped at 10,000 rows, so
    ``alpha`` below about 0.00345 raises ``ValueError``.

    NA handling: with ``ignore_na=True``, ``collect_list`` drops NULLs
    so decay steps skip NA rows; ``ignore_na=False`` (pandas' default)
    decays across gaps — every row ages the weights whether or not it
    carries a value (implemented by folding over (value, validity)
    structs, so NULL rows decay the accumulators without contributing).
    ``na_output`` picks the convention for NA *input* rows:
    ``"null"`` (default) emits NULL, the engine-wide transform
    convention; ``"carry"`` emits the running mean carried past the NA
    row — pandas' convention, differential-tested against
    ``Series.ewm`` with injected NULLs.
    """
    if na_output not in ("null", "carry"):
        raise ValueError("na_output must be 'null' or 'carry'")
    w1, frame = _ewm_frame(_cols(keys), _cols(order), alpha)
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        if not adjust and not ignore_na:
            # pandas' exact (weighted_avg, old_wt) recurrence: every row
            # decays old_wt, NULL rows contribute nothing, observations
            # combine then reset old_wt to 1
            pair = F.struct(
                F.coalesce(c, F.lit(0.0)).alias("x"),
                c.isNotNull().cast("double").alias("m"),
            )
            vals = F.collect_list(pair).over(frame)
            folded = F.aggregate(
                vals,
                F.struct(
                    F.lit(None).cast("double").alias("y"),
                    F.lit(1.0).alias("ow"),
                ),
                lambda acc, p: F.struct(
                    F.when(
                        acc["y"].isNull(), F.when(p["m"] > 0, p["x"])
                    )
                    .otherwise(
                        F.when(
                            p["m"] > 0,
                            (acc["ow"] * F.lit(w1) * acc["y"]
                             + F.lit(alpha) * p["x"])
                            / (acc["ow"] * F.lit(w1) + F.lit(alpha)),
                        ).otherwise(acc["y"])
                    )
                    .alias("y"),
                    F.when(
                        acc["y"].isNotNull() & (p["m"] == 0),
                        acc["ow"] * F.lit(w1),
                    )
                    .otherwise(F.lit(1.0))
                    .alias("ow"),
                ),
            )
            expr = folded["y"]
        elif ignore_na and not adjust:
            vals = F.collect_list(c).over(frame)
            n = F.size(vals)
            # recursive form: oldest frame element seeds y, the rest
            # apply y = (1-α)y + αx; init flagged via a null sentinel
            folded = F.aggregate(
                vals,
                F.struct(F.lit(None).cast("double").alias("y")),
                lambda acc, x: F.struct(
                    F.when(acc["y"].isNull(), x)
                    .otherwise(acc["y"] * F.lit(w1) + x * F.lit(alpha))
                    .alias("y")
                ),
            )
            expr = F.when(n > 0, folded["y"])
        elif ignore_na:
            vals = F.collect_list(c).over(frame)  # non-null values, frame order
            n = F.size(vals)
            # fold oldest->newest: acc = (num, den); each step decays both
            # then adds the current term — O(K) per row, bounded state
            folded = F.aggregate(
                vals,
                F.struct(F.lit(0.0).alias("num"), F.lit(0.0).alias("den")),
                lambda acc, x: F.struct(
                    (acc["num"] * F.lit(w1) + x).alias("num"),
                    (acc["den"] * F.lit(w1) + F.lit(1.0)).alias("den"),
                ),
            )
            expr = F.when(n > 0, folded["num"] / folded["den"])
        else:
            # keep every row in the frame: a NULL row still ages the
            # accumulators (m=0 contributes nothing but the decay runs)
            pair = F.struct(
                F.coalesce(c, F.lit(0.0)).alias("x"),
                c.isNotNull().cast("double").alias("m"),
            )
            vals = F.collect_list(pair).over(frame)
            folded = F.aggregate(
                vals,
                F.struct(F.lit(0.0).alias("num"), F.lit(0.0).alias("den")),
                lambda acc, p: F.struct(
                    (acc["num"] * F.lit(w1) + p["x"] * p["m"]).alias("num"),
                    (acc["den"] * F.lit(w1) + p["m"]).alias("den"),
                ),
            )
            expr = F.when(folded["den"] > F.lit(0.0),
                          folded["num"] / folded["den"])
        # na_output: NULL-out NA input rows, or carry the running value
        # past them (pandas)
        if na_output == "null":
            expr = F.when(c.isNotNull(), expr)
        out = out.withColumn(f"{v}{out_suffix}", expr)
    return out


def group_ewm_var(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    alpha: float,
    std: bool = False,
    out_suffix: str | None = None,
) -> DataFrame:
    """Per-group exponentially weighted variance / std (pandas
    ``ewm(alpha=...).var()`` / ``.std()``, adjusted, bias=False).

    Same bounded-lookback fold as :func:`group_ewm_mean`, carrying four
    accumulators per row — Σw, Σw², Σw·x, Σw·x² (w = (1-α)^age) — then
    the weighted-variance identity with the standard reliability
    correction ``(Σw)² / ((Σw)² − Σw²)``. Rows with <2 prior
    observations are NULL (the correction divides by zero there, as
    pandas emits NaN). O(K) per row, state bounded by the lookback —
    viable inside arbitrarily large groups.

    NA handling matches group_ewm_mean: ``collect_list`` drops NULLs
    (pandas ``ignore_na=True``). The same lookback cap applies: ``alpha``
    below about 0.00345 raises ``ValueError``.
    """
    w1, frame = _ewm_frame(_cols(keys), _cols(order), alpha)
    if out_suffix is None:
        out_suffix = "_ewmstd" if std else "_ewmvar"
    out = df
    for v in _cols(values):
        c = _nn(df, v)
        vals = F.collect_list(c).over(frame)
        folded = F.aggregate(
            vals,
            F.struct(
                F.lit(0.0).alias("den"), F.lit(0.0).alias("den2"),
                F.lit(0.0).alias("num"), F.lit(0.0).alias("sq"),
            ),
            lambda acc, x: F.struct(
                (acc["den"] * F.lit(w1) + F.lit(1.0)).alias("den"),
                (acc["den2"] * F.lit(w1 * w1) + F.lit(1.0)).alias("den2"),
                (acc["num"] * F.lit(w1) + x).alias("num"),
                (acc["sq"] * F.lit(w1) + x * x).alias("sq"),
            ),
        )
        den, den2, num, sq = (folded[f] for f in ("den", "den2", "num", "sq"))
        mean = num / den
        biased = F.greatest(sq / den - mean * mean, F.lit(0.0))
        var = biased * (den * den) / (den * den - den2)
        expr = F.when(c.isNotNull() & (den * den > den2), var)
        out = out.withColumn(f"{v}{out_suffix}", F.sqrt(expr) if std else expr)
    return out


def group_zscore(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    ddof: int = 1,
    scale: int = 6,
    out_suffix: str = "_z",
) -> DataFrame:
    """pandas ``groupby.transform('zscore')``: standardize each value
    against its group's mean/std, keeping every row — the canonical
    agg-broadcast-back transform, done as whole-partition window
    aggregates so the group stats and the row values share ONE shuffle
    (no separate agg + join back).

    Mean and std derive from fixed-point integer power sums (exact in
    38-digit decimal), so the standardized values are bit-deterministic
    across engines and partitionings; the std is computed on the
    10^-scale-quantized values (documented deviation — pandas uses the
    raw floats; difference is ≤ quantization/σ).
    """
    keys, values = _cols(keys), _cols(values)
    k = 10 ** scale
    w = Window.partitionBy(*keys)
    out = df
    for v in values:
        c = _nn(df, v)
        fx = F.floor(c * F.lit(k)).cast("decimal(38,0)")
        n = F.count(c).over(w).cast("decimal(38,0)")
        sx = F.sum(fx).over(w)
        sxx = F.sum(fx * fx).over(w)
        mean = (sx.cast("double") / F.lit(float(k))) / n.cast("double")
        var_fx = (n * sxx - sx * sx).cast("double") \
            / (n * (n - F.lit(ddof))).cast("double")
        std = F.sqrt(var_fx) / F.lit(float(k))
        z = F.when((n > ddof) & (std > 0), (c - mean) / std)
        out = out.withColumn(f"{v}{out_suffix}", z)
    return out


def _join_back(
    df: DataFrame, stats: DataFrame, keys: list[str], how: str = "left"
) -> DataFrame:
    """Join per-group ``stats`` (the keys plus stat columns) back onto
    ``df`` by key. NULL-safe, so NULL keys form their own group, and
    always a broadcast of the group-cardinality stats side, so ``df``
    is never shuffled: after an aggregation the size ESTIMATE inherits
    the scan's, the static planner would plan a sort-merge join, and
    ``df`` would pay a shuffle write that AQE's runtime broadcast
    conversion cannot un-spend."""
    aliases = [f"__jk{i}" for i in range(len(keys))]
    stats = F.broadcast(stats.select(
        *[F.col(k).alias(a) for k, a in zip(keys, aliases)],
        *[c for c in stats.columns if c not in keys]))
    cond = None
    for k, a in zip(keys, aliases):
        c = df[k].eqNullSafe(stats[a])
        cond = c if cond is None else cond & c
    return df.join(stats, cond, how).drop(*aliases)


def group_winsorize(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clip ``value`` to the group's
    [lower, upper] linear-interpolated percentile bounds, keeping every
    row — the outlier-taming transform of a feature pipeline.

    Plan (the r8 rewrite — the ``group_describe`` recipe applied to a
    transform): the bounds are computed on a NARROW (keys, value)
    projection — one exchange+sort for the within-group ranks, then
    the straddling order statistics are picked (the linear pick of
    ``group_quantile``) in a groupBy that reuses the window's
    partitioning — and broadcast back to the input by key
    (group-cardinality rows, see ``_join_back``). The FULL-WIDTH rows
    never shuffle and never buffer. The previous formulation ran the
    rank window plus SIX unbounded-frame window aggregates over the
    full-width rows — at sf1 with a 3-value key
    that re-buffered ~2M-row partitions seven times per task and
    measured 5.6× for 10× data; this shape moves only (keys, value)
    through the exchange. Semantics unchanged: NULLs sort last, rank
    targets use the non-null count, NULL inputs stay NULL, NULL keys
    form their own group (null-safe join back), and all-NULL groups
    pass values through (least/greatest skip NULL bounds on both
    engines)."""
    if not (0.0 <= lower <= upper <= 1.0):
        raise ValueError(
            f"need 0 <= lower <= upper <= 1, got {lower}, {upper}"
        )
    keys = _cols(keys)
    out_col = out_col or f"{value}_wins"
    v = F.col(value)
    wp = Window.partitionBy(*keys)
    nn = (
        df.select(*keys, v.alias("__v"))
        .where(F.col("__v").isNotNull())
        .withColumn(
            "__rn",
            F.row_number().over(wp.orderBy(F.col("__v"))) - 1)
        .withColumn("__n", F.count("__v").over(wp))
    )
    bounds = nn.groupBy(*keys).agg(
        _order_stat(lower).alias("__blo"), _order_stat(upper).alias("__bhi"))
    clipped = F.when(
        v.isNotNull(),
        F.least(F.greatest(v, F.col("__blo")), F.col("__bhi")),
    )
    return (
        _join_back(df, bounds, keys)
        .withColumn(out_col, clipped)
        .drop("__blo", "__bhi")
    )


def group_robust_zscore(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    scale_const: float = 1.4826,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group ROBUST standardization: ``(x − median) /
    (1.4826·MAD)`` where MAD is the median absolute deviation — the
    outlier-resistant twin of :func:`group_zscore` (one corrupted
    whale value drags a mean/std z-score arbitrarily; the breakdown
    point of median/MAD is 50%). 1.4826 ≈ 1/Φ⁻¹(3/4) makes the score
    σ-consistent under normality, so the usual |z| > 3 cutoffs carry
    over.

    Plan (the ``group_winsorize`` narrow-side recipe): both medians
    are computed on a NARROW (keys, value) projection — never the
    full-width rows — and join back by key. Two aggregate passes
    (median, then median of |dev|) are inherent to MAD; the SECOND
    pass carries the group median through (``min`` of a per-group
    constant), so the stats side is built in exactly two narrow scans
    with no med⋈mad re-join and no re-derivation of the median
    subtree. Both joins broadcast the group-cardinality side
    (``_join_back``), so the full-width input never shuffles. NULL
    values stay NULL, NULL keys form their own group (null-safe
    joins), and an all-equal group (MAD = 0) yields NULL — a zero
    spread admits no standard score.

    Determinism: medians round to 6 (the ``group_median`` gate recipe
    — interpolated order statistics are the registry's documented
    round-6 case); the final score is IEEE arithmetic on those rounded
    stats, rounded to 6 for the same reason.
    """
    keys = _cols(keys)
    out_col = out_col or f"{value}_rz"
    v = F.col(value)
    narrow = (
        df.select(*keys, v.alias("__v")).where(F.col("__v").isNotNull())
    )
    med = narrow.groupBy(*keys).agg(
        F.round(F.median("__v"), 6).alias("__med"))
    dev = _join_back(narrow, med, keys, "inner").select(
        *keys, "__med", F.abs(F.col("__v") - F.col("__med")).alias("__d"))
    # one aggregation yields BOTH stats: __med is constant within a
    # group, so min() recovers it exactly — no med⋈mad join, and the
    # median subtree is never re-derived for a second scan
    stats = dev.groupBy(*keys).agg(
        F.min("__med").alias("__med"),
        F.round(F.median("__d"), 6).alias("__mad"))
    rz = F.when(
        v.isNotNull() & (F.col("__mad") > 0),
        F.round(
            (v - F.col("__med"))
            / (F.lit(scale_const) * F.col("__mad")), 6),
    )
    return (
        _join_back(df, stats, keys)
        .withColumn(out_col, rz)
        .drop("__med", "__mad")
    )
