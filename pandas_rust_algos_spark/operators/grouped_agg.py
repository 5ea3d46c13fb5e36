"""Grouped reductions — the reference's core surface, Spark-first.

Each public function mirrors one reference kernel (SURVEY §2.1 rows
4-16; bindings in ``/root/reference/src/lib.rs``, kernels in
``/root/reference/src/groupby.rs``) as a *declarative* transformation:
``df.groupBy(keys).agg(...)``. Catalyst compiles these to a partial
(map-side) HashAggregate → shuffle on the group keys → final
HashAggregate, all inside whole-stage codegen — the distributed
equivalent of the reference's single-pass dense-accumulator loops
(``groupby.rs:862-895``), with the map-side combine keeping shuffle
volume at O(groups × partitions), not O(rows).

Scale notes:
- One ``groupBy().agg()`` per operator call, never one per column —
  k value columns aggregate in a single pass, like the reference's
  ``ArrayView2`` column loop.
- No ``collect()``: results stay DataFrames.
- Skewed keys are AQE's problem (skewJoin/coalesce enabled in
  session.tune); for pathological single-key skew callers can pre-salt.

NA semantics: pandas (native NULL == NA; NaN normalized to NULL for
float columns via ``na_normalize``). The reference's int-0-is-NA quirk
(``traits.rs:84-90``) is intentionally NOT reproduced (SURVEY §2.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pandas_rust_algos_spark.functions.na import (
    exact_sum,
    na_normalize,
    with_min_count,
)

__all__ = [
    "group_count",
    "group_sum",
    "group_prod",
    "group_mean",
    "group_var",
    "group_std",
    "group_sem",
    "group_skew",
    "group_min",
    "group_max",
    "group_first",
    "group_last",
    "group_nth",
    "group_ohlc",
    "group_any_all",
    "group_median",
    "group_quantile",
    "group_quantile_approx",
    "group_nunique",
    "group_nunique_approx",
    "group_idxmax",
    "group_idxmin",
    "group_mode",
    "group_corr_cov",
]


def _cols(names: Sequence[str] | str) -> list[str]:
    return [names] if isinstance(names, str) else list(names)


def _prep(df: DataFrame, keys: Sequence[str], dropna_keys: bool) -> DataFrame:
    """pandas drops NULL-key groups by default (reference label -1 is
    skipped in every kernel, e.g. ``groupby.rs:871-872``)."""
    if dropna_keys:
        for k in _cols(keys):
            df = df.where(F.col(k).isNotNull())
    return df


def _is_floating(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) in ("float", "double")


def _nn(df: DataFrame, col: str) -> Column:
    """The value column with pandas-NA normalization applied."""
    return na_normalize(col, floating=_is_floating(df, col))


def _agg_per_value(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str] | str,
    make_agg,
    *,
    min_count: int = 0,
    dropna_keys: bool = True,
) -> DataFrame:
    """Shared driver: one groupBy, one agg expression per value column."""
    keys, values = _cols(keys), _cols(values)
    df = _prep(df, keys, dropna_keys)
    aggs = []
    for v in values:
        c = _nn(df, v)
        aggs.append(
            with_min_count(make_agg(c, v), F.count(c), min_count).alias(v)
        )
    return df.groupBy(*keys).agg(*aggs)


def group_count(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """Non-null count per group (the reference's ``counts`` out-array,
    ``lib.rs:775-778``)."""
    return _agg_per_value(df, _cols(keys), values, lambda c, v: F.count(c),
                          dropna_keys=dropna_keys)


def group_sum(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 0,
    dropna_keys: bool = True,
    exact: bool = False,
) -> DataFrame:
    """Per-group NA-skipping sum (``group_sum``, ``groupby.rs:846-907``).

    ``exact=True`` accumulates in decimal for order-independent doubles
    (see ``functions.na.exact_sum``); default is the native codegen'd
    double sum.
    """
    make = (lambda c, v: exact_sum(c)) if exact else (lambda c, v: F.sum(c))
    return _agg_per_value(df, keys, values, make,
                          min_count=min_count, dropna_keys=dropna_keys)


def group_prod(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 0,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group product (``group_prod``, ``groupby.rs:909-985``)."""
    return _agg_per_value(df, keys, values, lambda c, v: F.product(c),
                          min_count=min_count, dropna_keys=dropna_keys)


def group_mean(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 0,
    dropna_keys: bool = True,
    exact: bool = False,
) -> DataFrame:
    """Per-group mean (``group_mean``, ``groupby.rs:1271-1403``).

    The reference Kahan-compensates (``groupby.rs:1325-1337``); Spark's
    double avg is uncompensated, which is fine at double precision —
    ``exact=True`` gives the order-independent decimal-sum/count form.
    """
    if exact:
        make = lambda c, v: exact_sum(c) / F.count(c)
    else:
        make = lambda c, v: F.avg(c)
    return _agg_per_value(df, keys, values, make,
                          min_count=min_count, dropna_keys=dropna_keys)


def group_var(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    ddof: int = 1,
    name: str = "var",
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group variance/std/sem (``group_var``, ``groupby.rs:987-1129``;
    the ``name`` argument selects the post-processing exactly as the
    reference's does, ``groupby.rs:1020-1021``).

    Welford one-pass accumulation is Catalyst's own strategy for
    ``var_samp``; sem has no builtin and is composed as
    ``stddev / sqrt(count)``. The reference's masked-std bug
    (``groupby.rs:1067``; SURVEY §2.4 #3) is not reproduced.
    """
    if name not in ("var", "std", "sem"):
        raise ValueError(f"name must be var|std|sem, got {name!r}")
    if ddof not in (0, 1):
        raise ValueError("only ddof in (0, 1) supported (pandas default 1)")

    def make(c: Column, v: str) -> Column:
        var = F.var_samp(c) if ddof == 1 else F.var_pop(c)
        if name == "var":
            return var
        std = F.sqrt(var)
        if name == "std":
            return std
        return std / F.sqrt(F.count(c))

    # ddof groups with too few obs: var_samp on n<=1 is NULL natively.
    return _agg_per_value(df, keys, values, make, dropna_keys=dropna_keys)


def group_std(df, keys, values, *, ddof: int = 1, dropna_keys: bool = True):
    return group_var(df, keys, values, ddof=ddof, name="std", dropna_keys=dropna_keys)


def group_sem(df, keys, values, *, ddof: int = 1, dropna_keys: bool = True):
    return group_var(df, keys, values, ddof=ddof, name="sem", dropna_keys=dropna_keys)


def group_skew(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group *sample-adjusted* skewness (``group_skew``,
    ``groupby.rs:1131-1268``): pandas' adjusted Fisher–Pearson
    ``sqrt(n(n-1))/(n-2) · g1``. Spark's ``F.skewness`` is the
    population ``g1 = m3/m2^1.5``, so we compose the adjustment; groups
    with n < 3 are NULL (``groupby.rs:1199``). The reference's
    total-vs-group-count bug (SURVEY §2.4 #4) is not reproduced.
    """

    def make(c: Column, v: str) -> Column:
        n = F.count(c)
        g1 = F.skewness(c)
        adj = F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))
        return F.when(n >= 3, adj * g1)

    return _agg_per_value(df, keys, values, make, dropna_keys=dropna_keys)


def group_min(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group min (``group_min``; shared kernel ``groupby.rs:2039-2154``).
    Default ``min_count=1`` matches the reference's
    ``max(min_count, 1)`` clamp (``groupby.rs:2058``)."""
    return _agg_per_value(df, keys, values, lambda c, v: F.min(c),
                          min_count=min_count, dropna_keys=dropna_keys)


def group_max(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group max (``group_max``; ``compute_max=true`` arm of the shared
    kernel, ``lib.rs:1296``)."""
    return _agg_per_value(df, keys, values, lambda c, v: F.max(c),
                          min_count=min_count, dropna_keys=dropna_keys)


def _ordered_pick(c: Column, order: Column, *, last: bool) -> Column:
    """First/last non-null value by an explicit order column.

    ``max_by``/``min_by`` with an aggregate FILTER keeps this a single
    codegen'd aggregate (no window, no second shuffle). The reference
    kernels walk rows in array order (``groupby.rs:1662-1744``); in a
    distributed engine row order must be an explicit column.
    """
    picker = F.max_by if last else F.min_by
    return picker(c, F.when(c.isNotNull(), order))


def group_first(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    order: str,
    *,
    min_count: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """First non-null per group in ``order`` (``group_nth`` rank=1,
    ``groupby.rs:1831-1917``)."""
    return _agg_per_value(
        df, keys, values,
        lambda c, v: _ordered_pick(c, F.col(order), last=False),
        min_count=min_count, dropna_keys=dropna_keys)


def group_last(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    order: str,
    *,
    min_count: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """Last non-null per group in ``order`` (``group_last``,
    ``groupby.rs:1662-1744``)."""
    return _agg_per_value(
        df, keys, values,
        lambda c, v: _ordered_pick(c, F.col(order), last=True),
        min_count=min_count, dropna_keys=dropna_keys)


def group_nth(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: str,
    order: str,
    *,
    rank: int = 1,
    dropna_keys: bool = True,
) -> DataFrame:
    """n-th non-null value per group, 1-based ``rank`` like the
    reference (``groupby.rs:1876-1878``). Groups with < rank non-null
    observations yield NULL; ``rank < 1`` raises.

    One ``row_number`` window ordered NULLs-last then by ``order`` —
    non-null values take ranks 1..n — and one aggregate that keeps the
    value at ``rank``. Every group, the NULL-key group included,
    reaches the aggregate, so no key join-back is needed.
    """
    if rank < 1:
        raise ValueError(f"rank is 1-based, got {rank}")
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    v = F.col("__v")
    w = Window.partitionBy(*keys).orderBy(v.isNull(), F.col(order))
    ranked = (df.withColumn("__v", _nn(df, values))
              .withColumn("__rn", F.row_number().over(w)))
    return ranked.groupBy(*keys).agg(
        F.max(F.when(F.col("__rn") == rank, v)).alias(values))


def group_ohlc(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    order: str,
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """open/high/low/close of one value column per group
    (``group_ohlc``, ``groupby.rs:1405-1530``). Implements the
    *intended* semantics — the reference kernel's first-element test is
    inverted and its low-update compares the high column (SURVEY §2.4
    #2) — as a single 4-expression aggregate.
    """
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    c = _nn(df, value)
    ordc = F.col(order)
    return df.groupBy(*keys).agg(
        _ordered_pick(c, ordc, last=False).alias("open"),
        F.max(c).alias("high"),
        F.min(c).alias("low"),
        _ordered_pick(c, ordc, last=True).alias("close"),
    )


def group_any_all(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    val_test: str = "any",
    skipna: bool = True,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group ANY/ALL with Kleene three-valued logic
    (``group_any_all``, ``groupby.rs:698-784``; output -1 = unknown maps
    to NULL).

    skipna=True: ``bool_or``/``bool_and`` over non-null values; a group
    with NO non-null values yields the identity (any=False, all=True) —
    the reference initializes ``out`` to 0/1 and an empty group never
    flips it (``groupby.rs:712-718``), matching pandas and unlike SQL's
    NULL-for-empty BOOL_OR.
    skipna=False (Kleene): ANY is TRUE if any TRUE, else NULL if any
    NULL, else FALSE; dually for ALL (``groupby.rs:737-754``).
    """
    if val_test not in ("any", "all"):
        raise ValueError("val_test must be 'any' or 'all'")
    keys, values = _cols(keys), _cols(values)
    df = _prep(df, keys, dropna_keys)
    aggs = []
    for v in values:
        c = F.col(v)
        base = F.bool_or(c) if val_test == "any" else F.bool_and(c)
        if skipna:
            agg = F.coalesce(base, F.lit(val_test == "all"))
        else:
            has_null = F.max(c.isNull().cast("int")) == 1
            if val_test == "any":
                agg = F.when(F.coalesce(base, F.lit(False)), F.lit(True)) \
                    .when(has_null, F.lit(None).cast("boolean")) \
                    .otherwise(F.lit(False))
            else:
                agg = F.when(~F.coalesce(base, F.lit(True)), F.lit(False)) \
                    .when(has_null, F.lit(None).cast("boolean")) \
                    .otherwise(F.lit(True))
        aggs.append(agg.alias(v))
    return df.groupBy(*keys).agg(*aggs)


def group_median(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    min_count: int = 0,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group exact median (``group_median_float64``,
    ``groupby.rs:114-184``): even-sized groups average the two middle
    elements (``groupby.rs:19-25``).

    The reference builds this as counting-sort → gather → per-group
    quickselect; Spark's ``F.median`` is the same selection inside a
    single aggregate — the shuffle *is* the counting sort.
    """
    return _agg_per_value(df, keys, values, lambda c, v: F.median(c),
                          min_count=min_count, dropna_keys=dropna_keys)


_INTERPOLATIONS = ("linear", "lower", "higher", "nearest", "midpoint")


def _ranked(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """(keys, ``__v``) with each row's 0-based within-group rank
    ``__rn`` and the group's non-null count ``__n`` — one shuffle+sort
    on (keys, value). NULL values sort LAST instead of being filtered
    out: non-null rows keep exactly the ranks the reference's
    sort_indexer gives them, while all-NA groups still reach the
    aggregation (emitting NULL order statistics, pandas/SQL semantics)
    — no second scan or key re-join needed to reinstate them."""
    w = Window.partitionBy(*keys)
    return (
        df.select(*keys, _nn(df, value).alias("__v"))
        .withColumn("__rn", F.row_number().over(
            w.orderBy(F.col("__v").asc_nulls_last())) - 1)
        .withColumn("__n", F.count("__v").over(w))
    )


def _order_stat(q: float, interpolation: str = "linear") -> Column:
    """Aggregate picking the q-quantile of ``__v`` in a group ranked by
    ``__rn`` (0-based, non-null values first) with ``__n`` non-null
    values — the straddling order statistics at ``floor``/``ceil`` of
    ``q·(n-1)`` combined per pandas' ``interpolation`` mode
    (``groupby.rs:1556-1562``)."""
    rn, v = F.col("__rn"), F.col("__v")
    target = F.lit(q) * (F.col("__n") - 1)
    lo, hi = F.floor(target), F.ceil(target)
    frac = target - lo
    vlo = F.max(F.when(rn == lo, v))
    vhi = F.max(F.when(rn == hi, v))
    if interpolation == "lower":
        return vlo
    if interpolation == "higher":
        return vhi
    if interpolation == "midpoint":
        return (vlo + vhi) / 2
    if interpolation == "linear":
        # same interpolation expression PERCENTILE_CONT uses:
        # vlo + frac * (vhi - vlo); frac is constant per group
        return vlo + F.max(F.when(rn == lo, frac)) * (vhi - vlo)
    # nearest: pandas rule (frac, q) tie-break — > .5 → hi, == .5 → hi
    # iff q > .5
    use_hi = F.max(
        ((frac > 0.5) | ((frac == 0.5) & F.lit(q > 0.5))).cast("int")
    ) == 1
    return F.when(use_hi, vhi).otherwise(vlo)


def group_quantile(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    qs: Sequence[float],
    *,
    interpolation: str = "linear",
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group quantiles at each q with all five pandas interpolation
    modes (``group_quantile``, ``groupby.rs:1532-1660``; modes at
    ``1556-1562``). Output: long form ``keys + (q, quantile)``.

    All five modes share one plan shape: within-group ranks from a
    single shuffle+sort on (keys, value) — the distributed analogue of
    the reference's caller-supplied ``sort_indexer`` (``lib.rs:917``) —
    then the straddling order statistics are picked/combined with plain
    aggregates. ``F.percentile`` is deliberately NOT used even for
    linear: it is an exact aggregate that buffers every group value in
    the aggregation buffer, which serializes per group and OOMs on
    large groups; the rank path keeps the sort distributed and the
    aggregate O(1) per row. q outside [0,1] raises, like
    ``groupby.rs:1549-1554``.
    """
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"each q must be within [0, 1], got {q}")
    if interpolation not in _INTERPOLATIONS:
        raise ValueError(f"interpolation must be one of {_INTERPOLATIONS}")

    keys = _cols(keys)
    nn = _ranked(_prep(df, keys, dropna_keys), keys, value)
    agged = nn.groupBy(*keys).agg(*[
        _order_stat(q, interpolation).alias(f"__q{i}")
        for i, q in enumerate(qs)
    ])

    # long form: one row per (group, q)
    pairs = F.array(*[
        F.struct(F.lit(float(q)).alias("q"), F.col(f"__q{i}").alias("quantile"))
        for i, q in enumerate(qs)
    ])
    return (
        agged.select(*keys, F.explode(pairs).alias("__p"))
        .select(*keys, F.col("__p.q").alias("q"), F.col("__p.quantile").alias("quantile"))
    )


def group_describe(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    scale: int = 3,
    dropna_keys: bool = True,
) -> DataFrame:
    """pandas ``groupby(...)[value].describe()``: count, mean, std,
    min, 25%/50%/75% (linear interpolation), max — in ONE shuffle.

    The quartiles need a within-group sort, so the plan is the
    rank-window shape of :func:`group_quantile`; every other statistic
    is then computed in the SAME groupBy that picks the straddling
    order statistics — Catalyst reuses the window's hash partitioning
    for the aggregation, so the whole eight-column summary costs one
    Exchange+Sort, not one pass per statistic. mean/std accumulate as
    fixed-point decimal power sums (exact + associative ⇒ partition-
    independent, same construction as :func:`group_corr_cov`).
    """
    keys = _cols(keys)
    nn = _ranked(_prep(df, keys, dropna_keys), keys, value)
    k = 10 ** scale
    fx = F.floor(F.col("__v") * F.lit(k)).cast("decimal(38,0)")
    picks = [_order_stat(q).alias(name)
             for name, q in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75))]
    agged = nn.groupBy(*keys).agg(
        F.count("__v").cast("decimal(38,0)").alias("__cnt"),
        F.sum(fx).alias("__sx"),
        F.sum(fx * fx).alias("__sxx"),
        F.min("__v").alias("min"),
        F.max("__v").alias("max"),
        *picks,
    )
    n, sx, sxx = F.col("__cnt"), F.col("__sx"), F.col("__sxx")
    mean = F.when(n >= 1, sx.cast("double") / n.cast("double") / F.lit(float(k)))
    varnum = (n * sxx - sx * sx).cast("double")
    std = F.when(
        n >= 2,
        F.sqrt(F.greatest(varnum, F.lit(0.0))
               / (n * (n - 1)).cast("double")) / F.lit(float(k)),
    )
    return agged.select(
        *keys,
        n.cast("long").alias("count"),
        mean.alias("mean"), std.alias("std"),
        "min", "q25", "q50", "q75", "max",
    )


def group_histogram(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    lo: float,
    hi: float,
    nbins: int,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group fixed-bin histogram of ``value`` over ``[lo, hi)`` —
    the profiling primitive that scales where exact quantiles sort:
    bucketing is a pure projection (no per-group sort), the count is
    one map-side-combined aggregate, and the output is
    ≤ groups × nbins rows regardless of input size. Empty bins are
    omitted (sparse form); values outside [lo, hi) are excluded.

    Output: keys + ``bucket`` (0-based), ``bin_lo`` (bin lower edge),
    ``n``.
    """
    if nbins <= 0:
        raise ValueError(f"nbins must be positive, got {nbins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    c = _nn(df, value)
    # clamp to nbins-1: for values just below hi the rounded quotient can
    # reach exactly nbins (the in-range filter below uses the raw value,
    # the bucket uses the rounded one) — without the clamp that row would
    # emit a phantom bucket whose bin_lo equals hi
    bucket = F.least(
        F.floor(
            (c - F.lit(float(lo))) * F.lit(nbins) / F.lit(float(hi) - float(lo))
        ).cast("long"),
        F.lit(nbins - 1),
    )
    width = (float(hi) - float(lo)) / nbins
    return (
        df.where((c >= lo) & (c < hi))
        .select(*keys, bucket.alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.lit(float(lo)) + F.col("bucket") * F.lit(width))
    )


def group_quantile_approx(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    qs: Sequence[float],
    *,
    accuracy: int = 10_000,
    dropna_keys: bool = True,
) -> DataFrame:
    """Approximate per-group quantiles — the 100 TB scale path.

    Exact quantiles need a per-group sort (``group_quantile``); this
    uses Spark's mergeable approx_percentile sketch: one pass, fixed
    memory per group, error <= 1/accuracy in *rank* space — the right
    trade at petabyte scale or inside streaming state. Same long-form
    output as :func:`group_quantile` so callers can swap exactness for
    scan speed without plan changes downstream.
    """
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    c = _nn(df, value)
    agged = df.groupBy(*keys).agg(
        F.percentile_approx(c, list(map(float, qs)), accuracy).alias("__qa")
    )
    pairs = F.array(*[
        F.struct(F.lit(float(q)).alias("q"), F.col("__qa")[i].alias("quantile"))
        for i, q in enumerate(qs)
    ])
    return (
        agged.select(*keys, F.explode(pairs).alias("__p"))
        .select(*keys, "__p.q", "__p.quantile")
    )


def group_nunique(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """Exact distinct count per group (pandas ``nunique``). Catalyst
    expands to a two-phase distinct+count; exact but shuffles the
    distinct value space."""
    return _agg_per_value(df, _cols(keys), values,
                          lambda c, v: F.countDistinct(c),
                          dropna_keys=dropna_keys)


def group_nunique_approx(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: Sequence[str] | str,
    *,
    rsd: float = 0.01,
    dropna_keys: bool = True,
) -> DataFrame:
    """Approximate distinct count (HyperLogLog++) — the scale path for
    high-cardinality columns: fixed sketch memory per (group, column),
    single pass, mergeable across partitions (no distinct-value
    shuffle), relative error ``rsd``."""
    return _agg_per_value(df, _cols(keys), values,
                          lambda c, v: F.approx_count_distinct(c, rsd),
                          dropna_keys=dropna_keys)


def group_approx_bounds_report(
    df: DataFrame,
    key: str,
    nd_col: str,
    q_col: str,
    *,
    rsd: float = 0.05,
    accuracy: int = 100,
    qs: Sequence[float] = (0.5, 0.95),
    nd_sigmas: float = 4.0,
    rank_slack: float = 0.005,
    dropna_keys: bool = True,
) -> DataFrame:
    """The CHECKABLE CONTRACT for the approximate scale path
    (``group_nunique_approx`` / ``group_quantile_approx``): one plan
    that computes approx AND exact per group and emits per-group
    booleans asserting the published accuracy bounds hold —

    - ``nd_ok``: ``|HLL++ − exact| ≤ nd_sigmas·rsd·exact`` (the sketch
      guarantees standard error ``rsd``; a 4σ envelope essentially
      never trips, and both sketches are DETERMINISTIC functions of
      the data, so the verdict is stable across runs);
    - ``p*_ok``: the approx_percentile value lies between the exact
      percentiles at ``q ∓ (1/accuracy + rank_slack)`` — the sketch's
      rank-error guarantee is ``1/accuracy``; ``rank_slack`` absorbs
      the ≤1-rank discreteness of comparing an interpolated exact
      percentile against a rank-space bound.

    Output ``(key, n_rows, exact_nd, nd_ok, p<q>_ok...)`` contains NO
    approximate values — so a DuckDB oracle can replay the exact
    counts and assert the booleans as constants, turning the
    permanently-rows-only ``group_approx_stats_raw`` check into an
    informative gate: if an engine's sketch ever violates its bound,
    the value hash flips.

    Scale shape: everything rides ONE map-side-combined groupBy; the
    exact sides (countDistinct, exact percentile) are the expensive
    legs — this op is the accuracy AUDIT you run on a sampled slice,
    not the production path (the approx ops alone are that)."""
    if not (0 < rsd < 1) or accuracy < 2:
        raise ValueError(f"bad rsd/accuracy: {rsd}/{accuracy}")
    eps = 1.0 / accuracy + rank_slack
    kdf = _prep(df, [key], dropna_keys)
    c_nd, c_q = _nn(kdf, nd_col), F.col(q_col)
    # ONE exact-percentile aggregate with an array argument: all 2·|qs|
    # rank-window bounds come from a single per-group sort instead of
    # one sort per bound
    bound_qs = []
    for q in qs:
        bound_qs.append(max(float(q) - eps, 0.0))
        bound_qs.append(min(float(q) + eps, 1.0))
    # countDistinct runs in its OWN aggregation, not alongside the
    # sketch functions: a distinct agg mixed with non-distinct aggs
    # makes Catalyst key the PARTIAL aggregation by (key, nd_col), so
    # every distinct nd value carries its own HLL++ registers,
    # exact-percentile value map and QuantileSummaries buffer through
    # the Exchange — effectively serializing the whole column inside
    # per-distinct-value object buffers (measured 57-column shuffle,
    # one row per (key, nd)). Split, the sketch agg partials key by
    # ``key`` alone (|groups| buffer rows per partition) and the
    # distinct leg is a plain two-stage codegen hash aggregate; the
    # tiny per-group results re-join by broadcast. Sketch VALUES are
    # merge-order-robust (HLL++ register max is order-independent;
    # the percentile sketches only feed bound booleans whose published
    # error guarantees hold under any merge order — and this shape
    # merges |partitions| partials instead of |distinct nd|).
    g_nd = kdf.groupBy(key).agg(F.countDistinct(c_nd).alias("exact_nd"))
    g_sk = kdf.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(c_nd, rsd).alias("__apx_nd"),
        F.percentile_approx(
            c_q, list(map(float, qs)), accuracy).alias("__apx_q"),
        F.percentile(
            c_q, F.array(*[F.lit(b) for b in bound_qs])).alias("__b"),
    )
    g = g_sk.join(F.broadcast(g_nd), key)
    g = g.select(
        "*",
        *[F.col("__b")[2 * i].alias(f"__lo{i}") for i in range(len(qs))],
        *[F.col("__b")[2 * i + 1].alias(f"__hi{i}")
          for i in range(len(qs))],
    )
    nd_ok = (
        F.abs(F.col("__apx_nd") - F.col("exact_nd"))
        <= F.lit(nd_sigmas * rsd) * F.col("exact_nd")
    )
    out = [F.col(key), F.col("n_rows"), F.col("exact_nd"),
           nd_ok.alias("nd_ok")]
    for i, q in enumerate(qs):
        ok = (
            (F.col("__apx_q")[i] >= F.col(f"__lo{i}"))
            & (F.col("__apx_q")[i] <= F.col(f"__hi{i}"))
        )
        out.append(ok.alias(f"p{int(round(float(q) * 100)):02d}_ok"))
    return g.select(*out)


def group_idxmax(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    idx: str,
    *,
    maximize: bool = True,
    dropna_keys: bool = True,
) -> DataFrame:
    """pandas ``idxmax``/``idxmin``: the index label of the group's
    extreme value. One aggregate — ``max_by``/``min_by`` on a
    (value, -idx) struct so ties break to the smallest index
    deterministically (pandas returns the first occurrence)."""
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    c = _nn(df, value)
    picker = F.max_by if maximize else F.min_by
    # tie-break: among equal values pick smallest idx -> order by
    # (value, -idx) for max, (value, idx) for min
    tiebreak = F.struct(c.alias("v"), (-F.col(idx)).alias("ti")) if maximize \
        else F.struct(c.alias("v"), F.col(idx).alias("ti"))
    return df.groupBy(*keys).agg(
        picker(F.col(idx), F.when(c.isNotNull(), tiebreak)).alias(f"{value}_idx")
    )


def group_idxmin(df, keys, value, idx, *, dropna_keys: bool = True):
    return group_idxmax(df, keys, value, idx, maximize=False,
                        dropna_keys=dropna_keys)


def group_mode(
    df: DataFrame,
    keys: Sequence[str] | str,
    value: str,
    *,
    dropna_keys: bool = True,
) -> DataFrame:
    """Most frequent value per group, smallest-value tie-break (Spark's
    and DuckDB's native ``mode`` both break ties arbitrarily — useless
    under a deterministic oracle). Two aggregations: value counts, then
    argmax by (count desc, value asc) via ``min_by`` on a sortable
    struct."""
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    c = _nn(df, value)
    counts = (
        df.where(c.isNotNull())
        .groupBy(*keys, c.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return counts.groupBy(*keys).agg(
        F.min_by("__v", F.struct((-F.col("__n")).alias("neg"),
                                 F.col("__v").alias("v"))).alias(f"{value}_mode")
    )


def group_corr_cov(
    df: DataFrame,
    keys: Sequence[str] | str,
    x: str,
    y: str,
    *,
    scale: int = 3,
    dropna_keys: bool = True,
) -> DataFrame:
    """Per-group Pearson correlation and sample covariance of (x, y)
    over pairwise-complete rows (pandas ``groupby[[x,y]].corr()`` /
    ``.cov()`` semantics).

    Built from the raw power sums (n, Σx, Σy, Σxy, Σx², Σy²) in ONE
    aggregation pass — the textbook shift risk of this formula is
    eliminated by computing the sums in *fixed-point integers*
    (``floor(v·10^scale)``), exact in 38-digit decimal, so the result
    is bit-deterministic across engines and partitionings, unlike
    ``F.corr``'s float accumulation. Bound: |v·10^scale| ≤ ~1e8 and
    group size ≤ ~3e4 keep every term within decimal(38); larger
    groups → raise ``scale`` down or use F.corr with tolerance.

    corr is scale-free; cov is descaled by 10^(2·scale). min 2 pairs,
    zero-variance → NULL (pandas NaN).
    """
    keys = _cols(keys)
    df = _prep(df, keys, dropna_keys)
    k = 10 ** scale
    fx = F.floor(F.col(x) * F.lit(k)).cast("decimal(38,0)")
    fy = F.floor(F.col(y) * F.lit(k)).cast("decimal(38,0)")
    both = F.col(x).isNotNull() & F.col(y).isNotNull()
    fx, fy = F.when(both, fx), F.when(both, fy)
    agged = df.groupBy(*keys).agg(
        F.count(F.when(both, F.lit(1))).cast("decimal(38,0)").alias("__n"),
        F.sum(fx).alias("__sx"),
        F.sum(fy).alias("__sy"),
        F.sum(fx * fy).alias("__sxy"),
        F.sum(fx * fx).alias("__sxx"),
        F.sum(fy * fy).alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    cov_num = (n * sxy - sx * sy).cast("double")
    vx = (n * sxx - sx * sx).cast("double")
    vy = (n * syy - sy * sy).cast("double")
    corr = F.when((n >= 2) & (vx > 0) & (vy > 0),
                  cov_num / F.sqrt(vx) / F.sqrt(vy))
    cov = F.when(n >= 2,
                 cov_num / (n * (n - 1)).cast("double") / F.lit(float(k * k)))
    return agged.select(*keys, corr.alias("corr"), cov.alias("cov"))
