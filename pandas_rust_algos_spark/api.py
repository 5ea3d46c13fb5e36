"""pandas-style ``groupby`` facade over the operator library.

The reference exposes its kernels as flat functions with out-parameters
(``pra.group_sum(out, counts, values, labels, ...)``,
``/root/reference/src/lib.rs:473-590``) because its host — pandas'
``GroupBy`` machinery — owns the user-facing API. This engine has no
host, so this module supplies the equivalent fluent surface: a thin,
stateless binder from ``groupby(df, keys).sum("v")``-style calls to the
DataFrame-native operators in ``operators/``. Every method returns a
plain DataFrame plan; nothing here executes, collects, or adds plan
nodes beyond what the underlying operator builds.

Reductions need only keys; transforms (cumsum, shift, rank, rolling …)
additionally need a deterministic row order — "array order" in the
reference — supplied once via ``order=``, mirroring how every kernel
takes the same ``labels`` array.

    gb = groupby(df, "k", order="ts")
    gb.sum("v")                  # one row per group
    gb.cumsum("v")               # one row per input row
    gb.rolling("v", window=3, aggs=("mean",))
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from pandas_rust_algos_spark.operators import grouped_agg as _ga
from pandas_rust_algos_spark.operators import grouped_transform as _gt

__all__ = ["groupby", "GroupBy"]


class GroupBy:
    """Bound (df, keys[, order]) — see module docstring."""

    def __init__(
        self,
        df: DataFrame,
        keys: Sequence[str] | str,
        *,
        order: Sequence[str] | str | None = None,
        dropna: bool = True,
    ) -> None:
        self._df = df
        self._keys = keys
        self._order = order
        self._dropna = dropna

    # ------------------------------------------------------- reductions

    def count(self, *cols: str) -> DataFrame:
        return _ga.group_count(self._df, self._keys, list(cols),
                               dropna_keys=self._dropna)

    def sum(self, *cols: str, min_count: int = 0) -> DataFrame:
        return _ga.group_sum(self._df, self._keys, list(cols),
                             min_count=min_count, dropna_keys=self._dropna)

    def prod(self, *cols: str, min_count: int = 0) -> DataFrame:
        return _ga.group_prod(self._df, self._keys, list(cols),
                              min_count=min_count, dropna_keys=self._dropna)

    def mean(self, *cols: str) -> DataFrame:
        return _ga.group_mean(self._df, self._keys, list(cols),
                              dropna_keys=self._dropna)

    def median(self, *cols: str) -> DataFrame:
        return _ga.group_median(self._df, self._keys, list(cols),
                                dropna_keys=self._dropna)

    def min(self, *cols: str, min_count: int = 0) -> DataFrame:
        return _ga.group_min(self._df, self._keys, list(cols),
                             min_count=min_count, dropna_keys=self._dropna)

    def max(self, *cols: str, min_count: int = 0) -> DataFrame:
        return _ga.group_max(self._df, self._keys, list(cols),
                             min_count=min_count, dropna_keys=self._dropna)

    def var(self, *cols: str, ddof: int = 1) -> DataFrame:
        return _ga.group_var(self._df, self._keys, list(cols), ddof=ddof,
                             dropna_keys=self._dropna)

    def std(self, *cols: str, ddof: int = 1) -> DataFrame:
        return _ga.group_std(self._df, self._keys, list(cols), ddof=ddof,
                             dropna_keys=self._dropna)

    def sem(self, *cols: str, ddof: int = 1) -> DataFrame:
        return _ga.group_sem(self._df, self._keys, list(cols), ddof=ddof,
                             dropna_keys=self._dropna)

    def skew(self, *cols: str) -> DataFrame:
        return _ga.group_skew(self._df, self._keys, list(cols),
                              dropna_keys=self._dropna)

    def first(self, *cols: str, min_count: int = 1) -> DataFrame:
        return _ga.group_first(self._df, self._keys, list(cols),
                               self._ordered(), min_count=min_count,
                               dropna_keys=self._dropna)

    def last(self, *cols: str, min_count: int = 1) -> DataFrame:
        return _ga.group_last(self._df, self._keys, list(cols),
                              self._ordered(), min_count=min_count,
                              dropna_keys=self._dropna)

    def nth(self, rank: int, col: str) -> DataFrame:
        return _ga.group_nth(self._df, self._keys, col, self._ordered(),
                             rank=rank, dropna_keys=self._dropna)

    def any(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _ga.group_any_all(self._df, self._keys, list(cols),
                                 val_test="any", skipna=skipna,
                                 dropna_keys=self._dropna)

    def all(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _ga.group_any_all(self._df, self._keys, list(cols),
                                 val_test="all", skipna=skipna,
                                 dropna_keys=self._dropna)

    def nunique(self, *cols: str) -> DataFrame:
        return _ga.group_nunique(self._df, self._keys, list(cols),
                                 dropna_keys=self._dropna)

    def ohlc(self, col: str) -> DataFrame:
        return _ga.group_ohlc(self._df, self._keys, col, self._ordered(),
                              dropna_keys=self._dropna)

    def quantile(self, col: str, q: Sequence[float] | float = 0.5,
                 *, interpolation: str = "linear") -> DataFrame:
        qs = [q] if isinstance(q, float) else list(q)
        return _ga.group_quantile(self._df, self._keys, col, qs,
                                  interpolation=interpolation,
                                  dropna_keys=self._dropna)

    def describe(self, col: str) -> DataFrame:
        return _ga.group_describe(self._df, self._keys, col,
                                  dropna_keys=self._dropna)

    def histogram(self, col: str, *, lo: float, hi: float,
                  nbins: int) -> DataFrame:
        return _ga.group_histogram(self._df, self._keys, col, lo=lo, hi=hi,
                                   nbins=nbins, dropna_keys=self._dropna)

    def idxmax(self, value: str, idx: str) -> DataFrame:
        return _ga.group_idxmax(self._df, self._keys, value, idx,
                                dropna_keys=self._dropna)

    def idxmin(self, value: str, idx: str) -> DataFrame:
        return _ga.group_idxmin(self._df, self._keys, value, idx,
                                dropna_keys=self._dropna)

    def weighted_mean(self, value: str, weight: str) -> DataFrame:
        from pandas_rust_algos_spark.operators import weighted as _wt

        return _wt.group_weighted_mean(self._df, self._keys, value, weight,
                                       dropna_keys=self._dropna)

    def weighted_var(self, value: str, weight: str,
                     *, ddof: int = 1) -> DataFrame:
        from pandas_rust_algos_spark.operators import weighted as _wt

        return _wt.group_weighted_var(self._df, self._keys, value, weight,
                                      ddof=ddof, dropna_keys=self._dropna)

    def weighted_quantile(self, value: str, weight: str,
                          *, q: float = 0.5) -> DataFrame:
        from pandas_rust_algos_spark.operators import weighted as _wt

        return _wt.group_weighted_quantile(self._df, self._keys, value,
                                           weight, q=q,
                                           dropna_keys=self._dropna)

    def weighted_corr_cov(self, x: str, y: str, weight: str,
                          *, ddof: int = 1) -> DataFrame:
        from pandas_rust_algos_spark.operators import weighted as _wt

        return _wt.group_weighted_corr_cov(self._df, self._keys, x, y,
                                           weight, ddof=ddof,
                                           dropna_keys=self._dropna)

    def weighted_quantiles(self, value: str, weight: str,
                           qs: Sequence[float]) -> DataFrame:
        """k weighted quantiles in ONE within-group sort (shared
        cumulative-weight window; columns ``wq_<q>``)."""
        from pandas_rust_algos_spark.operators import weighted as _wt

        return _wt.group_weighted_quantiles(self._df, self._keys, value,
                                            weight, qs,
                                            dropna_keys=self._dropna)

    def weighted_quantile_approx(self, value: str, weight: str,
                                 qs: Sequence[float], *, lo: float,
                                 hi: float, bins: int = 256) -> DataFrame:
        """Sketch-backed weighted quantiles (error ≤ one cell width,
        no within-group sort — the corpus-scale path). Single group
        column only: the histogram-sketch family's shape."""
        from pandas_rust_algos_spark.operators import weighted as _wt

        keys = ([self._keys] if isinstance(self._keys, str)
                else list(self._keys))
        if len(keys) != 1:
            raise ValueError(
                "weighted_quantile_approx takes exactly one grouping "
                f"column (the sketch family's shape), got {keys}")
        return _wt.group_weighted_quantile_approx(
            self._df, keys[0], value, weight, qs, lo=lo, hi=hi,
            bins=bins, dropna_keys=self._dropna)

    # ------------------------------------- transforms (need row order)

    def _ordered(self) -> Sequence[str] | str:
        if self._order is None:
            raise ValueError(
                "this operation runs in row order; construct the GroupBy "
                "with groupby(df, keys, order=...) — the distributed "
                "analogue of the reference kernels' array order")
        return self._order

    def cumsum(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _gt.group_cumsum(self._df, self._keys, self._ordered(),
                                list(cols), skipna=skipna)

    def cumprod(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _gt.group_cumprod(self._df, self._keys, self._ordered(),
                                 list(cols), skipna=skipna)

    def cummin(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _gt.group_cummin(self._df, self._keys, self._ordered(),
                                list(cols), skipna=skipna)

    def cummax(self, *cols: str, skipna: bool = True) -> DataFrame:
        return _gt.group_cummax(self._df, self._keys, self._ordered(),
                                list(cols), skipna=skipna)

    def cumcount(self) -> DataFrame:
        return _gt.group_cumcount(self._df, self._keys, self._ordered())

    def shift(self, *cols: str, periods: int = 1) -> DataFrame:
        return _gt.group_shift(self._df, self._keys, self._ordered(),
                               list(cols), periods=periods)

    def diff(self, *cols: str, periods: int = 1) -> DataFrame:
        return _gt.group_diff(self._df, self._keys, self._ordered(),
                              list(cols), periods=periods)

    def pct_change(self, *cols: str, periods: int = 1) -> DataFrame:
        return _gt.group_pct_change(self._df, self._keys, self._ordered(),
                                    list(cols), periods=periods)

    def ffill(self, *cols: str, limit: int = -1) -> DataFrame:
        return _gt.group_fillna(self._df, self._keys, self._ordered(),
                                list(cols), direction="ffill", limit=limit)

    def bfill(self, *cols: str, limit: int = -1) -> DataFrame:
        return _gt.group_fillna(self._df, self._keys, self._ordered(),
                                list(cols), direction="bfill", limit=limit)

    def interpolate(self, *cols: str) -> DataFrame:
        return _gt.group_interpolate(self._df, self._keys, self._ordered(),
                                     list(cols))

    def rank(self, col: str, *, method: str = "average",
             ascending: bool = True, pct: bool = False,
             na_option: str = "keep") -> DataFrame:
        return _gt.group_rank(self._df, self._keys, col, method=method,
                              ascending=ascending, pct=pct,
                              na_option=na_option)

    def rolling(self, *cols: str, window: int,
                aggs: Sequence[str] = ("mean",),
                min_periods: int | None = None) -> DataFrame:
        return _gt.rolling_agg(self._df, self._keys, self._ordered(),
                               list(cols), window=window, aggs=aggs,
                               min_periods=min_periods)

    def expanding(self, *cols: str, aggs: Sequence[str] = ("mean",),
                  min_periods: int = 1) -> DataFrame:
        return _gt.expanding_agg(self._df, self._keys, self._ordered(),
                                 list(cols), aggs=aggs,
                                 min_periods=min_periods)

    def rolling_time(self, ts_col: str, *cols: str, duration: str = "1 hour",
                     aggs: Sequence[str] = ("count", "sum")) -> DataFrame:
        return _gt.rolling_time_agg(self._df, self._keys, ts_col,
                                    list(cols), duration=duration, aggs=aggs)

    def ewm_mean(self, *cols: str, alpha: float, adjust: bool = True,
                 ignore_na: bool = True, na_output: str = "null") -> DataFrame:
        """pandas ``.ewm(alpha).mean()`` — all four (adjust, ignore_na)
        modes; ``na_output='carry'`` reproduces pandas' carry-forward
        output on NA input rows."""
        return _gt.group_ewm_mean(self._df, self._keys, self._ordered(),
                                  list(cols), alpha=alpha, adjust=adjust,
                                  ignore_na=ignore_na, na_output=na_output)

    def ewm_var(self, *cols: str, alpha: float) -> DataFrame:
        return _gt.group_ewm_var(self._df, self._keys, self._ordered(),
                                 list(cols), alpha=alpha)

    def ewm_std(self, *cols: str, alpha: float) -> DataFrame:
        return _gt.group_ewm_var(self._df, self._keys, self._ordered(),
                                 list(cols), alpha=alpha, std=True)

    def zscore(self, *cols: str) -> DataFrame:
        return _gt.group_zscore(self._df, self._keys, list(cols))

    def winsorize(self, col: str, *, lower: float = 0.05,
                  upper: float = 0.95) -> DataFrame:
        """Clip ``col`` to its group's [lower, upper] interpolated
        percentile bounds, keeping every row."""
        return _gt.group_winsorize(self._df, self._keys, col,
                                   lower=lower, upper=upper)


def groupby(
    df: DataFrame,
    keys: Sequence[str] | str,
    *,
    order: Sequence[str] | str | None = None,
    dropna: bool = True,
) -> GroupBy:
    """pandas-style entry point: ``groupby(df, "k").sum("v")``."""
    return GroupBy(df, keys, order=order, dropna=dropna)
