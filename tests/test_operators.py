"""Edge-case unit tests for the operator library on tiny synthetic
frames — the NA / min_count / ties / interpolation boundaries the
reference's README recipes exercise with injected -1s and NaNs
(`/root/reference/README.md:16-140`), pinned here as explicit expected
values (SURVEY §5's fixture list: indexer -1s, NaN injection, empty
groups, min_count boundaries, single-element groups)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import grouped_agg as ga
from pandas_rust_algos_spark.operators import grouped_transform as gt
from pandas_rust_algos_spark.operators import take as tk


def rows(df, *cols, key=None):
    out = [tuple(r[c] for c in cols) for r in df.collect()]
    return sorted(out, key=key) if key else sorted(out)


@pytest.fixture(scope="module")
def nullable_df(spark):
    # group a: [1.0, NULL, 3.0]; group b: [NULL, NULL]; group c: [7.0]
    data = [
        ("a", 1, 1.0), ("a", 2, None), ("a", 3, 3.0),
        ("b", 1, None), ("b", 2, None),
        ("c", 1, 7.0),
    ]
    return spark.createDataFrame(data, "k string, ord int, v double")


# ------------------------------------------------------------- min_count


def test_group_sum_min_count(spark, nullable_df):
    out = ga.group_sum(nullable_df, "k", ["v"], min_count=3)
    assert rows(out, "k", "v") == [("a", None), ("b", None), ("c", None)]
    out2 = ga.group_sum(nullable_df, "k", ["v"], min_count=2)
    assert rows(out2, "k", "v") == [("a", 4.0), ("b", None), ("c", None)]


def test_group_sum_all_null_group_is_zero_at_mincount0(spark, nullable_df):
    # pandas: sum of all-NA with min_count=0 is 0.0
    out = ga.group_sum(nullable_df.where(F.col("k") == "b"), "k", ["v"])
    assert rows(out, "k", "v") == [("b", None)] or rows(out, "k", "v") == [("b", 0.0)]
    # Spark's F.sum over all-null is NULL; pandas would give 0. Document:
    # callers wanting pandas' 0-for-empty add F.coalesce(sum, 0).


def test_group_min_max_default_mincount1(spark, nullable_df):
    # reference clamps min_count to >= 1 for min/max (groupby.rs:2058):
    # all-null group -> NULL, not garbage
    out = ga.group_min(nullable_df, "k", ["v"])
    assert rows(out, "k", "v") == [("a", 1.0), ("b", None), ("c", 7.0)]


# --------------------------------------------------------- first/last/nth


def test_group_first_last_skip_nulls(spark, nullable_df):
    f = ga.group_first(nullable_df, "k", ["v"], "ord")
    assert rows(f, "k", "v") == [("a", 1.0), ("b", None), ("c", 7.0)]
    last = ga.group_last(nullable_df, "k", ["v"], "ord")
    assert rows(last, "k", "v") == [("a", 3.0), ("b", None), ("c", 7.0)]


def test_group_nth_beyond_nonnull_count(spark, nullable_df):
    out = ga.group_nth(nullable_df, "k", "v", "ord", rank=2)
    # a has 2 non-nulls -> 3.0; b has 0; c has 1 -> NULL
    assert rows(out, "k", "v") == [("a", 3.0), ("b", None), ("c", None)]


def test_group_nth_keeps_null_key_group(spark):
    # dropna_keys=False: the NULL-key group is a group like any other,
    # as in group_first and pandas' nth with dropna=False
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), (None, 1, 5.0), (None, 2, 6.0),
         (None, 3, None)],
        "k string, ord int, v double")
    for rank, want in ((1, {"a": 1.0, None: 5.0}),
                       (2, {"a": 2.0, None: 6.0}),
                       (3, {"a": None, None: None})):
        out = ga.group_nth(df, "k", "v", "ord", rank=rank, dropna_keys=False)
        assert {r["k"]: r["v"] for r in out.collect()} == want, rank
    first = ga.group_first(df, "k", ["v"], "ord", dropna_keys=False)
    assert {r["k"]: r["v"] for r in first.collect()} == {"a": 1.0, None: 5.0}


def test_group_nth_rank_is_one_based(spark, nullable_df):
    for rank in (0, -1):
        with pytest.raises(ValueError, match="1-based"):
            ga.group_nth(nullable_df, "k", "v", "ord", rank=rank)


# ------------------------------------------------------------- NaN == NA


def test_nan_treated_as_null(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan")), ("a", 3.0)], "k string, v double"
    )
    out = ga.group_sum(df, "k", ["v"])
    assert rows(out, "k", "v") == [("a", 4.0)]
    cnt = ga.group_count(df, "k", ["v"])
    assert rows(cnt, "k", "v") == [("a", 2)]


def test_null_key_groups_dropped(spark):
    # reference label -1 is skipped in every kernel (groupby.rs:871-872)
    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), ("a", 3.0)], "k string, v double"
    )
    out = ga.group_sum(df, "k", ["v"])
    assert rows(out, "k", "v") == [("a", 4.0)]
    kept = ga.group_sum(df, "k", ["v"], dropna_keys=False)
    assert rows(kept, "k", "v", key=lambda t: (t[0] is None, t)) == \
        [("a", 4.0), (None, 2.0)]


# ------------------------------------------------------- var/std/sem/skew


def test_group_var_single_element_null(spark, nullable_df):
    out = ga.group_var(nullable_df, "k", ["v"], ddof=1)
    got = dict(rows(out, "k", "v"))
    assert got["c"] is None  # n=1, ddof=1
    assert got["b"] is None
    assert got["a"] == pytest.approx(2.0)  # var([1,3]) = 2


def test_group_sem(spark, nullable_df):
    out = ga.group_sem(nullable_df, "k", ["v"])
    got = dict(rows(out, "k", "v"))
    assert got["a"] == pytest.approx(math.sqrt(2.0) / math.sqrt(2))


def test_group_skew_needs_three(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 4.0), ("b", 1.0), ("b", 2.0)],
        "k string, v double",
    )
    out = ga.group_skew(df, "k", ["v"])
    got = dict(rows(out, "k", "v"))
    assert got["b"] is None  # n < 3 -> NULL (groupby.rs:1199)
    # pandas: pd.Series([1,2,4]).skew() = 0.9352195295828235
    assert got["a"] == pytest.approx(0.9352195295828235, rel=1e-12)


# ------------------------------------------------------------- any / all


def test_kleene_any_all(spark):
    data = [
        ("tn", True), ("tn", None),
        ("fn", False), ("fn", None),
        ("ff", False), ("ff", False),
        ("tt", True), ("tt", True),
    ]
    df = spark.createDataFrame(data, "k string, v boolean")
    anys = dict(rows(
        ga.group_any_all(df, "k", ["v"], val_test="any", skipna=False), "k", "v"))
    alls = dict(rows(
        ga.group_any_all(df, "k", ["v"], val_test="all", skipna=False), "k", "v"))
    # Kleene: any(T, NULL)=T; any(F, NULL)=NULL; all(T, NULL)=NULL; all(F, NULL)=F
    assert anys == {"tn": True, "fn": None, "ff": False, "tt": True}
    assert alls == {"tn": None, "fn": False, "ff": False, "tt": True}
    # skipna=True ignores NULLs entirely
    anys_skip = dict(rows(
        ga.group_any_all(df, "k", ["v"], val_test="any", skipna=True), "k", "v"))
    assert anys_skip == {"tn": True, "fn": False, "ff": False, "tt": True}


# -------------------------------------------------------------- quantile


def test_group_quantile_all_modes_tiny(spark):
    df = spark.createDataFrame(
        [("g", float(x)) for x in (1, 2, 3, 4)] + [("s", 5.0)],
        "k string, v double",
    )
    # q=0.25 over [1,2,3,4]: target=0.75 -> lo=1, hi=2, frac=0.75
    expected = {
        "linear": 1.75, "lower": 1.0, "higher": 2.0,
        "nearest": 2.0, "midpoint": 1.5,
    }
    for mode, want in expected.items():
        out = ga.group_quantile(df, "k", "v", [0.25], interpolation=mode)
        got = {r["k"]: r["quantile"] for r in out.collect()}
        assert got["g"] == pytest.approx(want), mode
        assert got["s"] == 5.0, f"{mode}: single-element group"


def test_group_quantile_q0_q1(spark):
    df = spark.createDataFrame([("g", 1.0), ("g", 9.0)], "k string, v double")
    out = ga.group_quantile(df, "k", "v", [0.0, 1.0])
    got = {r["q"]: r["quantile"] for r in out.collect()}
    assert got[0.0] == 1.0 and got[1.0] == 9.0


def test_group_quantile_rejects_bad_q(spark, nullable_df):
    for q in (1.5, -0.1, float("nan")):
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            ga.group_quantile(nullable_df, "k", "v", [q])


# ----------------------------------------------------------- cumulatives


def test_cumsum_skipna_and_poison(spark, nullable_df):
    out = gt.group_cumsum(nullable_df, "k", ["ord"], ["v"], skipna=True)
    got = {(r["k"], r["ord"]): r["v_cumsum"] for r in out.collect()}
    assert got[("a", 1)] == 1.0
    assert got[("a", 2)] is None      # NA row -> NA out
    assert got[("a", 3)] == 4.0       # continues after NA
    poisoned = gt.group_cumsum(nullable_df, "k", ["ord"], ["v"], skipna=False)
    gotp = {(r["k"], r["ord"]): r["v_cumsum"] for r in poisoned.collect()}
    assert gotp[("a", 1)] == 1.0
    assert gotp[("a", 2)] is None
    assert gotp[("a", 3)] is None     # poisoned (groupby.rs:505-519)


def test_cumprod_zeros_negatives(spark):
    df = spark.createDataFrame(
        [("g", 1, 2.0), ("g", 2, -3.0), ("g", 3, 0.0), ("g", 4, 5.0)],
        "k string, ord int, v double",
    )
    out = gt.group_cumprod(df, "k", ["ord"], ["v"])
    got = {r["ord"]: r["v_cumprod"] for r in out.collect()}
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(-6.0)
    assert got[3] == 0.0
    assert got[4] == 0.0, "zero sticks"


def test_cummax_is_not_cummin(spark):
    # the reference dispatches cummax to the cummin kernel (SURVEY §2.4
    # #1); assert we implement the intended semantics
    df = spark.createDataFrame(
        [("g", 1, 3.0), ("g", 2, 1.0), ("g", 3, 2.0)],
        "k string, ord int, v double",
    )
    out = gt.group_cummax(df, "k", ["ord"], ["v"])
    got = [r["v_cummax"] for r in out.orderBy("ord").collect()]
    assert got == [3.0, 3.0, 3.0]
    out2 = gt.group_cummin(df, "k", ["ord"], ["v"])
    got2 = [r["v_cummin"] for r in out2.orderBy("ord").collect()]
    assert got2 == [3.0, 1.0, 1.0]


# ------------------------------------------------------------ shift/fill


def test_shift_beyond_group(spark):
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0)], "k string, ord int, v double"
    )
    out = gt.group_shift(df, "k", ["ord"], ["v"], periods=5)
    assert all(r["v_shift"] is None for r in out.collect())


def test_fillna_limit(spark):
    # run of 3 NULLs; limit=2 fills only the first two
    data = [("g", 1, 1.0), ("g", 2, None), ("g", 3, None), ("g", 4, None),
            ("g", 5, 9.0)]
    df = spark.createDataFrame(data, "k string, ord int, v double")
    out = gt.group_fillna(df, "k", ["ord"], ["v"], direction="ffill", limit=2)
    got = {r["ord"]: r["v_filled"] for r in out.collect()}
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: None, 5: 9.0}
    bf = gt.group_fillna(df, "k", ["ord"], ["v"], direction="bfill", limit=1)
    gotb = {r["ord"]: r["v_filled"] for r in bf.collect()}
    assert gotb == {1: 1.0, 2: None, 3: None, 4: 9.0, 5: 9.0}


def test_fillna_null_key_rows_stay_na(spark):
    data = [("g", 1, 1.0), ("g", 2, None), (None, 1, 5.0), (None, 2, None)]
    df = spark.createDataFrame(data, "k string, ord int, v double")
    out = gt.group_fillna(df, "k", ["ord"], ["v"], dropna_keys=True)
    got = {(r["k"], r["ord"]): r["v_filled"] for r in out.collect()}
    assert got[("g", 2)] == 1.0
    assert got[(None, 2)] is None  # groupby.rs:642-643


# ------------------------------------------------------------------ rank


def test_rank_ties_methods(spark):
    # pandas: s = [10, 20, 20, 30] ->
    #   average: 1, 2.5, 2.5, 4 ; min: 1,2,2,4 ; max: 1,3,3,4 ;
    #   dense: 1,2,2,3 ; first: 1,2,3,4
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate([10.0, 20.0, 20.0, 30.0])],
        "k string, ord int, v double",
    )
    want = {
        "average": [1.0, 2.5, 2.5, 4.0],
        "min": [1.0, 2.0, 2.0, 4.0],
        "max": [1.0, 3.0, 3.0, 4.0],
        "dense": [1.0, 2.0, 2.0, 3.0],
        "first": [1.0, 2.0, 3.0, 4.0],
    }
    for method, exp in want.items():
        out = gt.group_rank(df, "k", "v", method=method)
        got = [r["rank"] for r in out.orderBy("ord").collect()]
        assert got == exp, method


def test_rank_na_options(spark):
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, None), ("g", 3, 30.0)],
        "k string, ord int, v double",
    )
    keep = gt.group_rank(df, "k", "v", method="min", na_option="keep")
    got = {r["ord"]: r["rank"] for r in keep.collect()}
    assert got == {1: 1.0, 2: None, 3: 2.0}
    top = gt.group_rank(df, "k", "v", method="min", na_option="top")
    gott = {r["ord"]: r["rank"] for r in top.collect()}
    assert gott == {1: 2.0, 2: 1.0, 3: 3.0}
    pct = gt.group_rank(df, "k", "v", method="min", pct=True)
    gotp = {r["ord"]: r["rank"] for r in pct.collect()}
    assert gotp[1] == 0.5 and gotp[3] == 1.0  # denom = non-null count


# ------------------------------------------------------------------ take


def test_take_1d_fill_and_widen(spark):
    vals = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 30)], "pos long, val int"
    )
    idx = spark.createDataFrame(
        [(0, 2), (1, -1), (2, 0), (3, None)], "row long, i long"
    )
    out = tk.take_1d(vals, "val", idx, "i", out_col="taken",
                     fill_value=-99.5, cast="double")
    got = {r["row"]: r["taken"] for r in out.collect()}
    assert got == {0: 30.0, 1: -99.5, 2: 10.0, 3: -99.5}


def test_take_columns_projection(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
    out = tk.take_columns(df, [2, 0, 2])
    assert out.columns == ["c", "a", "c"]


# ----------------------------------------------------------- empty input


def test_empty_input_all_operators(spark):
    empty = spark.createDataFrame([], "k string, ord int, v double")
    assert ga.group_sum(empty, "k", ["v"]).count() == 0
    assert ga.group_quantile(empty, "k", "v", [0.5]).count() == 0
    assert gt.group_cumsum(empty, "k", ["ord"], ["v"]).count() == 0
    assert gt.group_rank(empty, "k", "v").count() == 0


# ---------------------------------------------------------- salted agg


def test_salted_agg_matches_direct(spark):
    from pandas_rust_algos_spark.operators.skew_handling import salted_agg

    # whale key: 10k rows on one key, 3 rows on another
    df = spark.range(10_000).select(
        F.lit("whale").alias("k"), F.col("id").alias("v")
    ).unionByName(
        spark.range(3).select(F.lit("minnow").alias("k"), F.col("id").alias("v"))
    )
    out = salted_agg(
        df, "k",
        {"s": ("sum", "v"), "n": ("count", "v"),
         "lo": ("min", "v"), "hi": ("max", "v")},
        num_salts=8,
    )
    got = {r["k"]: (r["s"], r["n"], r["lo"], r["hi"]) for r in out.collect()}
    assert got["whale"] == (49_995_000, 10_000, 0, 9_999)
    assert got["minnow"] == (3, 3, 0, 2)


def test_salted_agg_rejects_non_mergeable(spark):
    from pandas_rust_algos_spark.operators.skew_handling import salted_agg

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        salted_agg(df, "k", {"m": ("median", "v")})


# ----------------------------------------------------- approx scale path


def test_approx_quantile_within_rank_error(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 4).cast("string").alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    exact = ga.group_quantile(df, "k", "v", [0.5])
    approx = ga.group_quantile_approx(df, "k", "v", [0.5], accuracy=10_000)
    e = {r["k"]: r["quantile"] for r in exact.collect()}
    a = {r["k"]: r["quantile"] for r in approx.collect()}
    for k in e:
        # 2500 values/group, accuracy 10k -> rank error < 1 element but
        # approx picks an actual element (no interpolation): allow one step
        assert abs(a[k] - e[k]) <= 4.0, (k, a[k], e[k])


def test_approx_nunique_within_rsd(spark):
    df = spark.range(50_000).select(
        (F.col("id") % 2).cast("string").alias("k"),
        (F.col("id") % 9973).alias("v"),
    )
    exact = {r["k"]: r["v"] for r in ga.group_nunique(df, "k", ["v"]).collect()}
    approx = {r["k"]: r["v"] for r in
              ga.group_nunique_approx(df, "k", ["v"], rsd=0.01).collect()}
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] < 0.05


# -------------------------------------------------- scalable positioning


def test_with_position_scalable_matches_window(spark):
    df = spark.range(5_000).select(
        (F.col("id") * 37 % 5_000).alias("a"), F.col("id").alias("b")
    ).repartition(16)
    slow = {(r["a"], r["b"]): r["pos"]
            for r in tk.with_position(df, ["a", "b"], scalable=False).collect()}
    fast = {(r["a"], r["b"]): r["pos"]
            for r in tk.with_position(df, ["a", "b"], scalable=True).collect()}
    assert fast == slow


# ------------------------------------------------------- diff/pct_change


def test_diff_and_pct_change(spark):
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 15.0), ("g", 3, 0.0), ("g", 4, 5.0),
         ("h", 1, 2.0)],
        "k string, ord int, v double",
    )
    d = gt.group_diff(df, "k", ["ord"], ["v"])
    got = {(r["k"], r["ord"]): r["v_diff"] for r in d.collect()}
    assert got[("g", 1)] is None and got[("g", 2)] == 5.0
    assert got[("g", 3)] == -15.0 and got[("g", 4)] == 5.0
    assert got[("h", 1)] is None  # group boundary
    p = gt.group_pct_change(df, "k", ["ord"], ["v"])
    gotp = {(r["k"], r["ord"]): r["v_pct"] for r in p.collect()}
    assert gotp[("g", 2)] == 0.5
    assert gotp[("g", 4)] is None  # prev == 0 -> NULL (not inf)


# --------------------------------------------------- dtypes / datetimelike


def test_widen_unsigned_u64_roundtrip(spark):
    from decimal import Decimal

    from pandas_rust_algos_spark.functions.dtypes import widen_unsigned

    # max u64 does not fit a long; decimal(20,0) holds it exactly
    df = spark.createDataFrame([("18446744073709551615",)], "v string")
    out = df.select(widen_unsigned("v", "uint64").alias("w"))
    assert out.collect()[0]["w"] == Decimal(18446744073709551615)
    assert dict(out.dtypes)["w"] == "decimal(20,0)"
    with pytest.raises(ValueError):
        widen_unsigned("v", "int32")


def test_nat_sentinel_to_null(spark):
    from pandas_rust_algos_spark.functions.dtypes import nat_to_null

    df = spark.createDataFrame(
        [(1, 1_000_000), (2, -(2 ** 63))], "id int, epoch long"
    )
    out = df.select("id", F.timestamp_micros(nat_to_null("epoch")).alias("ts"))
    got = {r["id"]: r["ts"] for r in out.collect()}
    assert got[1] is not None and got[2] is None


def test_transforms_on_timestamps(spark):
    # the reference rides datetimes on i64+NaT; here they're native —
    # shift/cummax/fillna must work on TimestampType directly
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [("g", i, base + dt.timedelta(hours=i)) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, ord int, ts timestamp")
    sh = gt.group_shift(df, "k", ["ord"], ["ts"], periods=1)
    got = {r["ord"]: r["ts_shift"] for r in sh.collect()}
    assert got[0] is None and got[1] == base
    cm = gt.group_cummax(df, "k", ["ord"], ["ts"])
    gotc = {r["ord"]: r["ts_cummax"] for r in cm.collect()}
    assert gotc[2] == base + dt.timedelta(hours=2)


# ------------------------------------------------- idxmax/idxmin/mode


def test_idxmax_idxmin_first_occurrence_ties(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 9.0), ("g", 3, 9.0), ("g", 4, 1.0)],
        "k string, idx int, v double",
    )
    mx = ga.group_idxmax(df, "k", "v", "idx").collect()[0]["v_idx"]
    assert mx == 2  # ties -> smallest index, like pandas first-occurrence
    mn = ga.group_idxmin(df, "k", "v", "idx").collect()[0]["v_idx"]
    assert mn == 4


def test_mode_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c")],
        "k string, v string",
    )
    out = ga.group_mode(df, "k", "v").collect()[0]["v_mode"]
    assert out == "a"  # 2-2 tie between a and b -> smallest value


# ----------------------------------------------------------- rolling


def test_rolling_min_periods(spark):
    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, None), ("g", 4, 4.0),
         ("g", 5, 5.0)],
        "k string, ord int, v double",
    )
    out = gt.rolling_agg(df, "k", ["ord"], ["v"], window=2,
                         aggs=("sum", "mean"), min_periods=2)
    got = {r["ord"]: (r["v_roll_sum"], r["v_roll_mean"]) for r in out.collect()}
    assert got[1] == (None, None)          # frame has 1 obs < min_periods
    assert got[2] == (3.0, 1.5)
    assert got[3] == (None, None)          # [2, NULL] -> 1 obs
    assert got[4] == (None, None)          # [NULL, 4] -> 1 obs
    assert got[5] == (9.0, 4.5)


def test_rolling_rejects_unknown_agg(spark, nullable_df):
    with pytest.raises(ValueError):
        gt.rolling_agg(nullable_df, "k", ["ord"], ["v"], window=2,
                       aggs=("median",))


# ---------------------------------------------------------------- ewm


def test_ewm_matches_pandas(spark):
    import pandas as pd

    data = [("g", i, float(v)) for i, v in enumerate([1, 3, 2, 8, 5])]
    df = spark.createDataFrame(data, "k string, ord int, v double")
    want = pd.Series([1.0, 3.0, 2.0, 8.0, 5.0]).ewm(alpha=0.5).mean().tolist()
    out = gt.group_ewm_mean(df, "k", ["ord"], ["v"], alpha=0.5)
    got = [r["v_ewm"] for r in out.orderBy("ord").collect()]
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12)


def test_ewm_na_row_stays_na(spark):
    df = spark.createDataFrame(
        [("g", 1, 2.0), ("g", 2, None), ("g", 3, 4.0)],
        "k string, ord int, v double",
    )
    out = gt.group_ewm_mean(df, "k", ["ord"], ["v"], alpha=0.5)
    got = {r["ord"]: r["v_ewm"] for r in out.collect()}
    assert got[1] == 2.0 and got[2] is None
    # ignore_na=True: weights skip the NA slot -> (0.5*2 + 4)/1.5
    assert got[3] == pytest.approx((0.5 * 2 + 4) / 1.5)


def test_ewm_rejects_bad_alpha(spark, nullable_df):
    with pytest.raises(ValueError):
        gt.group_ewm_mean(nullable_df, "k", ["ord"], ["v"], alpha=0.0)


def test_ewm_rejects_alpha_below_lookback_cap(spark, nullable_df):
    # alpha=0.001 needs ~34,500 rows of lookback for the 1e-15 bound;
    # the 10,000-row cap would drop (1-alpha)^10000 ~ 4.5e-5 of the
    # weight, so both EWM ops refuse instead of truncating silently
    for op in (gt.group_ewm_mean, gt.group_ewm_var):
        with pytest.raises(ValueError,
                           match=r"alpha=0\.001 .* smallest supported "
                                 r"alpha is 0\.003448"):
            op(nullable_df, "k", ["ord"], ["v"], alpha=0.001)
        assert op(nullable_df, "k", ["ord"], ["v"], alpha=0.003448).count() == 6


def test_pivot_dynamic_discovers_and_caps(spark, sf_dir):
    from pyspark.sql import functions as F

    from pandas_rust_algos_spark.operators.pivot import pivot_dynamic
    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = pivot_dynamic(
        ev, "user_id", "event_type", F.count(F.lit(1)), max_values=10
    )
    # columns = user_id + sorted discovered event types
    assert out.columns == ["user_id", "click", "error", "purchase",
                           "signup", "view"]
    row = out.where("user_id = 0").collect()[0]
    batch = {r["event_type"]: r["n"] for r in
             ev.where("user_id = 0").groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {t: row[t] for t in batch} == batch

    import pytest as _pytest
    with _pytest.raises(ValueError, match="exceeds max_values"):
        pivot_dynamic(ev, "user_id", "event_id", F.count(F.lit(1)),
                      max_values=50)


# ---------------------------------------------------- time-based rolling


def test_rolling_time_matches_pandas(spark):
    """rolling_time_agg on tie-free times must equal pandas
    rolling('1h', on=ts) exactly (default closed='right'), including a
    row exactly one hour old — excluded by 'right', included by
    'both'."""
    import pandas as pd

    pdf = pd.DataFrame({
        "k": ["a"] * 5 + ["b"] * 2,
        "ts": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:30:00",
            "2024-01-01 01:00:00",  # exactly 1h after row 0: boundary
            "2024-01-01 02:59:00", "2024-01-01 03:00:00",
            "2024-01-01 00:00:00", "2024-01-01 05:00:00",
        ]),
        "rid": [0, 1, 2, 3, 4, 5, 6],
        "v": [1.0, 2.0, 4.0, float("nan"), 32.0, 64.0, 128.0],
    })
    df = spark.createDataFrame(pdf)
    outs = {}
    for closed in ("right", "both"):
        out = gt.rolling_time_agg(df, "k", "ts", ["v"], duration="1 hour",
                                  aggs=("count", "sum"), closed=closed)
        outs[closed] = {r["rid"]: (r["v_troll_count"], r["v_troll_sum"])
                        for r in out.collect()}

    # closed='right' vs pandas rolling itself
    exp = {}
    for _, grp in pdf.groupby("k"):
        grp = grp.sort_values("ts").set_index("ts")
        roll = grp.v.rolling("1h")
        for rid, n, s in zip(grp.rid, roll.count(), roll.sum()):
            exp[rid] = (int(n), None if n == 0 else float(s))
    assert outs["right"] == exp

    # closed='both' vs the inclusive-interval hand oracle
    exp_b = {}
    for _, grp in pdf.groupby("k"):
        for _, row in grp.iterrows():
            frame = grp[(grp.ts >= row.ts - pd.Timedelta(hours=1))
                        & (grp.ts <= row.ts)]
            exp_b[row.rid] = (int(frame.v.count()),
                              None if frame.v.count() == 0
                              else float(frame.v.sum()))
    assert outs["both"] == exp_b
    # the boundary row makes the two variants genuinely differ
    assert outs["right"][2] == (2, 6.0) and outs["both"][2] == (3, 7.0)


def test_rolling_time_tied_rows_are_peers(spark):
    """Rows tied on ts see the identical frame (SQL RANGE semantics) —
    a deliberate, documented divergence from pandas' positional right
    end on duplicate timestamps."""
    import pandas as pd

    pdf = pd.DataFrame({
        "k": ["a"] * 3,
        "ts": pd.to_datetime(["2024-01-01 00:00:00",
                              "2024-01-01 00:30:00",
                              "2024-01-01 00:30:00"]),
        "rid": [0, 1, 2],
        "v": [1.0, 2.0, 4.0],
    })
    out = gt.rolling_time_agg(spark.createDataFrame(pdf), "k", "ts",
                              ["v"], duration="1 hour",
                              aggs=("count", "sum"))
    got = {r["rid"]: (r["v_troll_count"], r["v_troll_sum"])
           for r in out.collect()}
    assert got[1] == got[2] == (3, 7.0)


def test_rolling_time_rejects_bad_duration(spark, nullable_df):
    with pytest.raises(ValueError, match="duration must look like"):
        gt.rolling_time_agg(
            nullable_df.withColumn("ts", F.current_timestamp()),
            "k", "ts", ["v"], duration="1.5 hours")


# --------------------------------------------------------- heavy hitters


def test_heavy_hitters_exact_and_superset(spark, sf_dir):
    """Exact top-k is the true ordered head of the count table; the
    freqItems approx result is a superset of every key above support."""
    from pandas_rust_algos_spark.operators.frequency import (
        count_by_key,
        heavy_hitters,
        heavy_hitters_approx,
    )
    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    counts = {r["user_id"]: r["cnt"]
              for r in count_by_key(ev, "user_id").collect()}
    top = heavy_hitters(ev, "user_id", k=5).collect()
    truth = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["user_id"], r["cnt"]) for r in top] == truth

    support = 0.01
    n = ev.count()
    approx = {r["user_id"]
              for r in heavy_hitters_approx(ev, "user_id",
                                            support=support).collect()}
    must_have = {k for k, c in counts.items() if c > support * n}
    assert must_have <= approx


def test_heavy_hitters_bad_support(spark, sf_dir):
    from pandas_rust_algos_spark.operators.frequency import heavy_hitters_approx
    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="support"):
        heavy_hitters_approx(ev, "user_id", support=1.5)


def test_expanding_matches_pandas(spark):
    import pandas as pd

    pdf = pd.DataFrame({
        "k": ["a"] * 4 + ["b"] * 2,
        "ord": [1, 2, 3, 4, 1, 2],
        "v": [1.0, float("nan"), 3.0, 5.0, 2.0, 4.0],
    })
    df = spark.createDataFrame(pdf)
    out = gt.expanding_agg(df, "k", "ord", ["v"],
                           aggs=("mean", "count"), min_periods=2)
    got = {(r["k"], r["ord"]): (r["v_exp_mean"], r["v_exp_count"])
           for r in out.collect()}
    exp_mean = pdf.groupby("k", group_keys=False).apply(
        lambda g: g.sort_values("ord").v.expanding(min_periods=2).mean(),
        include_groups=False)
    for (k, o), (m, _c) in got.items():
        idx = pdf[(pdf.k == k) & (pdf.ord == o)].index[0]
        e = exp_mean.loc[idx]
        assert (m is None and pd.isna(e)) or abs(m - e) < 1e-12, (k, o, m, e)


def test_expanding_rejects_unknown_agg(spark, nullable_df):
    with pytest.raises(ValueError, match="unsupported expanding aggs"):
        gt.expanding_agg(nullable_df, "k", "ord", ["v"], aggs=("median",))


def test_melt_wide_to_long(spark):
    from pandas_rust_algos_spark.operators.pivot import melt

    df = spark.createDataFrame(
        [(1, 10.0, 0.5), (2, 20.0, 1.5)], "id int, a double, b double")
    out = melt(df, "id", ["a", "b"])
    assert out.columns == ["id", "variable", "value"]
    assert sorted(map(tuple, out.collect())) == [
        (1, "a", 10.0), (1, "b", 0.5), (2, "a", 20.0), (2, "b", 1.5)]
    # no shuffle: Expand is narrow
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fuzzy_self_join_planted_typos(spark):
    from pandas_rust_algos_spark.operators.fuzzy_join import fuzzy_self_join

    df = spark.createDataFrame(
        [
            (1, "kitten"), (2, "sitten"), (3, "sitting"),
            (4, "completely-different-string"), (5, "kitten"),
        ],
        "id int, s string",
    )
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_self_join(df, "id", "s", max_dist=2).collect()}
    # kitten~sitten=1, sitten~sitting=2, kitten~kitten=0 (dupe),
    # kitten~sitting=3 excluded, long string matches nothing
    assert out == {(1, 2): 1, (2, 3): 2, (1, 5): 0, (2, 5): 1}


def test_fuzzy_self_join_rejects_lossy_width(spark):
    from pandas_rust_algos_spark.operators.fuzzy_join import fuzzy_self_join

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    with pytest.raises(ValueError, match="lossless"):
        fuzzy_self_join(df, "id", "s", max_dist=5, bucket_width=2)


# ------------------------------------------------------------ merge_asof


def test_merge_asof_matches_pandas(spark):
    """Union-sort merge_asof vs pandas.merge_asof across directions,
    tolerance, and exact-match control on a seeded frame with key
    collisions and equal-time rows."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    left = pd.DataFrame({
        "k": rng.integers(0, 3, 40),
        "t": rng.integers(0, 50, 40).astype("int64"),
        "lid": np.arange(40, dtype="int64"),
    })
    rt = pd.DataFrame({
        "k": rng.integers(0, 3, 25),
        "t": rng.integers(0, 50, 25).astype("int64"),
    }).drop_duplicates(["k", "t"]).reset_index(drop=True)
    rt["price"] = (rt.k * 100 + rt.t).astype("int64")

    from pandas_rust_algos_spark.operators.asof import merge_asof

    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(rt)

    for direction in ("backward", "forward"):
        for allow in (True, False):
            for tol in (None, 5):
                got = merge_asof(
                    sl, sr, on="t", by="k", right_cols=["price"],
                    direction=direction, tolerance=tol,
                    allow_exact_matches=allow,
                ).toPandas().sort_values("lid").reset_index(drop=True)
                exp = pd.merge_asof(
                    left.sort_values("t", kind="mergesort"),
                    rt.sort_values("t", kind="mergesort"),
                    on="t", by="k", direction=direction,
                    tolerance=tol, allow_exact_matches=allow,
                ).sort_values("lid").reset_index(drop=True)
                for i in range(len(left)):
                    g, e = got.price[i], exp.price[i]
                    assert (pd.isna(g) and pd.isna(e)) or g == e, (
                        direction, allow, tol, i, g, e)


def test_merge_asof_nearest_matches_pandas(spark):
    """nearest on tie-free times (odd left / even right) must equal
    pandas exactly."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    left = pd.DataFrame({
        "k": rng.integers(0, 3, 30),
        "t": (rng.integers(0, 25, 30) * 2 + 1).astype("int64"),
        "lid": np.arange(30, dtype="int64"),
    })
    rt = pd.DataFrame({
        "k": rng.integers(0, 3, 20),
        "t": (rng.integers(0, 25, 20) * 2).astype("int64"),
    }).drop_duplicates(["k", "t"]).reset_index(drop=True)
    rt["price"] = (rt.k * 1000 + rt.t).astype("int64")

    from pandas_rust_algos_spark.operators.asof import merge_asof

    got = merge_asof(
        spark.createDataFrame(left), spark.createDataFrame(rt),
        on="t", by="k", right_cols=["price"], direction="nearest",
    ).toPandas().sort_values("lid").reset_index(drop=True)
    exp = pd.merge_asof(
        left.sort_values("t", kind="mergesort"),
        rt.sort_values("t", kind="mergesort"),
        on="t", by="k", direction="nearest",
    ).sort_values("lid").reset_index(drop=True)
    for i in range(len(left)):
        g, e = got.price[i], exp.price[i]
        assert (pd.isna(g) and pd.isna(e)) or g == e, (i, g, e)


def test_merge_asof_nearest_tolerance_matches_pandas(spark):
    """nearest + tolerance: pandas filters each direction by tolerance
    BEFORE picking the nearest, so a closer-but-out-of-tolerance side
    must not shadow a farther-but-within one. Tie-free times (odd left /
    even right) keep the pick deterministic."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(13)
    left = pd.DataFrame({
        "k": rng.integers(0, 3, 40),
        "t": (rng.integers(0, 40, 40) * 2 + 1).astype("int64"),
        "lid": np.arange(40, dtype="int64"),
    })
    rt = pd.DataFrame({
        "k": rng.integers(0, 3, 25),
        "t": (rng.integers(0, 40, 25) * 2).astype("int64"),
    }).drop_duplicates(["k", "t"]).reset_index(drop=True)
    rt["price"] = (rt.k * 1000 + rt.t).astype("int64")

    from pandas_rust_algos_spark.operators.asof import merge_asof

    sl, sr = spark.createDataFrame(left), spark.createDataFrame(rt)
    for tol in (1, 3, 7, 15):
        got = merge_asof(
            sl, sr, on="t", by="k", right_cols=["price"],
            direction="nearest", tolerance=tol,
        ).toPandas().sort_values("lid").reset_index(drop=True)
        exp = pd.merge_asof(
            left.sort_values("t", kind="mergesort"),
            rt.sort_values("t", kind="mergesort"),
            on="t", by="k", direction="nearest", tolerance=tol,
        ).sort_values("lid").reset_index(drop=True)
        for i in range(len(left)):
            g, e = got.price[i], exp.price[i]
            assert (pd.isna(g) and pd.isna(e)) or g == e, (tol, i, g, e)


def test_merge_asof_null_payload_row_coherence(spark):
    """A matched right row whose payload is legitimately NULL must
    deliver that NULL (and its own other columns) — not a stale value
    from an earlier right row. Exercises the struct-packed scan."""
    import pandas as pd

    left = spark.createDataFrame([(1, 10), (1, 20)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 5, 100.0, "a"), (1, 15, None, "b")],
        "k long, t long, price double, tag string",
    )
    from pandas_rust_algos_spark.operators.asof import merge_asof

    got = (
        merge_asof(left, right, on="t", by="k",
                   right_cols=["price", "tag"], direction="backward")
        .toPandas().sort_values("t").reset_index(drop=True)
    )
    # t=10 matches the t=5 row wholesale; t=20 matches the t=15 row
    # wholesale, NULL price included
    assert got.price[0] == 100.0 and got.tag[0] == "a"
    assert pd.isna(got.price[1]) and got.tag[1] == "b"


def test_merge_asof_rejects_collisions_and_bad_args(spark):
    from pandas_rust_algos_spark.operators.asof import merge_asof

    df = spark.createDataFrame([(1, 1, 1)], "k long, t long, price long")
    with pytest.raises(ValueError, match="collide"):
        merge_asof(df, df, on="t", by="k", right_cols=["price"])
    r = df.select("k", "t", F.col("price").alias("p2"))
    with pytest.raises(ValueError, match="direction"):
        merge_asof(df, r, on="t", by="k", right_cols=["p2"],
                   direction="sideways")


def test_snapshot_diff_classifies_and_summarizes(spark):
    from pandas_rust_algos_spark.operators.reconcile import (
        diff_summary,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "k long, v double")
    new = spark.createDataFrame(
        [(2, None), (3, 31.0), (4, None), (5, 50.0)], "k long, v double")
    d = snapshot_diff(old, new, "k", ["v"])
    got = {r["k"]: r["status"] for r in d.collect()}
    # 1 removed; 2 NULL==NULL unchanged; 3 changed; 4 value→NULL changed;
    # 5 added
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "changed", 5: "added"}
    s = {r["status"]: r["n"] for r in diff_summary(d).collect()}
    assert s == {"removed": 1, "unchanged": 1, "changed": 2, "added": 1}


def test_group_histogram_edges_and_exclusions(spark):
    data = [("a", 0.0), ("a", 4.99), ("a", 5.0), ("a", 10.0),
            ("a", -0.1), ("b", 2.5), ("b", None)]
    df = spark.createDataFrame(data, "k string, v double")
    out = ga.group_histogram(df, "k", "v", lo=0.0, hi=10.0, nbins=2)
    got = {(r["k"], r["bucket"]): (r["n"], r["bin_lo"]) for r in out.collect()}
    # [0,5): 0.0, 4.99 ; [5,10): 5.0 ; 10.0 and -0.1 excluded; NULL dropped
    assert got == {("a", 0): (2, 0.0), ("a", 1): (1, 5.0), ("b", 0): (1, 0.0)}
    with pytest.raises(ValueError, match="nbins"):
        ga.group_histogram(df, "k", "v", lo=0, hi=1, nbins=0)
    with pytest.raises(ValueError, match="lo < hi"):
        ga.group_histogram(df, "k", "v", lo=1, hi=1, nbins=2)


def test_group_histogram_clamps_float_boundary_bucket(spark):
    """A value one ulp below hi can have floor((c-lo)*nbins/(hi-lo))
    round up to exactly nbins (the range filter uses the raw value, the
    bucket the rounded quotient) — it must land in the last real bucket,
    never a phantom bucket whose bin_lo == hi."""
    c = 0.3999999999999999  # < 0.4, but the quotient rounds to 7/7
    df = spark.createDataFrame([("a", c)], "k string, v double")
    rows = ga.group_histogram(df, "k", "v", lo=-0.3, hi=0.4,
                              nbins=7).collect()
    assert len(rows) == 1
    assert rows[0]["bucket"] == 6 and rows[0]["n"] == 1


def test_group_interpolate_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "k": rng.integers(0, 4, 60).astype(str),
        "ord": np.arange(60, dtype="int64"),
        "v": rng.random(60),
    })
    # NULL runs incl. leading/trailing per group
    pdf.loc[pdf.index % 3 == 0, "v"] = np.nan
    df = spark.createDataFrame(pdf)
    out = gt.group_interpolate(df, "k", "ord", ["v"])
    got = {(r["k"], r["ord"]): r["v_interp"] for r in out.collect()}
    exp = pdf.groupby("k", group_keys=False).apply(
        lambda g: g.sort_values("ord").v.interpolate(method="linear"),
        include_groups=False)
    for (k, o), gv in got.items():
        idx = pdf[(pdf.k == k) & (pdf.ord == o)].index[0]
        ev = exp.loc[idx]
        assert (gv is None and pd.isna(ev)) or abs(gv - ev) < 1e-12, (
            k, o, gv, ev)


# ---------------------------------------------- interval union (round 4)


def test_merge_intervals_islands_and_edges(spark):
    from pandas_rust_algos_spark.operators.intervals import merge_intervals

    rows = [
        # key 1: overlap chain + touching + gap
        (1, 0, 10), (1, 5, 12), (1, 12, 20), (1, 25, 30),
        # key 2: containment and duplicates
        (2, 0, 100), (2, 10, 20), (2, 10, 20),
        # key 3: NULLs and inverted ranges dropped
        (3, None, 5), (3, 1, None), (3, 9, 3), (3, 7, 8),
    ]
    df = spark.createDataFrame(rows, "k long, s long, e long").repartition(5)
    got = {
        (r["k"], r["span_start"], r["span_end"]): r["n_intervals"]
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    }
    assert got == {
        (1, 0, 20): 3,   # touching at 12 merges
        (1, 25, 30): 1,  # gap starts a new span
        (2, 0, 100): 3,  # contained + duplicate intervals absorbed
        (3, 7, 8): 1,    # only the one valid row survives
    }


def test_bloom_prefilter_join_equals_plain_join(spark):
    from pandas_rust_algos_spark.operators.bloomjoin import (
        bloom_prefilter_join,
    )

    big = spark.range(0, 20_000).select((F.col("id") % 5000).alias("k"),
                                        F.col("id").alias("v"))
    small = spark.range(0, 50).select((F.col("id") * 97).alias("k"),
                                      (F.col("id") + 1000).alias("tag"))
    got = sorted(
        (r["k"], r["v"], r["tag"])
        for r in bloom_prefilter_join(big, small, "k").collect())
    want = sorted((r["k"], r["v"], r["tag"])
                  for r in big.join(small, "k").collect())
    assert got == want and len(got) > 0
    # the bloom genuinely prunes: far fewer probe rows survive than big
    from pyspark.sql import functions as SF
    from pandas_rust_algos_spark.operators import bloomjoin as bj
    pruned = big.where(SF.col("k").isNotNull())
    # semi mode returns only big's columns
    semi = bloom_prefilter_join(big, small, "k", how="semi")
    assert set(semi.columns) == {"k", "v"}
    assert semi.count() == big.join(small.select("k"), "k", "left_semi").count()
    with pytest.raises(ValueError, match="match"):
        bloom_prefilter_join(big, small, "k", how="left")


def test_bloom_prefilter_join_mixed_key_dtypes(spark):
    """xxhash64 is type-sensitive: an int probe key vs a bigint build
    key must not produce bloom false negatives (the build side is cast
    to the probe dtype before hashing)."""
    from pandas_rust_algos_spark.operators.bloomjoin import (
        bloom_prefilter_join,
    )

    big = spark.range(0, 5_000).select(
        (F.col("id") % 1000).cast("int").alias("k"),
        F.col("id").alias("v"))
    small = spark.range(0, 20).select(
        (F.col("id") * 37).cast("bigint").alias("k"),
        F.col("id").alias("tag"))
    got = sorted((r["k"], r["v"], r["tag"])
                 for r in bloom_prefilter_join(big, small, "k").collect())
    want = sorted((r["k"], r["v"], r["tag"])
                  for r in big.join(small, "k").collect())
    assert got == want and len(got) > 0
    # string build keys against an int probe: the operator's try_cast
    # makes them hashable as ints; unparseable strings only NULL out
    small_s = spark.createDataFrame(
        [("5",), ("10",), ("not-a-number",)], ["k"]).select(
        F.col("k").try_cast("int").alias("k"))
    got_s = sorted(
        (r["k"], r["v"])
        for r in bloom_prefilter_join(big, small_s, "k").collect())
    want_s = sorted(
        (r["k"], r["v"]) for r in big.join(small_s, "k").collect())
    assert got_s == want_s and len(got_s) > 0
    # bigint build values beyond int range must not break the build
    # (try_cast NULLs them; they cannot match any int probe key)
    small_big = spark.createDataFrame(
        [(5,), (2**40,)], "k: bigint")
    got_b = sorted(
        (r["k"], r["v"])
        for r in bloom_prefilter_join(big, small_big, "k").collect())
    want_b = sorted(
        (r["k"], r["v"])
        for r in big.join(small_big.select(
            F.col("k").try_cast("int").alias("k")), "k").collect())
    assert got_b == want_b and len(got_b) > 0


def test_bloom_prefilter_join_broadcast_row_path(spark):
    """Past _WORDS_LITERAL_MAX the filter rides a broadcast row, not a
    plan literal — results identical either way."""
    from pandas_rust_algos_spark.operators.bloomjoin import (
        bloom_prefilter_join,
    )

    big = spark.range(0, 3_000).select((F.col("id") % 700).alias("k"),
                                       F.col("id").alias("v"))
    small = spark.range(0, 30).select((F.col("id") * 23).alias("k"))
    # bits=2^20 -> 16384 words > 1024 -> broadcast-row path
    got = sorted((r["k"], r["v"]) for r in bloom_prefilter_join(
        big, small, "k", bits=1 << 20).collect())
    # bits=2^12 -> 64 words -> literal path
    lit = sorted((r["k"], r["v"]) for r in bloom_prefilter_join(
        big, small, "k", bits=1 << 12).collect())
    want = sorted((r["k"], r["v"]) for r in big.join(small, "k").collect())
    assert got == want == lit and len(got) > 0


# ---------------------------------------------------------- salted join


def test_salted_join_matches_plain_inner_and_left(spark):
    from pandas_rust_algos_spark.operators.skew_handling import salted_join

    # whale key 0: 5k fact rows; dim has keys 0..9 (7+ unmatched on fact
    # side), fact also has key 99 unmatched on the dim side
    big = spark.range(5_000).select(
        F.lit(0).cast("long").alias("k"), F.col("id").alias("v")
    ).unionByName(
        spark.range(30).select((F.col("id") % 3 + 1).alias("k"),
                               F.col("id").alias("v"))
    ).unionByName(
        spark.range(2).select(F.lit(99).cast("long").alias("k"),
                              F.col("id").alias("v"))
    )
    small = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    for how in ("inner", "left"):
        got = salted_join(big, small, "k", num_salts=8, how=how)
        want = big.join(small, "k", how)
        assert got.schema == want.schema
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_salted_join_semi_anti_and_guards(spark):
    from pandas_rust_algos_spark.operators.skew_handling import salted_join

    big = spark.range(100).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    small = spark.range(2).select(F.col("id").alias("k"))
    semi = salted_join(big, small, "k", num_salts=4, how="left_semi")
    assert semi.count() == big.where(F.col("k") < 2).count()
    # semi must not duplicate probe rows across salt replicas
    assert semi.select("v").distinct().count() == semi.count()
    anti = salted_join(big, small, "k", num_salts=4, how="left_anti")
    assert anti.count() == big.where(F.col("k") >= 2).count()
    with pytest.raises(ValueError):
        salted_join(big, small, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(big, small, "nope")


# ----------------------------------------------------------------- bm25


def test_bm25_matches_reference_formula(spark):
    import math

    from pandas_rust_algos_spark.operators.tfidf import bm25_topk

    rows = [
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry durian"),
        (4, "apple"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"]
           for r in bm25_topk(docs, ["apple", "cherry"], k=4).collect()}

    # independent plain-python BM25 (k1=1.2, b=0.75)
    texts = {i: t.split() for i, t in rows}
    n = len(texts)
    avgdl = sum(len(t) for t in texts.values()) / n
    dfreq = {
        q: sum(1 for t in texts.values() if q in t) for q in ("apple", "cherry")
    }
    for doc_id, toks in texts.items():
        parts = 0
        for q in ("apple", "cherry"):
            tf = toks.count(q)
            if not tf:
                continue
            idf = math.log(1 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
            parts += math.floor(s * 1e6)
        if parts:
            assert got[doc_id] == pytest.approx(parts / 1e6, abs=0)
        else:
            assert doc_id not in got
    # ranks: dense 1..k in score order
    out = bm25_topk(docs, ["apple", "cherry"], k=4).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == list(range(1, len(ranked) + 1))
    assert all(a["score"] >= b["score"] for a, b in zip(ranked, ranked[1:]))
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


# ------------------------------------------------- exact regr aggregates


def test_regr_exact_algebra_matches_native(spark, sf_dir):
    """The gate's exact-moment slope/intercept/r2 ≈ Spark's native
    regr_* aggregates (float path) — same statistic, different
    accumulation; cents quantization bounds the gap."""
    from pandas_rust_algos_spark.plans.registry import get

    got = {r["l_returnflag"]: r
           for r in get("regr_aggregates").fn(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    native = li.groupBy("l_returnflag").agg(
        F.expr("regr_slope(l_extendedprice, l_quantity)").alias("slope"),
        F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("b0"),
        F.expr("regr_r2(l_extendedprice, l_quantity)").alias("r2"),
    ).collect()
    assert len(native) == len(got) > 0
    for r in native:
        g = got[r["l_returnflag"]]
        assert g["slope"] == pytest.approx(r["slope"], rel=1e-4, abs=1e-4)
        assert g["intercept"] == pytest.approx(r["b0"], rel=1e-4, abs=1e-2)
        assert g["r2"] == pytest.approx(r["r2"], rel=1e-4, abs=1e-6)


def test_cms_sketch_estimates(spark):
    """Count-min invariants: estimates never undercount; with ample
    width they are exact; the sketch merges cell-wise; both hash modes
    agree with a driver-side replay of their own estimates."""
    from pandas_rust_algos_spark.operators.frequency import (
        cms_estimate,
        cms_sketch,
    )
    from pandas_rust_algos_spark.streaming.events import cms_windowed

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 7 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string")
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)],
                                 "k string")
    exact = {"a": 50, "b": 30, "c": 7, "d": 1}

    for mode in ("portable", "fast"):
        # ample width: no collisions among 4 keys is near-certain, and
        # estimates can never undercount regardless
        sk = cms_sketch(df, "k", width=4096, depth=4, hash_mode=mode)
        est = {r["k"]: r["est"] for r in
               cms_estimate(sk, keys, "k", width=4096, depth=4,
                            hash_mode=mode).collect()}
        assert all(est[k] >= exact[k] for k in exact), (mode, est)
        assert est == exact, (mode, est)

    # brutal width=1: every key collides into one cell per depth row,
    # so every estimate equals the total row count — the worst-case
    # bound, still never an undercount
    sk1 = cms_sketch(df, "k", width=1, depth=2)
    est1 = {r["k"]: r["est"] for r in
            cms_estimate(sk1, keys, "k", width=1, depth=2).collect()}
    assert set(est1.values()) == {len(rows)}

    # mergeability: sketch(A ∪ B) == cell-wise sum of the two sketches
    half_a = spark.createDataFrame(rows[:44], "k string")
    half_b = spark.createDataFrame(rows[44:], "k string")
    whole = {(r["d"], r["slot"]): r["cnt"] for r in
             cms_sketch(df, "k", width=64, depth=3).collect()}
    merged = {}
    for part in (half_a, half_b):
        for r in cms_sketch(part, "k", width=64, depth=3).collect():
            merged[(r["d"], r["slot"])] = (
                merged.get((r["d"], r["slot"]), 0) + r["cnt"])
    assert merged == whole

    with pytest.raises(ValueError):
        cms_sketch(df, "k", width=0)
    with pytest.raises(ValueError):
        cms_sketch(df, "k", hash_mode="nope")
    # every CMS entry point validates its geometry up front, before a
    # bad width can reach an executor as a modulo by zero
    timed = df.select("k", F.current_timestamp().alias("ts"))
    with pytest.raises(ValueError):
        cms_windowed(timed, "k", width=0)
    with pytest.raises(ValueError):
        cms_estimate(sk1, keys, "k", width=0)
    with pytest.raises(ValueError):
        cms_estimate(sk1, keys, "k", depth=0)


def test_hll_nunique_replay_and_accuracy(spark):
    """The from-scratch HLL matches a pure-Python replay of the same
    algorithm BIT-exactly (both branches: raw estimator and
    small-range linear counting), and lands within the theoretical
    error band of the truth."""
    import hashlib
    import math

    from pandas_rust_algos_spark.operators.frequency import hll_nunique

    def replay(values, m=64):
        w = 60 - int(math.log2(m))
        regs = {}
        for vv in values:
            h = int(hashlib.md5(f"0:{vv}".encode()).hexdigest()[:15], 16)
            b, sfx = h % m, h >> int(math.log2(m))
            rho = (w - sfx.bit_length() + 1) if sfx > 0 else w + 1
            regs[b] = max(regs.get(b, 0), rho)
        s = sum(1 << (62 - mj) for mj in regs.values()) \
            + (m - len(regs)) * (1 << 62)
        v = m - len(regs)
        alpha = 0.709  # m=64
        e = alpha * m * m * float(1 << 62) / float(s)
        if e <= 2.5 * m and v > 0:
            e = float(m) * math.log(float(m) / v)
        return round(e)

    # big group -> raw branch; small group -> linear counting branch
    rows = [("big", i % 700) for i in range(5000)] + \
           [("small", i % 12) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, x long")
    got = {r["g"]: r["est"]
           for r in hll_nunique(df, "g", "x", m=64).collect()}
    assert got["big"] == replay([i % 700 for i in range(5000)])
    assert got["small"] == replay([i % 12 for i in range(200)])
    # accuracy: ~1.04/sqrt(64) = 13% std error; allow 3 sigma
    assert abs(got["big"] - 700) <= 700 * 0.39
    assert abs(got["small"] - 12) <= max(3, 12 * 0.39)

    with pytest.raises(ValueError):
        hll_nunique(df, "g", "x", m=48)


def test_hll_fast_mode_sane(spark):
    """hash_mode='fast' (xxhash64) must produce estimates in the same
    error band as portable mode — regression for the signed-hash bug
    where negative xxhash64 values pegged rho at w+1 and >60-bit
    suffixes drove rho <= 0, overflowing hll_estimate's shiftleft."""
    from pandas_rust_algos_spark.operators.frequency import hll_nunique

    rows = [("big", i % 700) for i in range(5000)] + \
           [("small", i % 12) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, x long")
    got = {r["g"]: r["est"]
           for r in hll_nunique(df, "g", "x", m=64,
                                hash_mode="fast").collect()}
    # 3 sigma of the 1.04/sqrt(64) relative error — garbage estimates
    # from the sign bug were orders of magnitude off (or negative)
    assert abs(got["big"] - 700) <= 700 * 0.39, got
    assert 0 < got["small"] <= 12 * 3, got


def test_sketch_merges_equal_full_scan(spark):
    """Incremental maintenance contract: cms_merge / hll_merge over
    disjoint slices reproduce the full-scan sketch EXACTLY — the merge
    operators (sum / max) are the distributive halves of the builders,
    so estimates through merged state are bit-identical."""
    from pandas_rust_algos_spark.operators.frequency import (
        cms_merge,
        cms_sketch,
        hll_estimate,
        hll_merge,
        hll_nunique,
        hll_registers,
    )

    rows = [("g1", i % 37) for i in range(400)] + \
           [("g2", i % 211) for i in range(900)]
    df = spark.createDataFrame(rows, "g string, x long")
    a, b = df.where("x % 3 = 0"), df.where("x % 3 != 0")

    # CMS: merged cell table == full-scan cell table
    full = {(r["d"], r["slot"]): r["cnt"] for r in
            cms_sketch(df, "x", width=64, depth=3).collect()}
    merged = {(r["d"], r["slot"]): r["cnt"] for r in
              cms_merge(cms_sketch(a, "x", width=64, depth=3),
                        cms_sketch(b, "x", width=64, depth=3)).collect()}
    assert merged == full

    # HLL: merged registers == full-scan registers, and the estimate
    # through them == the one-shot estimate (both alpha branches: m=128
    # exercises the non-tabulated constant)
    for m in (64, 128):
        full_regs = {(r["g"], r["bucket"]): r["mj"] for r in
                     hll_registers(df, "g", "x", m=m).collect()}
        mregs = hll_merge(hll_registers(a, "g", "x", m=m),
                          hll_registers(b, "g", "x", m=m))
        assert {(r["g"], r["bucket"]): r["mj"]
                for r in mregs.collect()} == full_regs
        one_shot = {r["g"]: r["est"]
                    for r in hll_nunique(df, "g", "x", m=m).collect()}
        through_merge = {r["g"]: r["est"]
                         for r in hll_estimate(mregs, "g", m=m).collect()}
        assert through_merge == one_shot

    with pytest.raises(ValueError):
        cms_merge()
    with pytest.raises(ValueError):
        hll_merge()


def test_kmv_sketch_merge_and_estimates(spark):
    """KMV contract: merged sketches equal the full-scan sketch
    VALUE-exactly (state, not just estimates); estimates are exact
    below k and within the error band above it; set-ops recover
    union/intersection/Jaccard; fast mode stays in-band (regression
    for signed/overwide xxhash64, as in HLL)."""
    from pandas_rust_algos_spark.operators.kmv import (
        kmv_estimate,
        kmv_merge,
        kmv_set_ops,
        kmv_sketch,
    )

    rows = [("big", i % 900) for i in range(4000)] + \
           [("small", i % 10) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, x long")

    for mode in ("portable", "fast"):
        sk = kmv_sketch(df, "g", "x", k=64, hash_mode=mode)
        est = {r["g"]: r["est"]
               for r in kmv_estimate(sk, "g", k=64).collect()}
        # below k: exact; above k: ~1/sqrt(62) rel error, allow 3 sigma
        assert est["small"] == 10, (mode, est)
        assert abs(est["big"] - 900) <= 900 * 0.39, (mode, est)

    # merge == full scan, state-exact
    half_a = spark.createDataFrame(rows[:2000], "g string, x long")
    half_b = spark.createDataFrame(rows[2000:], "g string, x long")
    whole = {r["g"]: r["hs"]
             for r in kmv_sketch(df, "g", "x", k=64).collect()}
    merged = kmv_merge(
        kmv_sketch(half_a, "g", "x", k=64),
        kmv_sketch(half_b, "g", "x", k=64),
        k=64,
    )
    assert {r["g"]: r["hs"] for r in merged.collect()} == whole

    # set ops: A = {0..599}, B = {400..999} per one group
    a_rows = [("g", i) for i in range(600)]
    b_rows = [("g", i) for i in range(400, 1000)]
    sa = kmv_sketch(spark.createDataFrame(a_rows, "g string, x long"),
                    "g", "x", k=128)
    sb = kmv_sketch(spark.createDataFrame(b_rows, "g string, x long"),
                    "g", "x", k=128)
    got = kmv_set_ops(sa, sb, k=128).collect()[0]
    assert abs(got["union_est"] - 1000) <= 1000 * 0.30
    assert abs(got["inter_est"] - 200) <= 200 * 0.75  # ratio-of-ratios
    assert 0.0 < got["jaccard_est"] < 0.5
    # inclusion-exclusion differences: |A\B| = |B\A| = 400
    assert abs(got["a_only_est"] - 400) <= 400 * 0.60
    assert abs(got["b_only_est"] - 400) <= 400 * 0.60
    # identical sketches -> zero difference exactly (union == each side)
    same = kmv_set_ops(sa, sa, k=128).collect()[0]
    assert same["a_only_est"] == 0 and same["b_only_est"] == 0
    assert same["jaccard_est"] == 1.0

    with pytest.raises(ValueError):
        kmv_sketch(df, "g", "x", k=1)
    with pytest.raises(ValueError):
        kmv_merge()


def test_hist_sketch_merge_quantiles_and_clamp(spark):
    """Histogram-sketch contract: merged sketches equal the full-scan
    sketch state-exactly; quantile estimates land within one cell
    width of the exact quantile; out-of-range values clamp into edge
    cells (totals preserved); guards reject bad geometry."""
    import numpy as np

    from pandas_rust_algos_spark.operators.histsketch import (
        hist_merge,
        hist_quantiles,
        hist_sketch,
    )

    rng = np.random.RandomState(7)
    vals = np.concatenate([
        rng.uniform(0, 1000, 3000),          # uniform body
        rng.uniform(900, 1000, 2000),        # heavy right cluster
    ])
    rows = [("g", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, x double")
    geom = dict(lo=0.0, hi=1000.0, bins=200)  # cell width 5.0

    sk = hist_sketch(df, "g", "x", **geom)
    qs = (0.1, 0.5, 0.9)
    est = {r["q"]: r["est"]
           for r in hist_quantiles(sk, "g", qs, **geom).collect()}
    for q in qs:
        exact = float(np.quantile(vals, q))
        assert abs(est[q] - exact) <= 5.0 + 1e-9, (q, est[q], exact)

    # merge == full scan, state-exact
    half = len(rows) // 2
    a = spark.createDataFrame(rows[:half], "g string, x double")
    b = spark.createDataFrame(rows[half:], "g string, x double")
    whole = {(r["g"], r["bin"]): r["cnt"]
             for r in sk.collect()}
    merged = hist_merge(hist_sketch(a, "g", "x", **geom),
                        hist_sketch(b, "g", "x", **geom))
    assert {(r["g"], r["bin"]): r["cnt"]
            for r in merged.collect()} == whole

    # clamp: out-of-range values land in edge cells, count preserved
    oob = spark.createDataFrame(
        [("g", -50.0), ("g", 500.0), ("g", 2000.0)], "g string, x double")
    sk_oob = {r["bin"]: r["cnt"]
              for r in hist_sketch(oob, "g", "x", **geom).collect()}
    assert sk_oob == {0: 1, 100: 1, 199: 1}

    with pytest.raises(ValueError):
        hist_sketch(df, "g", "x", lo=1.0, hi=1.0, bins=10)
    with pytest.raises(ValueError):
        hist_quantiles(sk, "g", [0.0], **geom)
    with pytest.raises(ValueError):
        hist_merge()


def test_hashing_vectorize_semantics(spark):
    """Feature-hashing invariants: fixed dim; identical docs get
    identical vectors; the unsigned variant's vector sums to the doc's
    token count (every token lands in exactly one bucket); empty docs
    vectorize to all-zeros rather than vanishing; both hash modes
    produce dim-length vectors."""
    from pandas_rust_algos_spark.operators.tfidf import hashing_vectorize

    data = [
        (1, "alpha beta gamma alpha"),
        (2, "alpha beta gamma alpha"),   # identical -> identical vec
        (3, "completely different words entirely here"),
        (4, "   "),                      # whitespace-only -> zeros
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {r["doc_id"]: r["vec"]
           for r in hashing_vectorize(df, dim=16, signed=False).collect()}
    assert all(len(v) == 16 for v in got.values())
    assert got[1] == got[2]
    assert sum(got[1]) == 4 and sum(got[3]) == 5
    assert got[4] == [0] * 16

    signed = {r["doc_id"]: r["vec"]
              for r in hashing_vectorize(df, dim=16, signed=True,
                                         hash_mode="fast").collect()}
    assert all(len(v) == 16 for v in signed.values())
    # signed sums are bounded by token count in absolute value
    assert abs(sum(signed[1])) <= 4

    with pytest.raises(ValueError):
        hashing_vectorize(df, dim=0)


def test_token_kl_divergence_properties(spark):
    """KL properties through the pico-unit accumulation: a slice
    identical to the reference scores ~0; a disjoint-vocabulary slice
    scores much higher; divergences are never negative beyond flooring
    dust; vocab/token counts are exact."""
    from pandas_rust_algos_spark.operators.drift import (
        token_kl_divergence,
    )

    ref_text = "the cat sat on the mat and the dog slept"
    rows = (
        [("same", ref_text)] * 3
        + [("shifted", "quantum flux meson lattice boson decay"), 
           ("shifted", "hadron collider beam quark gluon plasma")]
    )
    df = spark.createDataFrame(rows, "grp string, text string")
    ref = spark.createDataFrame([(0, ref_text)] * 3,
                                "i long, text string")
    got = {r["grp"]: r for r in
           token_kl_divergence(df, ref, group="grp").collect()}
    # identical distribution: KL ~ 0 (flooring dust only)
    assert abs(got["same"]["kl_divergence"]) < 1e-6
    assert got["shifted"]["kl_divergence"] > 0.5
    assert got["same"]["n_tokens"] == 30
    # union vocab of 'same' slice == ref vocab (8 distinct tokens)
    assert got["same"]["n_vocab"] == 8


def test_kmeans_fixed_semantics(spark):
    """Portable k-means invariants: two well-separated planted blobs
    separate perfectly; the result is partitioning-invariant (the
    whole point of the fixed-point design); iters=0 still assigns
    against the seeds; guards reject bad geometry."""
    import numpy as np

    from pandas_rust_algos_spark.operators.kmeans import kmeans_fixed

    rng = np.random.RandomState(11)
    rows = []
    for i in range(40):                       # blob A around +1
        rows.append((i, [float(x) for x in 1.0 + 0.05 * rng.randn(8)]))
    for i in range(40, 80):                   # blob B around -1
        rows.append((i, [float(x) for x in -1.0 + 0.05 * rng.randn(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = kmeans_fixed(df, k=2, iters=3).collect()
    by_blob = {}
    for r in got:
        by_blob.setdefault(r["vec_id"] < 40, set()).add(r["cluster"])
    # each blob maps to exactly one cluster, and they differ
    assert all(len(c) == 1 for c in by_blob.values())
    assert by_blob[True] != by_blob[False]

    # partitioning invariance: bit-identical on a repartitioned input
    again = kmeans_fixed(df.repartition(13), k=2, iters=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    # iters=0: assignment against the md5 seeds only, still total
    seeds_only = kmeans_fixed(df, k=2, iters=0).collect()
    assert len(seeds_only) == 80

    with pytest.raises(ValueError):
        kmeans_fixed(df, k=0)


def test_group_approx_bounds_report(spark, sf_dir):
    """The sketch-accuracy contract: all bounds hold at defaults on
    the fixtures (both sketches are deterministic, so this is stable),
    and a zero-width envelope DOES trip — proving the booleans are
    computed, not constant."""
    import pytest as _pytest

    from pandas_rust_algos_spark.operators.grouped_agg import (
        group_approx_bounds_report,
    )
    from pandas_rust_algos_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rows = group_approx_bounds_report(
        li, "l_returnflag", "l_partkey", "l_extendedprice",
        rsd=0.05, accuracy=100, qs=(0.5, 0.95)).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["nd_ok"] is True and r["p50_ok"] is True \
            and r["p95_ok"] is True
        assert r["exact_nd"] > 0 and r["n_rows"] > 0

    # zero-sigma envelope: HLL at rsd=0.05 is off by ~2.5% on this
    # fixture (deterministically), so nd_ok must flip to False
    strict = group_approx_bounds_report(
        li, "l_returnflag", "l_partkey", "l_extendedprice",
        rsd=0.05, nd_sigmas=0.0).collect()
    assert any(r["nd_ok"] is False for r in strict)

    with _pytest.raises(ValueError):
        group_approx_bounds_report(
            li, "l_returnflag", "l_partkey", "l_extendedprice", rsd=2.0)


def test_heavy_hitters_approx_bounds_report(spark, sf_dir):
    """Misra-Gries contract: no false negatives and bounded output on
    the fixture; a planted single-dominant-key frame reports exactly
    one true hitter, zero missed."""
    import pytest as _pytest

    from pandas_rust_algos_spark.operators.frequency import (
        heavy_hitters_approx_bounds_report,
    )
    from pandas_rust_algos_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull())
    row = heavy_hitters_approx_bounds_report(
        ev, "user_id", support=0.01).collect()[0]
    assert row["n_missed"] == 0
    assert row["approx_size_ok"] is True

    planted = spark.createDataFrame(
        [(1,)] * 60 + [(i,) for i in range(2, 42)], "user_id long")
    row = heavy_hitters_approx_bounds_report(
        planted, "user_id", support=0.5).collect()[0]
    assert row["n_true_hitters"] == 1 and row["n_missed"] == 0
    assert row["approx_size_ok"] is True

    with _pytest.raises(ValueError):
        heavy_hitters_approx_bounds_report(planted, "user_id",
                                           support=1.5)


def test_group_robust_zscore_semantics(spark):
    """Hand case: group A = [1,2,3,4,100] — median 3, MAD 1 (devs
    [2,1,0,1,97] → median 1): the whale's robust z is huge, the
    inliers' are small; a NULL value stays NULL; an all-equal group
    (MAD 0) yields NULL."""
    from pandas_rust_algos_spark.operators.grouped_transform import (
        group_robust_zscore,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 100.0),
         ("a", None), ("b", 7.0), ("b", 7.0), ("b", 7.0)],
        "k string, v double")
    out = {(r["k"], r["v"]): r["rz"]
           for r in group_robust_zscore(df, "k", "v", out_col="rz").collect()}
    assert out[("a", 3.0)] == 0.0
    assert abs(out[("a", 2.0)] - round(-1 / 1.4826, 6)) < 1e-9
    assert out[("a", 100.0)] > 60
    assert out[("a", None)] is None
    assert out[("b", 7.0)] is None  # MAD = 0


def test_local_df_matches_list_path_and_is_fast_shape(spark):
    """session.local_df: same rows/schema as the plain-list
    createDataFrame (it only changes the construction path), including
    array columns, and its plan is a LocalTableScan — the property
    that makes coalesce(1) writes of KiB artifacts cheap (the
    round-11 tiny-write stall fix)."""
    from pandas_rust_algos_spark.session import local_df

    rows = [(0, [1.0, 2.0]), (1, [3.5, -4.0])]
    schema = "cell int, centroid array<double>"
    a = local_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, ((r[0], tuple(r[1])) for r in a.collect()))) \
        == sorted(map(tuple, ((r[0], tuple(r[1])) for r in b.collect())))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "Scan ExistingRDD" not in plan
