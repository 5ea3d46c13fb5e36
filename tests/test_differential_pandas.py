"""Differential tests against pandas itself — the reference's own
methodology (README recipes: seeded random inputs, run both, compare;
SURVEY §5). The DuckDB oracle gate checks SQL semantics; these check
*pandas* semantics on adversarial seeded data: NaN injection, duplicate
values (tie handling), single-element groups, and an empty-ish group
mix the TPC-H fixtures don't exercise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pandas_rust_algos_spark.operators import grouped_agg as ga
from pandas_rust_algos_spark.operators import grouped_transform as gt

N, NGROUPS, SEED = 400, 8, 1234


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(SEED)
    pdf = pd.DataFrame({
        "k": rng.integers(0, NGROUPS, N),
        "ord": np.arange(N),
        # duplicates on purpose: quantize to 1 decimal so ties happen
        "v": np.round(rng.normal(50, 20, N), 1),
        "v2": np.round(rng.normal(10, 5, N), 1),
    })
    pdf.loc[rng.choice(N, N // 10, replace=False), "v"] = np.nan
    pdf.loc[rng.choice(N, N // 12, replace=False), "v2"] = np.nan
    # one singleton group and one all-NaN group
    pdf.loc[N - 1, "k"] = NGROUPS
    pdf.loc[pdf["k"] == 0, "v"] = np.nan
    sdf = spark.createDataFrame(
        pdf.assign(v=pdf["v"].astype(float), v2=pdf["v2"].astype(float)))
    return pdf, sdf


def collect_map(df, key_cols, val_col):
    return {
        tuple(r[c] for c in key_cols): r[val_col] for r in df.collect()
    }


def close(a, b, tol=1e-9):
    if a is None or (isinstance(a, float) and np.isnan(a)):
        return b is None or (isinstance(b, float) and np.isnan(b))
    if b is None or (isinstance(b, float) and np.isnan(b)):
        return False
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


@pytest.mark.parametrize("interp", ["linear", "lower", "higher",
                                    "nearest", "midpoint"])
def test_quantile_matches_pandas(frame, interp):
    pdf, sdf = frame
    qs = [0.0, 0.1, 0.513, 0.9, 1.0]
    got = {}
    out = ga.group_quantile(sdf, "k", "v", qs, interpolation=interp)
    for r in out.collect():
        got[(r["k"], round(r["q"], 3))] = r["quantile"]
    exp = pdf.groupby("k")["v"].quantile(qs, interpolation=interp)
    for (k, q), val in exp.items():
        assert close(got[(k, round(q, 3))], val), (interp, k, q, val)


@pytest.mark.parametrize("ties", ["average", "min", "max", "first", "dense"])
def test_rank_matches_pandas(frame, ties):
    pdf, sdf = frame
    out = gt.group_rank(sdf, "k", "v", method=ties, out_col="v_rank")
    exp = pdf.groupby("k")["v"].rank(method=ties)
    if ties == "first":
        # 'first' breaks ties by input order, which a distributed sort
        # does not preserve — the rank *multiset* per (group, value)
        # is the defined contract
        got = {}
        for r in out.collect():
            got.setdefault((r["k"], r["v"]), []).append(r["v_rank"])
        want = {}
        for i, val in exp.items():
            want.setdefault((pdf.loc[i, "k"], pdf.loc[i, "v"]), []).append(val)
        for key, vals in want.items():
            if isinstance(key[1], float) and np.isnan(key[1]):
                continue
            assert sorted(got[key]) == sorted(vals), (key, vals)
    else:
        got = collect_map(out, ["ord", "k"], "v_rank")
        for i, val in exp.items():
            k = (pdf.loc[i, "ord"], pdf.loc[i, "k"])
            assert close(got[k], val), (ties, i, val)


@pytest.mark.parametrize("skipna", [True, False])
def test_cumsum_matches_pandas(frame, skipna):
    pdf, sdf = frame
    out = gt.group_cumsum(sdf, "k", ["ord"], ["v"], skipna=skipna)
    got = collect_map(out, ["ord"], "v_cumsum")
    exp = pdf.sort_values("ord").groupby("k")["v"].cumsum(skipna=skipna)
    for i, val in exp.items():
        assert close(got[(pdf.loc[i, "ord"],)], val), (skipna, i, val)


@pytest.mark.parametrize("skipna", [True, False])
def test_cumprod_matches_pandas(frame, skipna):
    """The log/exp running product against pandas' exact cumprod, with
    zeros and negatives injected so the sign parity and the sticky
    zero are both exercised."""
    pdf, sdf = frame
    pdf = pdf.copy()
    pdf.loc[pdf["ord"] % 37 == 5, "v"] = 0.0
    pdf.loc[pdf["ord"] % 11 == 3, "v"] *= -1.0
    sdf = sdf.sparkSession.createDataFrame(pdf)
    out = gt.group_cumprod(sdf, "k", ["ord"], ["v"], skipna=skipna)
    got = collect_map(out, ["ord"], "v_cumprod")
    exp = pdf.sort_values("ord").groupby("k")["v"].cumprod(skipna=skipna)
    for i, val in exp.items():
        assert close(got[(pdf.loc[i, "ord"],)], val, tol=1e-9), \
            (skipna, i, val)


def test_ffill_limit_matches_pandas(frame):
    pdf, sdf = frame
    out = gt.group_fillna(sdf, "k", ["ord"], ["v"], direction="ffill", limit=2)
    got = collect_map(out, ["ord"], "v_filled")
    exp = pdf.sort_values("ord").groupby("k")["v"].ffill(limit=2)
    for i, val in exp.items():
        assert close(got[(pdf.loc[i, "ord"],)], val), (i, val)


def test_ewm_mean_matches_pandas(frame):
    pdf, sdf = frame
    out = gt.group_ewm_mean(sdf, "k", ["ord"], ["v"], alpha=0.3)
    got = collect_map(out, ["ord"], "v_ewm")
    exp = pdf.sort_values("ord").groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.3, ignore_na=True).mean())
    for i, val in exp.items():
        v_in = pdf.loc[i, "v"]
        want = np.nan if (isinstance(v_in, float) and np.isnan(v_in)) else val
        assert close(got[(pdf.loc[i, "ord"],)], want, tol=1e-9), (i, val)


@pytest.mark.parametrize("adjust,ignore_na", [
    (True, True), (True, False), (False, True), (False, False),
])
def test_ewm_all_modes_carry_match_pandas(frame, adjust, ignore_na):
    """All four (adjust, ignore_na) modes of the JVM windowed ewm, with
    injected NULLs, against pandas' own Series.ewm — including the
    carry-forward output convention on NA input rows
    (na_output='carry')."""
    pdf, sdf = frame
    out = gt.group_ewm_mean(
        sdf, "k", ["ord"], ["v"], alpha=0.35,
        adjust=adjust, ignore_na=ignore_na, na_output="carry")
    got = collect_map(out, ["ord"], "v_ewm")
    exp = pdf.sort_values("ord").groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.35, adjust=adjust,
                        ignore_na=ignore_na).mean())
    for i, val in exp.items():
        assert close(got[(pdf.loc[i, "ord"],)], val, tol=1e-9), \
            (adjust, ignore_na, i, val)


def test_ewm_noadjust_nona_null_convention(frame):
    """adjust=False, ignore_na=False with the default na_output='null':
    valid rows match pandas, NA input rows emit NULL."""
    pdf, sdf = frame
    out = gt.group_ewm_mean(
        sdf, "k", ["ord"], ["v"], alpha=0.35, adjust=False, ignore_na=False)
    got = collect_map(out, ["ord"], "v_ewm")
    exp = pdf.sort_values("ord").groupby("k")["v"].transform(
        lambda s: s.ewm(alpha=0.35, adjust=False, ignore_na=False).mean())
    for i, val in exp.items():
        v_in = pdf.loc[i, "v"]
        want = np.nan if (isinstance(v_in, float) and np.isnan(v_in)) else val
        assert close(got[(pdf.loc[i, "ord"],)], want, tol=1e-9), (i, val)


def test_var_std_skew_match_pandas(frame):
    pdf, sdf = frame
    out = ga.group_var(sdf, "k", ["v"], ddof=1)
    got = collect_map(out, ["k"], "v")
    for k, val in pdf.groupby("k")["v"].var(ddof=1).items():
        assert close(got[(k,)], val, tol=1e-7), ("var", k, val)
    out = ga.group_skew(sdf, "k", ["v"])
    got = collect_map(out, ["k"], "v")
    for k, val in pdf.groupby("k")["v"].skew().items():
        assert close(got[(k,)], val, tol=1e-7), ("skew", k, val)


def test_first_last_nth_match_pandas(frame):
    pdf, sdf = frame
    sorted_pdf = pdf.sort_values("ord")
    g = sorted_pdf.groupby("k")["v"]

    out = ga.group_first(sdf, "k", ["v"], "ord")
    got = collect_map(out, ["k"], "v")
    for k, val in g.first().items():   # pandas first = first non-NaN
        assert close(got[(k,)], val), ("first", k, val)

    out = ga.group_last(sdf, "k", ["v"], "ord")
    got = collect_map(out, ["k"], "v")
    for k, val in g.last().items():
        assert close(got[(k,)], val), ("last", k, val)

    out = ga.group_nth(sdf, "k", "v", "ord", rank=3)
    got = collect_map(out, ["k"], "v")
    exp = g.apply(lambda s: s.dropna().iloc[2] if s.count() >= 3 else np.nan)
    for k, val in exp.items():
        assert close(got[(k,)], val), ("nth3", k, val)


def test_ohlc_matches_pandas(frame):
    pdf, sdf = frame
    out = ga.group_ohlc(sdf, "k", "v", "ord")
    got = {r["k"]: (r["open"], r["high"], r["low"], r["close"])
           for r in out.collect()}
    # pandas ohlc: first/max/min/last of non-NaN in order
    exp = pdf.sort_values("ord").groupby("k")["v"].agg(
        ["first", "max", "min", "last"])
    for k, row in exp.iterrows():
        want = (row["first"], row["max"], row["min"], row["last"])
        assert all(close(a, b) for a, b in zip(got[k], want)), (k, want)


def test_any_all_match_pandas(frame):
    pdf, sdf = frame
    from pyspark.sql import functions as F

    flagged = sdf.withColumn("flag", F.when(F.col("v").isNotNull(),
                                            F.col("v") > 50))
    pflag = pdf.assign(flag=pd.Series(
        np.where(pdf["v"].isna(), None, pdf["v"] > 50), dtype=object))
    for test in ("any", "all"):
        out = ga.group_any_all(flagged, "k", ["flag"], val_test=test)
        got = collect_map(out, ["k"], "flag")
        exp = pflag.groupby("k")["flag"].apply(
            lambda s: getattr(s.dropna(), test)())
        for k, val in exp.items():
            assert got[(k,)] == bool(val), (test, k, val, got[(k,)])


def test_rolling_corr_cov_match_pandas(frame):
    pdf, sdf = frame
    out = gt.rolling_corr_cov(sdf, "k", "ord", "v", "v2",
                              window=5, scale=6)
    got = {(r["k"], r["ord"]): (r["roll_corr"], r["roll_cov"])
           for r in out.collect()}
    sp = pdf.sort_values("ord")
    g = sp.groupby("k")
    exp_corr = g.apply(
        lambda d: d["v"].rolling(5).corr(d["v2"]), include_groups=False)
    exp_cov = g.apply(
        lambda d: d["v"].rolling(5).cov(d["v2"]), include_groups=False)
    for (k, idx), want in exp_corr.items():
        o = sp.loc[idx, "ord"]
        # pandas emits ±inf/huge values for zero-variance frames where
        # we (and SQL) define NULL; only compare well-defined frames
        if want is not None and np.isfinite(want):
            assert close(got[(k, o)][0], want, tol=1e-6), ("corr", k, o, want)
    for (k, idx), want in exp_cov.items():
        o = sp.loc[idx, "ord"]
        if want is not None and np.isfinite(want):
            assert close(got[(k, o)][1], want, tol=1e-6), ("cov", k, o, want)


@pytest.mark.parametrize("q", [0.0, 0.25, 0.5, 0.9, 1.0])
def test_rolling_quantile_matches_pandas(frame, q):
    pdf, sdf = frame
    out = gt.rolling_quantile(sdf, "k", "ord", "v", window=6, q=q,
                              min_periods=3, out_col="rq")
    got = {(r["k"], r["ord"]): r["rq"] for r in out.collect()}
    sp = pdf.sort_values("ord")
    exp = sp.groupby("k")["v"].rolling(6, min_periods=3).quantile(
        q, interpolation="linear")
    for (k, idx), want in exp.items():
        o = sp.loc[idx, "ord"]
        assert close(got[(k, o)], want, tol=1e-9), (q, k, o, want)


def test_winsorize_matches_pandas(frame):
    pdf, sdf = frame
    out = {
        (r["k"], r["ord"]): r["v2_wins"]
        for r in gt.group_winsorize(
            sdf, "k", "v2", lower=0.1, upper=0.9
        ).collect()
    }

    def wins(g):
        lo, hi = g.quantile(0.1), g.quantile(0.9)  # linear interpolation
        return g.clip(lo, hi)

    expected = pdf.groupby("k")["v2"].transform(wins)
    for (_, row), e in zip(pdf.iterrows(), expected):
        got = out[(row["k"], row["ord"])]
        if pd.isna(e):
            assert got is None
        else:
            assert got == pytest.approx(e, rel=1e-12), (row["k"], row["ord"])
