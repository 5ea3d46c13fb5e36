"""Unit tests for weighted grouped aggregations (operators/weighted.py):
hand-computed cases, NA rules, tie handling, partitioning invariance,
and the soft-dedup composition identity. Cross-engine value proofs live
in the registry gates (group_weighted_stats / group_weighted_quantile /
dedup_weighted_stats)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import weighted as wt


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, x double, w double")


def test_weighted_mean_hand_case(spark):
    # group a: (1.0, w2) (4.0, w1) -> (2*1 + 1*4)/3 = 2.0
    df = _df(spark, [("a", 1.0, 2.0), ("a", 4.0, 1.0), ("b", 10.0, 5.0)])
    out = {r["k"]: r["wmean"] for r in
           wt.group_weighted_mean(df, "k", "x", "w").collect()}
    assert out["a"] == pytest.approx(2.0, abs=1e-6)
    assert out["b"] == pytest.approx(10.0, abs=1e-6)


def test_weighted_var_hand_case(spark):
    # frequency weights: [1,1,4] (w=2 on the 1.0) vs plain var of
    # the expanded sample [1,1,4]: mean=2, ss=(1+1+4), var=((1-2)^2*2
    # + (4-2)^2)/ (3-1) = (2+4)/2 = 3
    df = _df(spark, [("a", 1.0, 2.0), ("a", 4.0, 1.0)])
    out = {r["k"]: r["wvar"] for r in
           wt.group_weighted_var(df, "k", "x", "w").collect()}
    assert out["a"] == pytest.approx(3.0, abs=1e-5)


def test_weighted_stats_combined_matches_parts(spark):
    df = _df(spark, [("a", 1.0, 2.0), ("a", 4.0, 1.0),
                     ("b", 7.0, 0.5), ("b", 9.0, 1.5)])
    comb = {r["k"]: (r["wmean"], r["wvar"]) for r in
            wt.group_weighted_stats(df, "k", "x", "w").collect()}
    m = {r["k"]: r["wmean"] for r in
         wt.group_weighted_mean(df, "k", "x", "w").collect()}
    v = {r["k"]: r["wvar"] for r in
         wt.group_weighted_var(df, "k", "x", "w").collect()}
    for k in comb:
        assert comb[k][0] == m[k] and comb[k][1] == v[k]


def test_weighted_na_rules(spark):
    # NULL value or NULL weight drops the observation entirely
    df = spark.createDataFrame(
        [("a", None, 5.0), ("a", 3.0, None), ("a", 2.0, 1.0),
         ("z", 1.0, None)],
        "k string, x double, w double")
    rows = wt.group_weighted_stats(df, "k", "x", "w").collect()
    out = {r["k"]: r for r in rows}
    assert out["a"]["wmean"] == pytest.approx(2.0, abs=1e-6)
    # sum(w)=1, ddof=1 -> denominator 0 -> NULL variance
    assert out["a"]["wvar"] is None
    # group with no observed rows disappears (like the NA-skip family)
    assert "z" not in out


def test_weighted_quantile_hand_and_ties(spark):
    # ties accumulate together under the RANGE frame: two w=0.25 rows
    # at x=1 reach exactly half the total weight -> median = 1
    df = _df(spark, [("a", 1.0, 0.25), ("a", 1.0, 0.25), ("a", 2.0, 0.5)])
    out = {r["k"]: r["wquantile"] for r in wt.group_weighted_quantile(
        df, "k", "x", "w", q=0.5).collect()}
    assert out["a"] == 1.0
    # q=1 is the weighted max
    out1 = {r["k"]: r["wquantile"] for r in wt.group_weighted_quantile(
        df, "k", "x", "w", q=1.0).collect()}
    assert out1["a"] == 2.0
    # heavy tail drags the median up
    df2 = _df(spark, [("a", 1.0, 1.0), ("a", 5.0, 10.0)])
    out2 = {r["k"]: r["wquantile"] for r in wt.group_weighted_quantile(
        df2, "k", "x", "w", q=0.5).collect()}
    assert out2["a"] == 5.0
    with pytest.raises(ValueError, match="q must be"):
        wt.group_weighted_quantile(df, "k", "x", "w", q=0.0)


def test_weighted_partitioning_invariance(spark):
    rows = [("g%d" % (i % 3), float(i % 17), 0.1 + (i % 5))
            for i in range(500)]
    df = _df(spark, rows)
    a = sorted(map(tuple, wt.group_weighted_stats(
        df.repartition(1), "k", "x", "w").collect()))
    b = sorted(map(tuple, wt.group_weighted_stats(
        df.repartition(13), "k", "x", "w").collect()))
    assert a == b
    qa = sorted(map(tuple, wt.group_weighted_quantile(
        df.repartition(1), "k", "x", "w", q=0.75).collect()))
    qb = sorted(map(tuple, wt.group_weighted_quantile(
        df.repartition(13), "k", "x", "w", q=0.75).collect()))
    assert qa == qb


def test_weighted_stats_plan_is_single_aggregate(spark):
    """Scale shape: mean+var must be ONE map-side-combinable groupBy
    (partial HashAggregate below the exchange), no window, no join."""
    df = _df(spark, [("a", 1.0, 2.0)])
    out = wt.group_weighted_stats(df, "k", "x", "w")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_soft_dedup_composition_counts_contents_once(spark):
    """The identity the dedup_weighted_stats gate is built on: with
    weight = 1/n_copies, weighted stats over ALL rows equal plain
    stats over one representative per content (up to the documented
    1e-6 micro-unit quantization of 1/3-style weights)."""
    from pandas_rust_algos_spark.operators import dedup as dd

    rows = [(i, "dup dup dup", 11.0) for i in range(3)]
    rows += [(10, "unique one", 5.0), (11, "unique two", 8.0)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, x double")
    w = dd.dedup_soft_weights(docs).select("doc_id", "weight", "is_rep")
    j = docs.join(w, "doc_id")
    wm = wt.group_weighted_mean(
        j.select(F.lit("all").alias("k"), "x", "weight"),
        "k", "x", "weight").collect()[0]["wmean"]
    plain = (11.0 + 5.0 + 8.0) / 3
    assert wm == pytest.approx(plain, abs=1e-5)


def test_weighted_facade_and_dropna_keys(spark):
    from pandas_rust_algos_spark import api

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 4.0, 1.0), (None, 9.0, 1.0)],
        "k string, x double, w double")
    out = {r["k"]: r["wmean"] for r in
           api.groupby(df, "k").weighted_mean("x", "w").collect()}
    assert out == {"a": pytest.approx(2.0, abs=1e-6)}  # NULL key dropped
    kept = api.groupby(df, "k", dropna=False).weighted_mean(
        "x", "w").collect()
    assert {r["k"] for r in kept} == {"a", None}
    med = {r["k"]: r["wquantile"] for r in
           api.groupby(df, "k").weighted_quantile("x", "w").collect()}
    assert med["a"] == 1.0  # cumw at x=1 is 2/3 >= 0.5


def test_weighted_corr_cov_hand_case_and_rules(spark):
    """Weighted corr/cov vs the expanded-sample identity: integer
    frequency weights must equal the plain corr/cov of the repeated
    sample — plus the NULL rules (W−ddof ≤ 0 → NULL cov; zero
    variance → NULL corr; NULL x/y/w drops the row)."""
    import numpy as np

    rows = [("a", 1.0, 2.0, 2.0), ("a", 3.0, 5.0, 1.0),
            ("a", 4.0, 4.0, 1.0)]
    df = spark.createDataFrame(
        rows, "k string, x double, y double, w double")
    got = wt.group_weighted_corr_cov(df, "k", "x", "y", "w").collect()[0]
    # expanded sample: (1,2) twice, (3,5), (4,4)
    xs = np.array([1.0, 1.0, 3.0, 4.0]); ys = np.array([2.0, 2.0, 5.0, 4.0])
    exp_cov = np.cov(xs, ys, ddof=1)[0][1]
    exp_corr = np.corrcoef(xs, ys)[0][1]
    assert got["wcov"] == pytest.approx(exp_cov, abs=1e-5)
    assert got["wcorr"] == pytest.approx(exp_corr, abs=1e-5)
    # single observation (W - ddof = 0) -> NULL cov and corr
    one = spark.createDataFrame([("b", 1.0, 2.0, 1.0)],
                                "k string, x double, y double, w double")
    r1 = wt.group_weighted_corr_cov(one, "k", "x", "y", "w").collect()[0]
    assert r1["wcov"] is None and r1["wcorr"] is None
    # zero x-variance -> NULL corr, cov defined (0)
    zv = spark.createDataFrame(
        [("c", 5.0, 1.0, 1.0), ("c", 5.0, 9.0, 3.0)],
        "k string, x double, y double, w double")
    rz = wt.group_weighted_corr_cov(zv, "k", "x", "y", "w").collect()[0]
    assert rz["wcorr"] is None and rz["wcov"] == pytest.approx(0.0)
    # NULL in any of x/y/w drops the observation
    na = spark.createDataFrame(
        [("d", None, 1.0, 1.0), ("d", 1.0, None, 1.0),
         ("d", 1.0, 1.0, None), ("d", 2.0, 3.0, 1.0)],
        "k string, x double, y double, w double")
    rn = wt.group_weighted_corr_cov(na, "k", "x", "y", "w").collect()[0]
    assert rn["wcov"] is None  # only 1 surviving obs
    # partitioning invariance (fixed-point sums)
    big = spark.createDataFrame(
        [("g%d" % (i % 3), float(i % 13), float((i * 5) % 11),
          0.5 + i % 4) for i in range(400)],
        "k string, x double, y double, w double")
    a = sorted(map(tuple, wt.group_weighted_corr_cov(
        big.repartition(1), "k", "x", "y", "w").collect()))
    b = sorted(map(tuple, wt.group_weighted_corr_cov(
        big.repartition(17), "k", "x", "y", "w").collect()))
    assert a == b


def test_weighted_facade_quantiles_and_approx(spark):
    from pandas_rust_algos_spark import api

    df = _df(spark, [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 2.0)])
    multi = api.groupby(df, "k").weighted_quantiles(
        "x", "w", (0.5, 0.9)).collect()[0]
    assert multi["wq_0_5"] == 2.0 and multi["wq_0_9"] == 3.0
    approx = {(r["k"], r["q"]): r["est"]
              for r in api.groupby(df, "k").weighted_quantile_approx(
                  "x", "w", (0.5,), lo=0.0, hi=4.0, bins=16).collect()}
    assert abs(approx[("a", 0.5)] - 2.0) <= 4.0 / 16 + 1e-9
    with pytest.raises(ValueError, match="exactly one grouping"):
        api.groupby(df, ["k", "x"]).weighted_quantile_approx(
            "x", "w", (0.5,), lo=0.0, hi=4.0)


def test_weighted_quantiles_multi_matches_single(spark):
    """Each wq_<q> column of the one-pass multi-quantile equals the
    single-q operator at that q; one window pass serves every q."""
    rows = [("g%d" % (i % 2), float((i * 7) % 13), 0.5 + (i % 4))
            for i in range(200)]
    df = _df(spark, rows)
    multi = {r["k"]: r for r in wt.group_weighted_quantiles(
        df, "k", "x", "w", qs=(0.25, 0.5, 0.9, 1.0)).collect()}
    for q, col in [(0.25, "wq_0_25"), (0.5, "wq_0_5"),
                   (0.9, "wq_0_9"), (1.0, "wq_1_0")]:
        single = {r["k"]: r["wquantile"] for r in
                  wt.group_weighted_quantile(
                      df, "k", "x", "w", q=q).collect()}
        for k in single:
            assert multi[k][col] == single[k], (q, k)
    # the window pass count (cumulative + total = 2, sharing one
    # partitioning) must NOT grow with the number of requested qs
    def nwin(qs):
        return wt.group_weighted_quantiles(
            df, "k", "x", "w", qs=qs
        )._jdf.queryExecution().optimizedPlan().toString().count("Window")

    assert nwin((0.5,)) == nwin((0.25, 0.5, 0.9, 1.0)) == 2
    with pytest.raises(ValueError, match="non-empty"):
        wt.group_weighted_quantiles(df, "k", "x", "w", qs=())
    with pytest.raises(ValueError, match="every q"):
        wt.group_weighted_quantiles(df, "k", "x", "w", qs=(0.5, 1.5))


def test_weighted_quantile_zero_total_weight_drops_group(spark):
    """A group whose quantized total weight is zero (all weights 0 or
    < 1e-6) has no defined quantile — it must be DROPPED like the
    mean/var NULL convention, not return the group's min (the trivial
    0 >= q*0 crossing). Both the single-q and multi-q operators, and
    both DuckDB twins, share the tw > 0 predicate."""
    import duckdb

    df = _df(spark, [("z", 3.0, 0.0), ("z", 7.0, 1e-9),
                     ("a", 1.0, 1.0), ("a", 2.0, 1.0)])
    single = {r["k"]: r["wquantile"] for r in wt.group_weighted_quantile(
        df, "k", "x", "w", q=0.5).collect()}
    assert "z" not in single and single["a"] == 1.0
    multi = {r["k"]: r for r in wt.group_weighted_quantiles(
        df, "k", "x", "w", qs=(0.5,)).collect()}
    assert "z" not in multi and multi["a"]["wq_0_5"] == 1.0
    # DuckDB twins agree
    con = duckdb.connect()
    con.execute("CREATE TABLE src AS SELECT * FROM (VALUES "
                "('z', 3.0, 0.0), ('z', 7.0, 1e-9), "
                "('a', 1.0, 1.0), ('a', 2.0, 1.0)) v(k, x, w)")
    sq = con.execute(wt.sql_group_weighted_quantile(
        "src", "k", "x", "w", q=0.5)).fetchall()
    assert dict(sq) == {"a": 1.0}
    mq = con.execute(wt.sql_group_weighted_quantiles(
        "src", "k", "x", "w", qs=(0.5,))).fetchall()
    assert dict(mq) == {"a": 1.0}


def test_weighted_quantile_approx_error_bound_vs_exact(spark):
    """The sketch-walk estimate must land within ONE CELL WIDTH of the
    exact weighted quantile for every (group, q): both use the same
    left-continuous cumulative-weight crossing with the same micro-
    unit quantization, so the exact crossing value lies in the sketch's
    crossing cell and the interpolated estimate cannot leave it."""
    rows = [("g%d" % (i % 3), float((i * 17) % 101), 0.25 + (i % 7))
            for i in range(600)]
    df = _df(spark, rows)
    lo, hi, bins = 0.0, 101.0, 64
    width = (hi - lo) / bins
    qs = (0.25, 0.5, 0.9, 0.99)
    approx = {(r["k"], r["q"]): r["est"]
              for r in wt.group_weighted_quantile_approx(
                  df, "k", "x", "w", qs, lo=lo, hi=hi,
                  bins=bins).collect()}
    for q in qs:
        exact = {r["k"]: r["wquantile"] for r in
                 wt.group_weighted_quantile(
                     df, "k", "x", "w", q=q).collect()}
        for k, ev in exact.items():
            assert abs(approx[(k, q)] - ev) <= width + 1e-6, (k, q)
    # zero-weight groups drop, matching the exact op
    z = _df(spark, [("z", 3.0, 0.0), ("a", 1.0, 1.0)])
    got = wt.group_weighted_quantile_approx(
        z, "k", "x", "w", (0.5,), lo=0.0, hi=10.0, bins=8).collect()
    assert {r["k"] for r in got} == {"a"}


def test_weighted_hist_sketch_merge_equals_rescan(spark):
    """Cell-wise merge of per-slice weighted sketches is EXACT (BIGINT
    micro-unit sums are distributive): merging two halves equals the
    sketch of the whole, so an append-only pipeline folds slices
    without rescans — and the quantile walk over either is
    identical."""
    from pandas_rust_algos_spark.operators import histsketch as hs

    rows = [("g%d" % (i % 2), float(i % 50), 0.1 + (i % 3))
            for i in range(400)]
    df = _df(spark, rows)
    args = dict(lo=0.0, hi=50.0, bins=32)
    whole = hs.hist_sketch_weighted(df, "k", "x", "w", **args)
    h1 = hs.hist_sketch_weighted(
        df.where(F.col("x") < 25), "k", "x", "w", **args)
    h2 = hs.hist_sketch_weighted(
        df.where(F.col("x") >= 25), "k", "x", "w", **args)
    merged = hs.hist_merge(h1, h2)
    assert (sorted(map(tuple, whole.collect()))
            == sorted(map(tuple, merged.collect())))
    qw = sorted(map(tuple, hs.hist_weighted_quantiles(
        whole, "k", (0.5, 0.9), **args).collect()))
    qm = sorted(map(tuple, hs.hist_weighted_quantiles(
        merged, "k", (0.5, 0.9), **args).collect()))
    assert qw == qm


def test_weighted_hist_sketch_duckdb_twin_bit_exact(spark):
    """The DuckDB twins replay sketch AND walk bit-exactly — the gate
    contract, checked here at unit scale with clamped out-of-range
    values in play."""
    import duckdb

    rows = [("g%d" % (i % 2), float(i) - 5.0, 0.5 + (i % 4))
            for i in range(120)]  # values -5..114 clamp into [0, 100)
    df = _df(spark, rows)
    from pandas_rust_algos_spark.operators import histsketch as hs

    args = dict(lo=0.0, hi=100.0, bins=16)
    qs = (0.5, 0.95)
    sk = hs.hist_sketch_weighted(df, "k", "x", "w", **args)
    got = sorted(map(tuple, hs.hist_weighted_quantiles(
        sk, "k", qs, **args).collect()))
    con = duckdb.connect()
    con.register("src_pd", df.toPandas())
    con.execute("CREATE TABLE src AS SELECT * FROM src_pd")
    inner = hs.sql_hist_weighted_quantiles(
        hs.sql_hist_sketch_weighted("k", "x", "w", "src", **args),
        qs, **args)
    want = sorted(map(tuple, con.execute(inner).fetchall()))
    assert got == want


def test_weighted_quantile_column_names_identifier_safe(spark):
    """q values with scientific-notation reprs (1e-05) must still
    produce identifier-safe names in BOTH surfaces (repr-based naming
    emitted 'wq_1e-05' — invalid unquoted SQL, backtick-needing
    Spark)."""
    import re

    import duckdb

    assert wt._q_name(1e-05) == "wq_0_00001"
    assert wt._q_name(0.5) == "wq_0_5"
    assert wt._q_name(1.0) == "wq_1_0"  # legacy gate name preserved
    df = _df(spark, [("a", 1.0, 1.0), ("a", 2.0, 1.0)])
    out = wt.group_weighted_quantiles(df, "k", "x", "w", qs=(1e-05, 0.5))
    assert out.columns == ["k", "wq_0_00001", "wq_0_5"]
    for c in out.columns:
        assert re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c), c
    con = duckdb.connect()
    con.execute("CREATE TABLE src AS SELECT 'a' AS k, 1.0 AS x, 1.0 AS w")
    rows = con.execute(wt.sql_group_weighted_quantiles(
        "src", "k", "x", "w", qs=(1e-05, 0.5))).df()
    assert list(rows.columns) == ["k", "wq_0_00001", "wq_0_5"]


def test_weighted_quantiles_reject_sub_resolution_q_collisions(spark):
    """Two qs closer than the 1e-6 name resolution would silently
    alias to ONE wq_* output column — both surfaces must refuse
    loudly instead (ADVICE r11)."""
    df = _df(spark, [("a", 1.0, 1.0), ("a", 2.0, 1.0)])
    with pytest.raises(ValueError, match="indistinguishable"):
        wt.group_weighted_quantiles(
            df, "k", "x", "w", qs=(0.1234561, 0.1234565))
    with pytest.raises(ValueError, match="indistinguishable"):
        wt.sql_group_weighted_quantiles(
            "src", "k", "x", "w", qs=(0.1234561, 0.1234565))
    # an exact duplicate q would also emit two same-named columns —
    # equally ambiguous downstream, equally refused
    with pytest.raises(ValueError, match="indistinguishable"):
        wt.group_weighted_quantiles(df, "k", "x", "w", qs=(0.5, 0.5))


def _df2(spark, rows):
    return spark.createDataFrame(
        rows, "k string, x double, y double, w double")


_LATTICE_ARGS = dict(lox=-0.5, hix=10.5, binsx=11,
                     loy=-0.5, hiy=10.5, binsy=11)


def test_weighted_corr_approx_exact_on_lattice(spark):
    """When every integer (x, y) lattice point owns its own cell, the
    center substitution is the identity (bin b spans [b-0.5, b+0.5),
    center = b), so the sketch estimate must EQUAL the exact op."""
    rows = [("a", float(i % 11), float((3 * i + 2) % 11),
             0.5 + (i % 4)) for i in range(200)]
    rows += [("b", float(i % 7), float(i % 7), 1.0) for i in range(50)]
    df = _df2(spark, rows)
    exact = {r["k"]: (r["wcorr"], r["wcov"]) for r in
             wt.group_weighted_corr_cov(df, "k", "x", "y", "w").collect()}
    approx = {r["k"]: (r["wcorr"], r["wcov"]) for r in
              wt.group_weighted_corr_approx(
                  df, "k", "x", "y", "w", **_LATTICE_ARGS).collect()}
    assert set(exact) == set(approx)
    for k in exact:
        for e, a in zip(exact[k], approx[k]):
            if e is None:
                assert a is None
            else:
                assert a == pytest.approx(e, abs=1e-9), k
    # perfectly-correlated group b: corr exactly 1
    assert approx["b"][0] == pytest.approx(1.0, abs=1e-9)


def test_weighted_corr_approx_error_bounded_on_continuous(spark):
    """On continuous data the estimate deviates by a grid-resolution
    bound, not a data-size one: with 64x64 cells over the value range
    the corr error stays well under the half-cell-width scale."""
    import math

    rows = []
    for i in range(600):
        x = (i * 37 % 1000) / 10.0        # [0, 100)
        y = 0.7 * x + 20.0 * math.sin(i)  # correlated + noise
        rows.append(("a", x, y, 1.0 + (i % 5) / 7.0))
    df = _df2(spark, rows)
    args = dict(lox=0.0, hix=100.0, binsx=64,
                loy=-25.0, hiy=95.0, binsy=64)
    [e] = wt.group_weighted_corr_cov(df, "k", "x", "y", "w").collect()
    [a] = wt.group_weighted_corr_approx(
        df, "k", "x", "y", "w", **args).collect()
    assert a["wcorr"] == pytest.approx(e["wcorr"], abs=0.02)
    assert a["wcov"] == pytest.approx(e["wcov"], rel=0.05)


def test_weighted_corr_approx_merge_equals_rescan(spark):
    """2-D cell-wise merge is EXACT (BIGINT micro-unit sums): merging
    two slices equals the one-scan sketch, and the corr/cov finish —
    a pure function of the cells — cannot tell the difference."""
    from pandas_rust_algos_spark.operators import histsketch as hs

    rows = [("g%d" % (i % 2), float(i % 9), float((i * 5) % 9),
             0.1 + (i % 3)) for i in range(300)]
    df = _df2(spark, rows)
    args = dict(lox=-0.5, hix=8.5, binsx=9, loy=-0.5, hiy=8.5, binsy=9)
    whole = hs.hist2d_sketch_weighted(df, "k", "x", "y", "w", **args)
    m = hs.hist_merge(
        hs.hist2d_sketch_weighted(
            df.where(F.col("x") < 4), "k", "x", "y", "w", **args),
        hs.hist2d_sketch_weighted(
            df.where(F.col("x") >= 4), "k", "x", "y", "w", **args),
    )
    assert (sorted(map(tuple, whole.collect()))
            == sorted(map(tuple, m.collect())))
    cw = sorted(map(tuple, hs.hist2d_weighted_corr_cov(
        whole, "k", **args).collect()))
    cm = sorted(map(tuple, hs.hist2d_weighted_corr_cov(
        m, "k", **args).collect()))
    assert cw == cm


def test_weighted_corr_approx_duckdb_twin_bit_exact(spark):
    """The DuckDB replay of sketch build + moment finish must match
    the Spark side bit-for-bit (round-6 on both, the gate's rule)."""
    import duckdb

    rows = [("a", float(i % 11), float((3 * i + 2) % 11),
             0.5 + (i % 4)) for i in range(200)]
    rows += [("c", 1.0, None, 2.0), ("c", 2.0, 5.0, None),
             ("c", 3.0, 4.0, 1.0), ("c", 5.0, 1.0, 2.0)]
    df = _df2(spark, rows)
    got = {
        r["k"]: (r["wcorr"], r["wcov"])
        for r in wt.group_weighted_corr_approx(
            df, "k", "x", "y", "w", **_LATTICE_ARGS)
        .select("k", F.round("wcorr", 6).alias("wcorr"),
                F.round("wcov", 6).alias("wcov")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE src (k VARCHAR, x DOUBLE, y DOUBLE, "
                "w DOUBLE)")
    con.executemany("INSERT INTO src VALUES (?, ?, ?, ?)",
                    [tuple(r) for r in rows])
    sql = wt.sql_group_weighted_corr_approx(
        "src", "k", "x", "y", "w", **_LATTICE_ARGS)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT grp, ROUND(wcorr, 6), ROUND(wcov, 6) "
            f"FROM ({sql})").fetchall()
    }
    assert got == want
