"""Session configuration: the environment knobs (no Spark needed) and
what an engine session's settings keep of an error."""

from __future__ import annotations

import re

import pytest

from pandas_rust_algos_spark.session import _cpus


def test_cpus_default_and_value(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert _cpus() == 4


@pytest.mark.parametrize("bad", ["abc", "0", "-3", "", "2.5"])
def test_cpus_rejects_bad_value_by_name(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS.*" + re.escape(repr(bad))):
        _cpus()


def test_analysis_error_keeps_class_and_column(spark):
    """Call-site capture is off in engine sessions: an analysis error
    keeps its class and names the missing column; only the Python
    ``file:line`` of the failing call is gone from its DataFrame
    context, which names a JVM frame instead."""
    from pyspark.errors import AnalysisException

    from pandas_rust_algos_spark.operators.grouped_agg import group_quantile

    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(AnalysisException, match="no_such_col") as err:
        group_quantile(df, "k", "no_such_col", [0.5]).collect()
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    sites = [c.callSite() for c in err.value.getQueryContext()]
    assert sites and not any(".py:" in site for site in sites), sites
