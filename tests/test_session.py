"""Session configuration: the environment knobs and the concurrency
helper (no Spark needed), and what an engine session's settings keep
of an error."""

from __future__ import annotations

import re
import threading
import time

import pytest

from pandas_rust_algos_spark.session import _cpus, run_concurrently


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


def test_run_concurrently_orders_results_and_raises_first_failure():
    """One thread per thunk (all three meet at one barrier), results in
    argument order whatever the finishing order, every thunk joined
    before the first failure in argument order is re-raised."""
    meet = threading.Barrier(3, timeout=10)

    def slow(value, delay):
        meet.wait()
        time.sleep(delay)
        return value

    assert run_concurrently(lambda: slow("a", 0.2), lambda: slow("b", 0.1),
                            lambda: slow("c", 0.0)) == ["a", "b", "c"]

    finished = []

    def fail(msg, delay):
        time.sleep(delay)
        raise ValueError(msg)

    def late():
        time.sleep(0.2)
        finished.append("late")

    with pytest.raises(ValueError, match="first"):
        run_concurrently(lambda: fail("first", 0.1), late,
                         lambda: fail("second", 0.0))
    assert finished == ["late"]


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
