"""Session configuration read from the environment (no Spark needed)."""

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
