"""The benchmark's workloads: seeded inputs, the calls a pass makes, and
the correctness check of each call.

A registry workload calls the ``plans`` layer: each call is a registry
query function over the seeded star schema, checked against the query's
own DuckDB oracle over the same files. The kernel workload calls the
``operators`` layer directly, checked against pandas on the same arrays.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

from datagen import kernel_arrays, write_kernel_arrays, write_star_schema

# the engine package, and the oracle-parity comparison of the repository's tests
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
from conftest import assert_frames_match, normalize  # noqa: E402
from pandas_rust_algos_spark.sources import TABLES  # noqa: E402

KERNEL_ROWS = 500_000
KERNEL_LABELS = 200
KERNEL_ORDERED_LABELS = 50


@dataclass(frozen=True)
class Call:
    name: str
    build: Callable[[], object]                      # () -> DataFrame
    check: Callable[[pd.DataFrame], str | None]      # mismatch or None


@dataclass(frozen=True)
class Workload:
    name: str
    layer: str                     # the layer each call enters
    queries: tuple[str, ...] = ()  # registry names; empty for kernels

    def make_inputs(self, data_dir: str, seed: int) -> None:
        if self.layer == "operators":
            write_kernel_arrays(data_dir, seed, KERNEL_ROWS, KERNEL_LABELS,
                                KERNEL_ORDERED_LABELS)
        else:
            write_star_schema(data_dir, seed)

    def scan(self, spark, data_dir: str) -> None:
        """One ``count()`` per input, through the ``sources`` layer for the
        star schema."""
        if self.layer == "operators":
            for name in ("values", "indexer"):
                spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")).count()
            return
        from pandas_rust_algos_spark.sources import load_table

        for name in TABLES:
            load_table(spark, data_dir, name).count()

    def calls(self, session: Callable, data_dir: str, seed: int) -> list[Call]:
        """The calls of one pass; ``session()`` returns the live SparkSession
        when a call runs, so the calls can be made before it starts."""
        if self.layer == "operators":
            return _kernel_calls(session, data_dir, seed)
        return _registry_calls(session, data_dir, self.queries)


WORKLOADS = {w.name: w for w in (
    Workload("registry_sf001", "plans", (
        # grouped kernels and a join: few jobs, driver build matters
        "q1_pricing_summary", "group_sum", "group_quantile_linear", "group_rank",
        "asof_join",
        # many jobs per call: a streaming micro-batch
        "events_stream_cms",
    )),
    Workload("kernels_500k", "operators"),
)}


# ------------------------------------------------------------ comparison


def frames_mismatch(got: pd.DataFrame, want: pd.DataFrame,
                    rtol: float = 0.0) -> str | None:
    """None when ``got`` matches ``want`` under the repository's
    oracle-parity rule (``tests/conftest.assert_frames_match``: columns and
    rows sorted, floats bit-equal), else what differs.

    With ``rtol`` the float columns of ``want`` need only agree to that
    relative tolerance; the other columns keep the exact rule.
    """
    floats = [c for c in want.columns
              if rtol and want[c].dtype.kind == "f" and c in got.columns]
    try:
        assert_frames_match(got.drop(columns=floats), want.drop(columns=floats), "result")
    except AssertionError as e:
        return str(e)
    a, b = normalize(got), normalize(want)
    for c in floats:
        ok = np.isclose(a[c], b[c], rtol=rtol, atol=0.0, equal_nan=True)
        if not ok.all():
            bad = int((~ok).argmax())
            return f"float column {c} differs at row {bad}: {a[c][bad]!r} vs {b[c][bad]!r}"
    return None


# ------------------------------------------------------------ registry calls


def _registry_calls(session: Callable, data_dir: str, names: tuple[str, ...]) -> list[Call]:
    import duckdb

    from pandas_rust_algos_spark.plans import registry

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def call(name: str) -> Call:
        spec = registry.get(name)
        return Call(
            name,
            lambda: spec.fn(session(), data_dir),
            lambda got: frames_mismatch(got, con.execute(spec.oracle).df()),
        )

    return [call(n) for n in names]


# ------------------------------------------------------------ kernel calls


def _kernel_calls(session: Callable, data_dir: str, seed: int) -> list[Call]:
    from pandas_rust_algos_spark.operators import grouped_agg as ga
    from pandas_rust_algos_spark.operators import grouped_transform as gt
    from pandas_rust_algos_spark.operators import take as tk

    values_path = os.path.join(data_dir, "values.parquet")
    indexer_path = os.path.join(data_dir, "indexer.parquet")
    values, indexer = kernel_arrays(seed, KERNEL_ROWS, KERNEL_LABELS,
                                    KERNEL_ORDERED_LABELS)
    pv, pi = values.to_pandas(), indexer.to_pandas()

    def read(path: str, *cols: str):
        return session().read.parquet(path).select(*cols)

    def expect(want: Callable[[], pd.DataFrame], rtol: float = 0.0):
        return lambda got: frames_mismatch(got, want(), rtol)

    ordered = pv.sort_values("pos")
    return [
        Call("group_sum",
             lambda: ga.group_sum(read(values_path, "label", "v"), "label", ["v"]),
             expect(lambda: pv.groupby("label", as_index=False)["v"].sum())),
        Call("group_mean",
             lambda: ga.group_mean(read(values_path, "label", "x"), "label", ["x"]),
             expect(lambda: pv.groupby("label", as_index=False)["x"].mean(), 1e-12)),
        Call("group_quantile",
             lambda: ga.group_quantile(read(values_path, "label", "x"), "label",
                                       "x", [0.5], interpolation="linear"),
             expect(lambda: pv.groupby("label", as_index=False)["x"]
                    .quantile(0.5).rename(columns={"x": "quantile"})
                    .assign(q=0.5), 1e-12)),
        Call("group_cumsum",
             lambda: gt.group_cumsum(read(values_path, "olabel", "pos", "x"),
                                     "olabel", ["pos"], ["x"]),
             expect(lambda: ordered[["olabel", "pos", "x"]].assign(
                 x_cumsum=ordered.groupby("olabel")["x"].cumsum()), 1e-12)),
        Call("group_rank",
             lambda: gt.group_rank(read(values_path, "olabel", "pos", "x"),
                                   "olabel", "x", method="average"),
             expect(lambda: pv[["olabel", "pos", "x"]].assign(
                 rank=pv.groupby("olabel")["x"].rank(method="average")))),
        Call("take_1d",
             lambda: tk.take_1d(read(values_path, "pos", "v"), "v",
                                read(indexer_path, "i", "indexer"), "indexer",
                                pos_col="pos"),
             expect(lambda: pi.assign(v=pv["v"].to_numpy()[pi["indexer"].to_numpy()]))),
    ]
