"""Seeded benchmark inputs, written as parquet into the run's own directory.

Two generators, both pure functions of ``seed`` (same seed, byte-identical
files):

- :func:`write_star_schema` writes the repository's sf0.01 fixtures
  (``fixtures/sf0.01/``, the ten tables the registry queries read) with
  their rows in a seeded order. Values, schema, row counts, keys and
  distributions are the fixtures' own; only the row order, and with it
  the order in which scans and shuffles see the rows, depends on the seed.
- :func:`write_kernel_arrays` writes the reference's grouped-kernel recipe
  (``n`` rows with seeded labels) as two parquet files.

Only numpy and pyarrow are used, so the generated bytes do not depend on
the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=200_000)


def star_schema_tables(seed: int) -> dict[str, pa.Table]:
    """Every fixture table, its rows permuted by ``seed``."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in sorted(os.listdir(FIXTURES)):
        table = pq.read_table(os.path.join(FIXTURES, name))
        out[name.removesuffix(".parquet")] = table.take(rng.permutation(table.num_rows))
    return out


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the fixture tables to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema_tables(seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def kernel_arrays(seed: int, n: int, n_labels: int, n_ordered_labels: int
                  ) -> tuple[pa.Table, pa.Table]:
    """The reference's grouped-kernel recipe, seeded.

    ``values``: ``pos`` (row position), ``label`` in ``[0, n_labels)``,
    ``olabel`` in ``[0, n_ordered_labels)`` for the ordered transforms,
    ``v`` (int64) and ``x`` (double with ties, for quantile and rank).
    ``indexer``: ``i`` and ``indexer`` in ``[0, n)``, the take_1d gather.
    """
    rng = np.random.default_rng(seed)
    values = pa.table({
        "pos": np.arange(n, dtype=np.int64),
        "label": rng.integers(0, n_labels, n).astype(np.int64),
        "olabel": rng.integers(0, n_ordered_labels, n).astype(np.int64),
        "v": rng.integers(0, 1_000_000, n).astype(np.int64),
        "x": rng.integers(0, 100_000, n) / 100.0,
    })
    indexer = pa.table({
        "i": np.arange(n, dtype=np.int64),
        "indexer": rng.integers(0, n, n).astype(np.int64),
    })
    return values, indexer


def write_kernel_arrays(out_dir: str, seed: int, n: int, n_labels: int,
                        n_ordered_labels: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    values, indexer = kernel_arrays(seed, n, n_labels, n_ordered_labels)
    _write(values, os.path.join(out_dir, "values.parquet"))
    _write(indexer, os.path.join(out_dir, "indexer.parquet"))
