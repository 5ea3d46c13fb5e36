"""The one skeleton behind the cell sketches (CMS, HLL, histograms, and
the KMV merge): drop the rows a sketch cannot place, compute each row's
cell, group by (group, cell) and fold. A sketch module supplies only
its :class:`Cells`; the build, the watermarked stream form and the
exact merge live here once."""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Cells(NamedTuple):
    """Rows failing ``keep`` drop; ``project`` computes the cell
    columns ``names`` and the fold's inputs; ``fold`` is the aliased
    per-cell aggregate."""

    keep: Column
    names: tuple[str, ...]
    project: tuple[Column, ...]
    fold: Column


def build(df: DataFrame, by: Sequence[str], cells: Cells) -> DataFrame:
    """``(*by, *names, state)`` in one map-side-combined aggregate."""
    return (
        df.where(cells.keep)
        .select(*by, *cells.project)
        .groupBy(*by, *cells.names)
        .agg(cells.fold)
    )


def windowed(stream: DataFrame, cells: Cells, *, window: str,
             watermark: str) -> DataFrame:
    """The same aggregate per tumbling ``window`` of ``ts`` behind a
    watermark: ``(window_start, *names, state)``."""
    agged = (
        stream.where(cells.keep)
        .withWatermark("ts", watermark)
        .select("ts", *cells.project)
        .groupBy(F.window("ts", window).alias("w"), *cells.names)
        .agg(cells.fold)
    )
    return agged.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        *agged.columns[1:],
    )


def merge(sketches: Sequence[DataFrame],
          fold: Callable[[Column], Column]) -> DataFrame:
    """Union same-geometry sketches, group by every column but the last
    (the state) and ``fold`` the state — exact for sum, max, min-k."""
    if not sketches:
        raise ValueError("merge needs at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    *keys, state = merged.columns
    return merged.groupBy(*keys).agg(fold(F.col(state)).alias(state))
