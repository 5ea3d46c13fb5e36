"""Watermarked stream-stream joins over the events stream.

The scale contract of a stream-stream join is its *state bound*: each
side buffers rows until the watermark plus the join's time range says
no future match can arrive, then drops them. Without both a watermark
and a time-range (or window-equality) condition the state grows
forever — Spark rejects inner joins lacking them only in some output
modes, so the bound is OUR responsibility to encode, and this module
treats it as part of the operator's signature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["click_to_purchase", "enrich_with_dim"]


def click_to_purchase(
    stream: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Attribute each purchase to the same user's clicks in the
    preceding ``horizon``: a self stream-stream inner join.

    State stays bounded: clicks are droppable once the watermark passes
    ``click.ts + horizon``; purchases once the watermark passes their
    own ts — both derivable by Spark from the watermark + the two-sided
    time-range predicate below. Joining on ``user_id`` equality first
    keeps it a hash join on the key with the range as a post-filter.
    """
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(
            f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id", "purchase_id", "amount", "click_ts", "purchase_ts",
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on,
) -> DataFrame:
    """Stream-static enrichment join — the stateless workhorse of every
    event pipeline (attach user/account/catalog attributes to events).

    Unlike a stream-stream join this keeps NO state: the static side is
    re-evaluated against each micro-batch, so a dimension that lives in
    a table the pipeline also maintains (e.g. the upsert-merge target)
    is picked up fresh every batch — slowly-changing dimensions for
    free. A left join keeps every event; the dimension is broadcast so
    the streaming side never shuffles, which holds for any dimension
    that fits in executor memory (at 100 TB the event stream is the big
    side by orders of magnitude)."""
    return stream.join(F.broadcast(dim), on, "left")
