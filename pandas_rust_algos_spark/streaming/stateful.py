"""Custom stateful streaming operators via applyInPandasWithState.

``F.session_window`` / windowed aggregates cover SQL-expressible state
(streaming/events.py). This module is the escape hatch the brief's
"custom stateful operators" clause points at: arbitrary per-key state
carried across micro-batches with an explicit timeout contract.

Demonstrated operator: **per-user running profile** — event count,
fixed-point value sum, and last-seen timestamp, emitted once per
micro-batch per active key. The state dict is tiny and constant-size
per key and the processing function is Arrow-batched — the properties
any production stateful op needs at scale.

Timeout contract: ``idle_timeout_ms`` opts keys into processing-time
expiry so abandoned keys don't accumulate state on a long-running
cluster. It is **off by default** because a drain-style run
(an availableNow trigger, how tests and backfills execute)
never terminates with ProcessingTimeTimeout armed: after the data is
exhausted, Spark keeps scheduling empty micro-batches to service the
pending timeouts until they fire (observed: hundreds of empty batches
for a 1h timeout). Continuous production queries should pass a real
timeout; bounded drains must not.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "PROFILE_SCHEMA",
    "STATE_SCHEMA",
    "running_user_profile",
    "running_user_profile_tws",
]

PROFILE_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value_fx", LongType()),   # fixed-point micro-units
    StructField("last_ts", TimestampType()),
])

STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("s_fx", LongType()),
    StructField("last_us", LongType()),
])


def _make_update(idle_timeout_ms: int | None):
    def _update(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, s_fx, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            n += len(pdf)
            # per-row floor then exact int64 sum — matches F.sum(floor(v*1e6))
            s_fx += int(np.floor(pdf["value"].to_numpy() * 1e6).astype("int64").sum())
            ts_us = pdf["ts"].astype("int64") // 1000  # ns -> us
            last_us = max(last_us, int(ts_us.max()))
        state.update((n, s_fx, last_us))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value_fx": [s_fx],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        })

    return _update


def running_user_profile(
    stream: DataFrame,
    *,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Running per-user profile over an events stream; emits the updated
    profile for every key seen in each micro-batch. Pass
    ``idle_timeout_ms`` on continuous queries to expire idle keys (see
    module docstring for why bounded drains must leave it None)."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.select("user_id", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update(idle_timeout_ms),
            outputStructType=PROFILE_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def running_user_profile_tws(
    stream: DataFrame,
    *,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """The same running profile on ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState (typed named state,
    per-state TTL instead of a per-key timeout dance, composable value/
    list/map state). Kept alongside the classic form so both stateful
    APIs stay covered; tests assert the two emit identical final
    profiles.

    TTL replaces the manual timeout contract: pass ``state_ttl_ms`` on
    continuous queries and expired state simply reads as absent —
    bounded drains need no special-casing, unlike ProcessingTimeTimeout
    (see module docstring).

    Runtime requirement: the transformWithState protocol speaks
    protobuf between the JVM and the Python state server; deployments
    without ``google.protobuf`` must use :func:`running_user_profile`
    (same semantics, no extra dependency) — checked here eagerly so the
    failure is a clear ImportError at plan time, not a crashed
    streaming worker mid-query.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas requires the protobuf package; "
            "use running_user_profile (applyInPandasWithState) instead"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ttl = state_ttl_ms

    class _Profile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "profile", STATE_SCHEMA, ttlDurationMs=ttl)

        def handleInputRows(self, key, rows, timerValues):
            got = self._state.get()
            n, s_fx, last_us = got if got is not None else (0, 0, 0)
            for pdf in rows:
                n += len(pdf)
                s_fx += int(
                    np.floor(pdf["value"].to_numpy() * 1e6)
                    .astype("int64").sum())
                ts_us = pdf["ts"].astype("int64") // 1000
                last_us = max(last_us, int(ts_us.max()))
            self._state.update((n, s_fx, last_us))
            yield pd.DataFrame({
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value_fx": [s_fx],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            })

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "value", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Profile(),
            outputStructType=PROFILE_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
