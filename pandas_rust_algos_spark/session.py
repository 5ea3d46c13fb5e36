"""SparkSession factory and runtime tuning.

Design notes (100 TB target):

- ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime: coalesces
  small shuffle partitions, converts sort-merge joins to broadcast when
  the built side turns out small, and splits skewed partitions
  (``skewJoin``). On a 1000-executor cluster this is the single most
  important knob; we turn it on everywhere.
- ``spark.sql.shuffle.partitions`` — sized from local parallelism for
  the test harness; on a real cluster this should be ~2-3× total cores
  and AQE coalescing handles the rest.
- Arrow execution — every pandas-UDF boundary moves columnar Arrow
  batches, never pickled rows.

The driver owns the session in ``__spark_entry__``; therefore all knobs
we rely on must be *runtime-settable* (``spark.conf.set``) and applied
idempotently via :func:`tune` at query entry, not only at build time.

Generated-code cache (``spark.sql.codegen.cache.maxEntries``):

- Spark compiles each whole-stage-codegen class once and keeps it in
  one JVM-wide cache keyed by the generated source, so a plan shape run
  again reuses its classes. The default holds 100 classes. The six
  calls of the ``registry_sf001`` benchmark need more than that per
  pass, so each pass evicted and recompiled about 80 classes; with
  :data:`CODEGEN_CACHE_ENTRIES` it compiles none after the first.
- Only compiled code is reused, never data or results: every call
  still plans and runs from its sources.
- It is a *static* SQL conf: it can be set only while the session is
  built, so it sits on the builder in :func:`get_spark` and not in
  ``_RUNTIME_CONF`` (where :func:`tune` would fail to set it on every
  query). ``get_spark`` serves ``bench.py``, ``perfbench/``, the tests
  and ``tools/kernel_bench.py``. A session handed to
  ``__spark_entry__`` by its caller (as ``tools/driver_sim.py`` does)
  was built elsewhere and keeps Spark's default.
- Size: one sf0.001 pass over all 268 registry gates compiled 3,248
  distinct classes, 2.8 KB of bytecode each on average, so 4096
  entries hold the whole registry.

Call-site capture (``spark.python.sql.dataFrameDebugging.enabled``):

- PySpark wraps every ``functions.*`` and ``Column`` call in
  ``_with_origin``, which records the Python call site in the JVM for
  error messages: about 5 py4j round trips per call, before the call
  does any work. Spark's own doc for the switch says it "has a
  non-trivial performance overhead". With it off, a warm build of
  ``group_quantile_linear`` takes 482 round trips instead of 1,442 or
  more, and of ``q1_pricing_summary`` 210 instead of 730 or more.
- What is lost is the Python ``file:line`` in an analysis error's
  DataFrame context. The error class and its message, which names the
  missing column or the bad type, stay.
- It is a static SQL conf, so it sits on the builder next to the
  codegen cache size. PySpark reads it once per process, from the
  session active at the first API call, and caches it
  (``pyspark.errors.utils.is_debugging_enabled``). A session built
  elsewhere, such as the one the driver hands to ``__spark_entry__``,
  keeps Spark's default, as with the codegen cache.
"""

from __future__ import annotations

import concurrent.futures
import os
from collections.abc import Callable

from pyspark.sql import SparkSession

#: conf applied both at session build and (runtime-settable subset) per query.
_RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # deterministic timestamp semantics for oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; fixture dims (region/nation/...) are
    # tiny and even at 100 TB the dimension tables stay broadcastable.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}

#: entries in the JVM-wide generated-code cache ("Generated-code cache" above)
CODEGEN_CACHE_ENTRIES = 4096


def _cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS``, or 32 when it is unset.

    A value that is not a positive integer raises instead of being
    replaced by a guess."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return n


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent).

    Safe to call at the top of every query function: all keys here are
    runtime-settable, so this works on the driver-owned session too.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable in this deployment — keep going; every knob
            # here is an optimization, not a correctness requirement.
            pass
    cpus = _cpus()  # outside the try: a bad SPARK_GRAFT_CPUS must raise
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    except Exception:
        pass
    return spark


def run_concurrently(*thunks: Callable[[], object]) -> list:
    """Call each thunk on its own thread and return their results in
    argument order.

    Independent Spark actions submitted from separate threads run as
    concurrent jobs, so one job's task tail back-fills the executors the
    others free. Every thunk runs to completion before this returns;
    if any failed, the first failure in argument order is re-raised."""
    with concurrent.futures.ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]


def local_df(spark: SparkSession, rows, schema: str):
    """Driver-built tiny DataFrame (centroids, codebooks, sketch words
    — metadata-sized by construction) via the pandas/Arrow path.

    The plain-list ``createDataFrame`` parallelizes over default
    parallelism, and a later ``coalesce(1)`` of that parallelized
    collection stalls ~6 s per action in local mode (measured: the
    cost scales as 1/n_out — 6 s at coalesce(1), 1 s at coalesce(8) —
    independent of ``spark.locality.wait``; parquet-backed and
    pandas-backed frames don't exhibit it). The pandas path yields a
    LocalTableScan whose coalesce(1) write is ~0.3 s, so every tiny
    persisted artifact (one file on disk is the right layout for a
    KiB table) should be built through here."""
    import pandas as pd
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).fieldNames()
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema)


def get_spark(app_name: str = "pandas_rust_algos_spark") -> SparkSession:
    """Build (or reuse) a local SparkSession sized from SPARK_GRAFT_CPUS.

    Build-time confs (locality wait, codegen cache size, call-site
    capture) apply only when this call starts the session; a session
    that already exists keeps its own."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no stage progress bars on the console: they interleave with
        # the stdout of bench.py and the tools
        .config("spark.ui.showConsoleProgress", "false")
        # Single-JVM harness: every task is process-local by
        # construction, so the scheduler's delay-scheduling wait
        # (default 3s/level) is pure stall — measured 6s on EVERY
        # coalesce(1) of a driver-built table (2 locality levels),
        # e.g. each tiny centroid/books write. Build-time-only conf.
        # On a real multi-node cluster keep the default (or tune):
        # there the wait buys HDFS block locality on big scans.
        .config("spark.locality.wait", "0s")
        # Static SQL conf: see "Generated-code cache" above.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Static SQL conf: see "Call-site capture" above.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)
