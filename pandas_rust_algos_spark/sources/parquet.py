"""Parquet sources for the fixture star schema.

The reference has no I/O layer at all — data arrives as in-memory NumPy
arrays through PyO3 (``/root/reference/src/lib.rs:59-63``). Our engine's
sources are lazy parquet scans: column pruning and predicate pushdown
reach the file scan via Catalyst, so a 2-column projection over a
100 TB table reads 2 columns' worth of bytes, not 100 TB.

A loaded table is a *plan node*, not data, and loading one runs no
Spark job: :func:`file_schema` reads the schema from the file's parquet
footer on the driver, with the converter Spark's schema inference runs
inside its job, and the scan is built on that schema. Each call reads
its own file's footer, so a rewritten file is seen on the next load.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

#: every fixture table the driver generates (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: When True, :func:`load_table` memoizes + persists each fixture table
#: per (SparkContext, sf_dir). Off by default — at real scale a table is
#: a lazy scan and caching would be wrong. ``__spark_entry__`` flips it
#: on only when the target sf_dir is tiny (the driver's correctness gate
#: runs ~120 queries against the same few-MB tables; re-scanning parquet
#: and re-running the ts normalization per query dominates wall time).
CACHE_SMALL_TABLES = False
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def file_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark's inference gives one parquet file, read from
    its footer on the driver. Inference (``spark.read.parquet(path)``
    with no schema) runs this footer conversion, under the session's
    SQL conf, in one Spark job; so ``nanosAsLong``, ``timestamp_ntz``
    inference and Spark's row metadata all apply, and fields come back
    nullable as a scan's do. Nothing is cached across calls."""
    # by full name: ``spark._jvm.org.apache...`` costs a py4j round trip
    # per package segment
    def jclass(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    pq = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    jpath = jclass("org.apache.hadoop.fs.Path")(path)
    if not jpath.getFileSystem(conf).isFile(jpath):
        raise ValueError(f"not a parquet file: {path!r}")
    footer = jclass(pq + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(jpath, conf),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    schema = jclass(pq + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(jpath, footer),
        jclass(pq + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def scan_table(spark: SparkSession, sf_dir: str, name: str,
               read: Callable[[StructType, str], DataFrame]) -> DataFrame:
    """One fixture table through ``read(schema, path)``, a batch or a
    stream scan, with the events ``ts`` made a TIMESTAMP.

    The events table carries TIMESTAMP(NANOS) which Spark's parquet
    reader rejects; we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable) and
    rebuild a microsecond timestamp with integer division — ``ts div
    1000`` stays exact where a double division of epoch-nanos would
    lose precision past 2^53. Truncation (not rounding) matches
    DuckDB's TIMESTAMP_NS→TIMESTAMP cast, keeping oracles aligned. A
    TIMESTAMP_NTZ ``ts`` is cast (exact: the session is pinned to UTC).
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TABLES}")
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = file_schema(spark, path)
    df = read(schema, path)
    ts = schema["ts"].dataType if name == "events" else None
    if isinstance(ts, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table (:func:`scan_table`)."""
    if CACHE_SMALL_TABLES:
        key = (id(spark.sparkContext), os.path.abspath(sf_dir), name)
        cached = _TABLE_CACHE.get(key)
        if cached is not None:
            return cached
    df = scan_table(spark, sf_dir, name,
                    lambda schema, path: spark.read.schema(schema).parquet(path))
    if CACHE_SMALL_TABLES:
        df = df.persist()
        _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Lazy scans for several tables; all of TABLES when none named."""
    wanted = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the fixture tables as temp views so plain
    ``spark.sql("SELECT ... FROM lineitem ...")`` works — the SQL face
    of the engine. Views are lazy plans over the parquet scans (same
    pushdown/pruning as the DataFrame face); re-registration replaces.
    """
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run SQL text against the registered star schema (registering the
    views first, idempotently)."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def spread(df: DataFrame, min_factor: float = 0.5, cap: int | None = None) -> DataFrame:
    """Fan a narrow scan out to the cluster before compute-heavy per-row
    work.

    Parquet splits at row-group granularity, so a small file (one row
    group) scans as a single task no matter how many cores exist — and
    every expensive expression downstream (hashing, shingling, vector
    math) then runs serially. When the scan has fewer partitions than
    ``min_factor ×`` the cluster's default parallelism, repartition
    round-robin; otherwise return the plan untouched. At real scale
    (many row groups per table) the condition is false and this is a
    zero-cost no-op — the guard exists precisely so the fix for tiny
    inputs never introduces a shuffle on big ones.

    ``cap`` bounds the fan-out; use it for Python-worker paths
    (``mapInPandas``/pandas UDF) where each partition spawns an
    interpreter and tiny inputs pay worker-startup, not compute.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    if df.rdd.getNumPartitions() < max(1, int(target * min_factor)):
        return df.repartition(target)
    return df
