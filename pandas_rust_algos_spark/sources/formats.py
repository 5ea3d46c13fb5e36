"""Generic format sources/sinks: CSV, JSON(-lines), ORC, Parquet behind
one interface.

The reference has no I/O layer (data arrives as NumPy arrays through
PyO3, ``/root/reference/src/lib.rs:59-63``); the fixtures are parquet.
Real pipelines also land CSV/JSONL drops and exchange ORC — this module
makes every format a first-class lazy scan with the same plan-quality
contract as ``sources.parquet``:

- **schema is explicit, never inferred, on text formats.** CSV/JSON
  inference runs an extra full read of the data before the query even
  plans — at 100 TB that is a second 100 TB scan. Callers pass a
  ``StructType`` (or sample-infer once on a bounded prefix and persist
  the result).
- column pruning reaches every format's scan; predicate pushdown
  reaches ORC/Parquet (row-group/stripe skipping). CSV/JSON cannot skip
  bytes — convert landed text to parquet early (``convert_to_parquet``)
  so every downstream query gets pushdown and column pruning for free.
- text scans stay splittable: uncompressed or bzip2 text splits by
  byte range; a gzip file is ONE task no matter its size — the landing
  contract should forbid large gzip members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

__all__ = ["read_source", "write_sink", "convert_to_parquet",
           "land_with_quarantine", "stream_land_with_quarantine"]

_FORMATS = ("parquet", "orc", "csv", "json")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str,
    *,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Lazy scan of ``path`` in ``fmt``. Text formats (csv/json)
    require ``schema`` — refusing to silently trigger an inference scan
    is the point. CSV defaults: header=true, standard quoting/escapes
    overridable via ``options``."""
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(
            f"{fmt} reads require an explicit schema (inference would "
            "full-scan the data before planning; infer once on a sample "
            "and persist the schema instead)")
    return reader.format(fmt).load(path)


def write_sink(
    df: DataFrame,
    path: str,
    fmt: str,
    *,
    mode: str = "error",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` to ``path`` in ``fmt``. Columnar targets keep
    statistics for pushdown; csv/json are for export/interchange only."""
    if fmt not in _FORMATS:
        raise ValueError(f"fmt must be one of {_FORMATS}, got {fmt!r}")
    writer = df.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def convert_to_parquet(
    spark: SparkSession,
    src_path: str,
    fmt: str,
    schema: StructType | str,
    dest_path: str,
    *,
    mode: str = "error",
    **options: str,
) -> DataFrame:
    """Land-and-convert: one sequential pass over text input, parquet
    out, returning the converted scan. Every later query then planned
    against parquet gets pushdown + pruning + splittability — the
    standard first stage of any text-landing pipeline."""
    df = read_source(spark, src_path, fmt, schema=schema, **options)
    write_sink(df, dest_path, "parquet", mode=mode)
    return spark.read.parquet(dest_path)


def land_with_quarantine(
    spark: SparkSession,
    src_path: str,
    fmt: str,
    schema: StructType | str,
    dest_path: str,
    *,
    corrupt_col: str = "_corrupt_record",
    mode: str = "error",
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """Land a text drop (csv/json) with MALFORMED-LINE QUARANTINE:
    one sequential pass reads in PERMISSIVE mode with the corrupt
    column captured and writes EVERYTHING — parsed fields plus the
    raw text of unparseable lines — to parquet; returns
    ``(clean, quarantined)`` as filters over that parquet.

    Why this shape and not the alternatives:

    - ``DROPMALFORMED`` silently deletes data — a landing pipeline
      must be able to audit/replay what it rejected.
    - Filtering the corrupt column directly on the text scan is
      disallowed by Spark unless the scan is cached (the parser only
      materializes the raw record lazily; the internal-column check
      raises AnalysisException) — and caching a corpus-sized text
      scan is exactly what a 100 TB landing job cannot do.
    - ``badRecordsPath`` is a Databricks extension, not OSS Spark.

    So: pay the text parse ONCE, persist the verdict to parquet, and
    let clean/quarantine reads be predicate-pushdown parquet filters
    (``corrupt IS NULL`` prunes on row-group stats). A row is
    *quarantined* iff the corrupt column is non-null — covering both
    unparseable lines and PERMISSIVE type-coercion failures (which
    null the bad field and still populate the corrupt column).
    """
    if fmt not in ("csv", "json"):
        raise ValueError(
            f"quarantine landing is for text formats (csv/json), got "
            f"{fmt!r} — columnar formats fail loudly at write time")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    from pyspark.sql.types import StringType, StructField

    with_corrupt = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())])
    raw = read_source(
        spark, src_path, fmt, schema=with_corrupt,
        mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col,
        **options)
    raw.write.mode(mode).parquet(dest_path)
    landed = spark.read.parquet(dest_path)
    quarantined = landed.where(landed[corrupt_col].isNotNull())
    clean = landed.where(landed[corrupt_col].isNull()).drop(corrupt_col)
    return clean, quarantined


def stream_land_with_quarantine(
    spark: SparkSession,
    src_path: str,
    fmt: str,
    schema: StructType | str,
    dest_path: str,
    *,
    checkpoint: str,
    corrupt_col: str = "_corrupt_record",
    **options: str,
):
    """Streaming twin of :func:`land_with_quarantine` — the landing
    DIRECTORY watched as a stream (the production text-drop shape:
    files keep arriving; each is parsed exactly once): every
    micro-batch reads PERMISSIVE with the corrupt column and lands to
    ``{dest_path}/batch_id=<id>`` parquet via dynamic partition
    overwrite, so the at-least-once foreachBatch contract yields
    effectively-once landed rows (the ``sinks.write_stream_partitioned``
    recipe — a replayed batch rewrites its own directory). Clean and
    quarantined reads are the same pushdown parquet filters as the
    batch path, with ``batch_id`` riding along as lineage.

    Idempotence contract — PER CHECKPOINT: replay-safety relies on the
    checkpoint assigning each source file the same ``batch_id``. A
    FRESH checkpoint over the same directory (or after new files
    arrived) maps files to different batch ids, and dynamic partition
    overwrite leaves the stale partitions in place — duplicating
    landed rows. Re-landing from scratch requires deleting
    ``dest_path`` (and the old checkpoint) first; this function never
    wipes them itself, because a same-checkpoint replay of batch 0
    must not delete sibling partitions.

    Returns the query, drained."""
    if fmt not in ("csv", "json"):
        raise ValueError(
            f"quarantine landing is for text formats (csv/json), got "
            f"{fmt!r}")
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    from pandas_rust_algos_spark.streaming.sinks import (
        drain, overwrite_partitions,
    )

    with_corrupt = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType())])
    reader = (
        spark.readStream.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    stream = reader.format(fmt).load(src_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(batch_df.withColumn("batch_id", F.lit(batch_id)),
                             dest_path, ["batch_id"])

    return drain(stream.writeStream.foreachBatch(sink), checkpoint)
