"""The fixture loader reads each table's schema from its parquet footer
on the driver (``sources.parquet.file_schema``). These tests pin that
the footer schema is the one Spark's inference job returns, for the
fixtures and for the writers whose timestamp types differ, that a load
sees the file as it is now, and that stream reads leave no temp dir."""

from __future__ import annotations

import glob
import os
import re
import tempfile
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from pandas_rust_algos_spark.sources import TABLES, file_schema, load_table
from pandas_rust_algos_spark.streaming import events as se


def _inferred(spark, path):
    """The schema of the inferring read (one Spark job), as loads had it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def _loaded_schema(inferred: StructType, name: str) -> StructType:
    """``load_table``'s schema over an inferred one: events ``ts`` is a
    TIMESTAMP, everything else as read."""
    if name != "events":
        return inferred
    return StructType([
        StructField("ts", TimestampType(), True) if f.name == "ts" else f
        for f in inferred.fields
    ])


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_is_the_inferred_schema(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    inferred = _inferred(spark, path)
    assert file_schema(spark, path) == inferred
    assert load_table(spark, sf_dir, name).schema == _loaded_schema(inferred, name)


def test_nanos_timestamp_reads_as_bigint_then_micros(spark, tmp_path):
    """A TIMESTAMP(NANOS) column (pyarrow's writer) is ``bigint`` under
    ``nanosAsLong``; ``load_table`` truncates it to microseconds."""
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}),
                   tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    inferred = _inferred(spark, path)
    assert dict((f.name, f.dataType.simpleString()) for f in inferred)["ts"] == "bigint"
    assert file_schema(spark, path) == inferred
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema == _loaded_schema(inferred, "events")
    got = df.select(F.unix_micros("ts").alias("us")).orderBy("event_id").collect()
    assert [r.us for r in got] == [1_700_000_000_123_456, None]


def test_ntz_timestamp_reads_as_timestamp(spark, tmp_path):
    """A zone-less microsecond timestamp infers as ``timestamp_ntz``;
    ``load_table`` casts it to TIMESTAMP."""
    ts = pa.array([datetime(2024, 1, 2, 3, 4, 5, 6)], pa.timestamp("us"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}),
                   tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")
    inferred = _inferred(spark, path)
    assert dict((f.name, f.dataType.simpleString()) for f in inferred)["ts"] == "timestamp_ntz"
    assert file_schema(spark, path) == inferred
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema == _loaded_schema(inferred, "events")
    assert df.first().ts == datetime(2024, 1, 2, 3, 4, 5, 6)


def test_spark_row_metadata_is_honoured(spark, tmp_path):
    """A Spark-written file carries its row schema in the footer: field
    metadata survives and non-null fields come back nullable, as the
    inferring read returns them."""
    out = str(tmp_path / "written")
    (spark.range(3).coalesce(1)
     .select(F.col("id").alias("id", metadata={"comment": "row id"}),
             F.current_timestamp().alias("at"),
             F.array(F.col("id")).alias("ids"))
     .write.parquet(out))
    [path] = glob.glob(os.path.join(out, "part-*.parquet"))
    schema = file_schema(spark, path)
    assert schema == _inferred(spark, path)
    assert schema["id"].metadata == {"comment": "row id"}
    assert schema["id"].nullable


def test_each_load_reads_the_file_as_it_is_now(spark, tmp_path):
    """No schema survives a call: a file rewritten with another schema
    between two loads is read with its new schema."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    first = load_table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    second = load_table(spark, str(tmp_path), "region")
    assert second.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, second.collect())) == [(0, "a"), (1, "b")]


def test_a_directory_is_not_a_table_file(spark, tmp_path):
    with pytest.raises(ValueError, match=re.escape(str(tmp_path))):
        file_schema(spark, str(tmp_path))


def test_events_stream_drain_leaves_no_temp_entry(spark, sf_dir):
    """The stream reads the fixture file in place: a drain adds nothing
    to the temp dir and lands every row of the batch read."""
    before = set(os.listdir(tempfile.gettempdir()))
    stream = se.read_events_stream(spark, sf_dir)
    assert stream.schema == load_table(spark, sf_dir, "events").schema
    drained = se.run_available_now(stream.groupBy().count(),
                                   table="t_stream_temp_probe")
    assert drained.first()[0] == load_table(spark, sf_dir, "events").count()
    assert set(os.listdir(tempfile.gettempdir())) - before == set()
