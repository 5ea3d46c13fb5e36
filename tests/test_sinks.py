"""Partitioned parquet sink: layout, round-trip, and read-back pruning."""

from __future__ import annotations

import glob
import os

import pytest

from pandas_rust_algos_spark.sources import load_table
from pandas_rust_algos_spark.sources.sinks import (
    partition_dirs,
    read_partitioned,
    write_partitioned,
)


@pytest.fixture(scope="module")
def written(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sink") / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(
        ev, path,
        partition_by=["event_type"],
        sort_within=["ts"],
        max_records_per_file=100_000,
    )
    return path, ev


def test_partition_layout_and_roundtrip(spark, written):
    path, ev = written
    types = sorted(r["event_type"] for r in
                   ev.select("event_type").distinct().collect())
    assert partition_dirs(path) == [f"event_type={t}" for t in types]
    back = read_partitioned(spark, path)
    assert back.count() == ev.count()
    # partition column is recovered from the directory names
    assert sorted(r["event_type"] for r in
                  back.select("event_type").distinct().collect()) == types


def test_single_file_per_partition(written):
    """The pre-write repartition prevents the small-files explosion:
    each partition directory holds one file at this volume."""
    path, _ = written
    for d in partition_dirs(path):
        files = glob.glob(os.path.join(path, d, "*.parquet"))
        assert len(files) == 1, f"{d}: {files}"


def test_readback_prunes_partitions(spark, written):
    """A predicate on the partition column must prune at planning time:
    the scan's partition count is 1, not n_types."""
    path, ev = written
    one_type = ev.select("event_type").distinct().limit(1).collect()[0][0]
    back = read_partitioned(spark, path).where(f"event_type = '{one_type}'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # FileSourceScanExec reports pruned partition count
    expected = ev.where(f"event_type = '{one_type}'").count()
    assert back.count() == expected
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]


# ------------------------------------------------------------ upsert merge


def _mtimes(path, part):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, f"event_type={part}", "*.parquet"))
    }


def test_merge_upserts_deletes_and_prunes(spark, sf_dir, tmp_path):
    """merge_into_partitioned: updated keys replaced, new keys inserted,
    tombstoned keys removed — and partitions absent from the batch are
    not rewritten (their files' mtimes survive byte-untouched)."""
    from pyspark.sql import functions as F

    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.sources.merge import merge_into_partitioned

    path = str(tmp_path / "target")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    merge_into_partitioned(spark, path, ev, ["event_id"], "event_type")
    before = spark.read.parquet(path)
    n0 = before.count()
    assert n0 == ev.count()

    types = sorted(r[0] for r in
                   ev.select("event_type").distinct().collect())
    hot, cold = types[0], types[-1]
    hot_ids = [r[0] for r in ev.where(F.col("event_type") == hot)
               .select("event_id").limit(3).collect()]
    max_id = ev.agg(F.max("event_id")).first()[0]

    cold_before = _mtimes(path, cold)
    updates = spark.createDataFrame(
        [(hot_ids[0], hot, 111.0, False),     # update in place
         (hot_ids[1], hot, 222.0, True),      # delete tombstone
         (max_id + 1, hot, 333.0, False)],    # brand-new key
        ["event_id", "event_type", "value", "is_delete"],
    )
    merge_into_partitioned(spark, path, updates, ["event_id"], "event_type",
                           delete_col="is_delete")

    after = spark.read.parquet(path)
    assert after.count() == n0  # +1 insert -1 delete
    got = {r["event_id"]: r["value"]
           for r in after.where(F.col("event_type") == hot).collect()}
    assert got[hot_ids[0]] == 111.0
    assert hot_ids[1] not in got
    assert got[max_id + 1] == 333.0
    # untouched partition: same files, same mtimes — proof of pruning
    assert _mtimes(path, cold) == cold_before
    # replay the same batch: idempotent
    merge_into_partitioned(spark, path, updates, ["event_id"], "event_type",
                           delete_col="is_delete")
    assert spark.read.parquet(path).count() == n0


def test_stream_upsert_converges_to_batch_merge(spark, sf_dir, tmp_path):
    """Streaming upsert sink: replaying the events stream into a
    pre-seeded target converges to exactly one row per event_id with
    the streamed values winning."""
    from pyspark.sql import functions as F

    import pandas_rust_algos_spark.streaming.events as se
    from pandas_rust_algos_spark.sources import load_table
    from pandas_rust_algos_spark.sources.merge import write_stream_upsert

    path = str(tmp_path / "target")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    # seed with zeroed values — the stream must overwrite every row
    merge_into = ev.withColumn("value", F.lit(0.0))
    merge_into.repartition("event_type").write.partitionBy("event_type") \
        .parquet(path)

    stream = se.read_events_stream(spark, sf_dir).select(
        "event_id", "event_type", "value")
    q = write_stream_upsert(
        stream, path, key_cols=["event_id"], partition_col="event_type",
        checkpoint=str(tmp_path / "ck"),
    )
    assert len(q.recentProgress) <= 1

    after = spark.read.parquet(path)
    assert after.count() == ev.count()
    zeroed = after.where(F.col("value") == 0.0).count()
    orig_zero = ev.where(F.col("value") == 0.0).count()
    assert zeroed == orig_zero  # every seeded 0.0 overwritten
