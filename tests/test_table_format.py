"""Versioned table format (sources/table_format.py): atomic commits,
snapshot isolation, time travel, stats-pruned merge, checkpointed log
replay, vacuum retention, and optimistic-concurrency conflicts."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from pandas_rust_algos_spark.sources.table_format import (
    CommitConflict,
    VersionedTable,
)


def _mk(spark, tmp_path, **kw):
    return VersionedTable(spark, str(tmp_path / "tbl"),
                          key_cols=["id"], **kw)


def _df(spark, ids, tag):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}") for i in ids], "id long, payload string")


def _ids(tbl, **kw):
    return sorted(r["id"] for r in tbl.read(**kw).collect())


def _payloads(tbl, **kw):
    return {r["id"]: r["payload"] for r in tbl.read(**kw).collect()}


def test_create_append_time_travel(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    v0 = tbl.create(_df(spark, range(10), "a"))
    v1 = tbl.append(_df(spark, range(10, 15), "b"))
    assert (v0, v1) == (0, 1)
    assert _ids(tbl) == list(range(15))
    # pinned read sees the old snapshot
    assert _ids(tbl, version=0) == list(range(10))
    hist = tbl.history()
    assert [h["op"] for h in hist] == ["create", "append"]
    # time travel by timestamp: at v0's commit time, v1 is invisible
    assert _ids(tbl, as_of_ts_ms=hist[0]["ts_ms"]) == list(range(10))


def test_create_refuses_existing(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, [1], "a"))
    with pytest.raises(FileExistsError):
        tbl.create(_df(spark, [2], "b"))


def test_overwrite_is_atomic_snapshot_swap(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    old_reader = tbl.read()  # plan pinned to v0's file list
    tbl.overwrite(_df(spark, range(100, 103), "b"))
    assert _ids(tbl) == [100, 101, 102]
    # the pre-overwrite reader still sees v0 (snapshot isolation)
    assert sorted(r["id"] for r in old_reader.collect()) == list(range(5))


def test_merge_upserts_and_deletes(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(10), "a"))
    updates = spark.createDataFrame(
        [(3, "new-3", False), (7, "new-7", False),
         (5, None, True), (42, "new-42", False)],
        "id long, payload string, is_delete boolean")
    tbl.merge(updates, delete_col="is_delete")
    got = _payloads(tbl)
    assert got[3] == "new-3" and got[7] == "new-7" and got[42] == "new-42"
    assert 5 not in got
    assert got[0] == "a-0"  # untouched rows survive
    assert len(got) == 10  # 10 - 1 delete + 1 insert


def test_merge_prunes_files_by_key_stats(spark, tmp_path):
    """Only files whose footer key-range intersects the batch are
    rewritten; disjoint files are carried by reference (same file
    path in both snapshots)."""
    tbl = _mk(spark, tmp_path)
    lo = _df(spark, range(0, 100), "lo").repartition(1)
    hi = _df(spark, range(1000, 1100), "hi").repartition(1)
    tbl.create(lo)
    tbl.append(hi)
    before = set(tbl._snapshot().files)
    assert len(before) == 2

    updates = spark.createDataFrame([(1050, "upd")], "id long, payload string")
    tbl.merge(updates)
    after = tbl._snapshot()
    # the lo file must be byte-identical carried-over (same relpath)
    lo_files = {f for f in before
                if tbl._snapshot(0).files.get(f)}
    assert lo_files & set(after.files), "disjoint file was rewritten"
    commit = json.load(open(tbl._log_path(after.version)))
    assert len(commit["remove"]) == 1, (
        "merge should rewrite exactly the one overlapping file")
    assert _payloads(tbl)[1050] == "upd"
    assert len(_ids(tbl)) == 200


def test_checkpoint_bounds_replay(spark, tmp_path):
    tbl = _mk(spark, tmp_path, checkpoint_interval=4)
    tbl.create(_df(spark, [0], "a"))
    for i in range(1, 10):
        tbl.append(_df(spark, [i], "a"))
    _, checkpoints = tbl._list_log()
    assert checkpoints == [4, 8]
    # full correctness through checkpointed replay, incl. pre-checkpoint
    assert _ids(tbl) == list(range(10))
    assert _ids(tbl, version=3) == list(range(4))
    assert _ids(tbl, version=8) == list(range(9))
    # wipe pre-checkpoint commits: snapshot at latest must still load
    # purely from checkpoint 8 + delta 9 (bounded replay, not history)
    for v in range(0, 8):
        os.unlink(tbl._log_path(v))
    assert _ids(tbl, version=9) == list(range(10))


def test_vacuum_retention(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    tbl.overwrite(_df(spark, range(5, 8), "b"))
    tbl.overwrite(_df(spark, range(8, 12), "c"))
    deleted = tbl.vacuum(retain_last=2)
    assert deleted, "v0's files should be vacuumed"
    # retained versions stay readable
    assert _ids(tbl, version=1) == [5, 6, 7]
    assert _ids(tbl) == list(range(8, 12))
    # the vacuumed version's files are really gone
    gone = [os.path.join(tbl.path, rel) for rel in deleted]
    assert not any(os.path.exists(p) for p in gone)


def test_conflicting_writers(spark, tmp_path):
    """Two writers derived from the same snapshot: the second
    non-append commit must fail with CommitConflict, never silently
    clobber — and blind appends never conflict."""
    tbl_a = _mk(spark, tmp_path)
    tbl_b = VersionedTable(spark, tbl_a.path, key_cols=["id"])
    tbl_a.create(_df(spark, range(10), "a"))

    snap = tbl_a._snapshot()
    adds = tbl_a._write_data_files(_df(spark, [100], "x"))
    # writer B lands a merge first
    tbl_b.merge(spark.createDataFrame([(3, "b-3")], "id long, payload string"))
    # writer A's stale overwrite-style commit must conflict
    with pytest.raises(CommitConflict):
        tbl_a._commit("overwrite", adds, list(snap.files), snap.version)
    # blind appends are add-only: no conflict in either order
    tbl_a.append(_df(spark, [200], "y"))
    assert 200 in _ids(tbl_a)
    assert _payloads(tbl_a)[3] == "b-3"


def test_merge_empty_batch_is_noop_rewrite(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    empty = spark.createDataFrame([], "id long, payload string")
    tbl.merge(empty)
    assert _ids(tbl) == list(range(5))
    commit = json.load(open(tbl._log_path(tbl.latest_version())))
    assert commit["remove"] == [], "empty batch must not rewrite any file"


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(0, 50), "lo").repartition(1))
    tbl.append(_df(spark, range(1000, 1050), "hi").repartition(1))
    tbl.delete(F.col("id") >= 1040)
    commit = json.load(open(tbl._log_path(tbl.latest_version())))
    assert len(commit["remove"]) == 1, "only the hi file contains matches"
    assert len(_ids(tbl)) == 90
    assert 1039 in _ids(tbl) and 1040 not in _ids(tbl)
    # no matches -> a pure no-op commit, nothing rewritten
    tbl.delete(F.col("id") > 10_000)
    commit = json.load(open(tbl._log_path(tbl.latest_version())))
    assert commit["remove"] == [] and commit["add"] == []


def test_compact_coalesces_small_files(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, [0], "a"))
    for i in range(1, 8):
        tbl.append(_df(spark, [i], "a"))
    assert tbl.file_count() >= 8
    v = tbl.compact()
    assert tbl.file_count(v) < 8
    assert _ids(tbl) == list(range(8))
    # pinned pre-compaction reader unaffected; second compact is a no-op
    assert _ids(tbl, version=v - 1) == list(range(8))
    assert tbl.compact() == v


def test_compact_zorder_preserves_data(spark, tmp_path):
    tbl = VersionedTable(spark, str(tmp_path / "tbl"), key_cols=["id"])
    rows = [(i, i % 13, f"p-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, bucket long, payload string")
    tbl.create(df.repartition(4))
    tbl.append(df.limit(0))  # second (empty) file so compact triggers
    v = tbl.compact(zorder_by=["id", "bucket"])
    got = sorted((r["id"], r["bucket"], r["payload"])
                 for r in tbl.read(version=v).collect())
    assert got == sorted(rows)


def test_changes_feed(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    updates = spark.createDataFrame(
        [(2, "a-2-new", False), (9, "a-9", False), (4, None, True)],
        "id long, payload string, is_delete boolean")
    tbl.merge(updates, delete_col="is_delete")
    feed = {r["id"]: r for r in tbl.changes(0, 1).collect()}
    assert set(feed) == {2, 4, 9}
    assert feed[2]["status"] == "changed" and feed[2]["new_payload"] == "a-2-new"
    assert feed[9]["status"] == "added"
    assert feed[4]["status"] == "removed" and feed[4]["old_payload"] == "a-4"


def test_write_stream_merge_sink(spark, tmp_path):
    """Rate-limited memory stream → versioned merge sink: every batch
    is one atomic commit; final state equals last-writer-wins."""
    src = str(tmp_path / "src")
    _df(spark, range(10), "v1").write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("id long, payload string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    tbl = _mk(spark, tmp_path)
    q = tbl.write_stream(stream, checkpoint=str(tmp_path / "ckpt"))
    assert len(q.recentProgress) <= 4
    assert _ids(tbl) == list(range(10))
    ops = [h["op"] for h in tbl.history()]
    assert ops[0] == "create" and set(ops[1:]) <= {"merge"}
    # second stream of updates merges on top
    src2 = str(tmp_path / "src2")
    _df(spark, [3, 42], "v2").write.mode("overwrite").parquet(src2)
    stream2 = (spark.readStream.schema("id long, payload string")
               .parquet(src2))
    q2 = tbl.write_stream(stream2, checkpoint=str(tmp_path / "ckpt2"))
    assert len(q2.recentProgress) <= 1
    got = _payloads(tbl)
    assert got[3] == "v2-3" and got[42] == "v2-42" and got[7] == "v1-7"


def test_read_prunes_columns_and_filters(spark, tmp_path):
    """The snapshot read is a plain parquet scan — pushdown and column
    pruning still reach the files."""
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(50), "a"))
    plan = (tbl.read().where(F.col("id") > 40).select("id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,40)]" in plan
    assert "ReadSchema: struct<id:bigint>" in plan


def test_schema_evolution_append(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    wide = spark.createDataFrame(
        [(100, "b-100", 1.5)], "id long, payload string, score double")
    # default: mismatch rejected
    with pytest.raises(ValueError, match="merge_schema"):
        tbl.append(wide)
    tbl.append(wide, merge_schema=True)
    out = tbl.read()
    assert [f.name for f in out.schema.fields] == ["id", "payload", "score"]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[100]["score"] == 1.5
    assert rows[0]["score"] is None  # pre-evolution files read as NULL
    # time travel BEFORE the evolution sees the narrow schema
    old = tbl.read(version=0)
    assert [f.name for f in old.schema.fields] == ["id", "payload"]


def test_schema_evolution_type_conflict_rejected(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))
    bad = spark.createDataFrame([(1, 7)], "id long, payload long")
    with pytest.raises(ValueError, match="type conflict"):
        tbl.append(bad, merge_schema=True)


def test_schema_evolution_missing_cols_fill_null(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))
    narrow = spark.createDataFrame([(200,)], "id long")
    tbl.append(narrow, merge_schema=True)
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert rows[200]["payload"] is None


def test_overwrite_resets_schema(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))
    tbl.append(
        spark.createDataFrame([(9, "x", 2.0)],
                              "id long, payload string, score double"),
        merge_schema=True)
    tbl.overwrite(_df(spark, range(2), "z"))
    assert [f.name for f in tbl.read().schema.fields] == ["id", "payload"]


# ---------------------------------------------- python datasource reader


def test_vtable_datasource_reads_snapshot(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    tbl.merge(_df(spark, [3, 4, 5, 6], "b"))
    via_fmt = spark.read.format("vtable").load(tbl.path)
    assert sorted(r["id"] for r in via_fmt.collect()) == _ids(tbl)
    assert {r["id"]: r["payload"] for r in via_fmt.collect()} == \
        _payloads(tbl)


def test_vtable_datasource_time_travel_and_evolution(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))
    tbl.append(
        spark.createDataFrame([(7, "x", 1.25)],
                              "id long, payload string, score double"),
        merge_schema=True)
    v0 = spark.read.format("vtable").option("version", 0).load(tbl.path)
    assert [f.name for f in v0.schema.fields] == ["id", "payload"]
    latest = spark.read.format("vtable").load(tbl.path)
    rows = {r["id"]: r for r in latest.collect()}
    assert rows[7]["score"] == 1.25
    assert rows[0]["score"] is None  # old files conformed with NULLs


def test_vtable_datasource_sql_usable(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(4), "a"))
    spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW vt USING vtable "
              f"OPTIONS (path '{tbl.path}')")
    assert spark.sql("SELECT COUNT(*) AS n FROM vt").first()["n"] == 4


def test_vtable_datasource_filter_prunes_files(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableReader, register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    # three single-file commits with disjoint key ranges
    tbl.create(_df(spark, range(0, 10), "a").coalesce(1))
    tbl.append(_df(spark, range(100, 110), "b").coalesce(1))
    tbl.append(_df(spark, range(200, 210), "c").coalesce(1))

    # correctness through the format with a filter applied
    out = (spark.read.format("vtable").load(tbl.path)
           .where("id >= 200").collect())
    assert sorted(r["id"] for r in out) == list(range(200, 210))

    # pruning proof: the reader's partitions() must skip excluded files
    df = spark.read.format("vtable").load(tbl.path)
    reader = VTableReader({"path": tbl.path}, df.schema)
    assert len(reader.partitions()) == 3
    residual = list(reader.pushFilters([GreaterThan(("id",), 150)]))
    assert len(residual) == 1  # every filter stays residual (safe)
    assert len(reader.partitions()) == 1
    reader2 = VTableReader({"path": tbl.path}, df.schema)
    list(reader2.pushFilters([EqualTo(("id",), 105)]))
    assert len(reader2.partitions()) == 1
    # a filter on a stats-free column must not prune
    reader3 = VTableReader({"path": tbl.path}, df.schema)
    list(reader3.pushFilters([EqualTo(("payload",), "zzz")]))
    assert len(reader3.partitions()) == 3


def test_vtable_datasource_write_append_and_overwrite(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    path = str(tmp_path / "wtbl")
    _df(spark, range(5), "a").write.format("vtable") \
        .option("keyCols", "id").mode("append").save(path)  # creates v0
    tbl = VersionedTable(spark, path, key_cols=["id"])
    assert _ids(tbl) == list(range(5))
    # append through the format
    _df(spark, range(10, 13), "b").write.format("vtable") \
        .option("keyCols", "id").mode("append").save(path)
    assert _ids(tbl) == list(range(5)) + [10, 11, 12]
    # the written files carry key stats -> merge pruning works on them
    assert all(
        a.get("stats", {}).get("id")
        for a in tbl._snapshot().files.values()
    )
    # overwrite through the format
    _df(spark, range(100, 102), "c").write.format("vtable") \
        .option("keyCols", "id").mode("overwrite").save(path)
    assert _ids(tbl) == [100, 101]
    # history shows create -> append -> overwrite, all atomic commits
    assert [h["op"] for h in tbl.history()][-3:] == \
        ["create", "append", "overwrite"]


def test_vtable_datasource_write_schema_evolution(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    path = str(tmp_path / "wtbl2")
    _df(spark, range(3), "a").write.format("vtable") \
        .mode("append").save(path)
    wide = spark.createDataFrame(
        [(9, "x", 1.5)], "id long, payload string, score double")
    with pytest.raises(Exception, match="merge_schema|mergeSchema"):
        wide.write.format("vtable").mode("append").save(path)
    wide.write.format("vtable").option("mergeSchema", "true") \
        .mode("append").save(path)
    tbl = VersionedTable(spark, path)
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert rows[9]["score"] == 1.5 and rows[0]["score"] is None


def test_bloom_filter_file_skipping(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    from pandas_rust_algos_spark.sources.table_format import (
        bloom_might_contain,
    )
    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableReader, register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = VersionedTable(spark, str(tmp_path / "btbl"),
                         key_cols=["id"], bloom_cols=["id"])
    # interleaved ids: [min,max] ranges OVERLAP, range stats prune nothing
    tbl.create(_df(spark, range(0, 100, 2), "a").coalesce(1))   # evens
    tbl.append(_df(spark, range(1, 100, 2), "b").coalesce(1))   # odds

    snap = tbl._snapshot()
    blooms = [a["stats"]["id"]["bloom"] for a in snap.files.values()]
    assert all("b64" in b for b in blooms)

    df = spark.read.format("vtable").load(tbl.path)
    schema = df.schema

    def n_parts(v):
        r = VTableReader({"path": tbl.path}, schema)
        list(r.pushFilters([EqualTo(("id",), v)]))
        return len(r.partitions())

    # value in exactly one file: min/max is inconclusive, bloom prunes
    assert n_parts(42) == 1
    assert n_parts(43) == 1
    # no false negatives: every present id keeps its file
    for v in range(100):
        assert n_parts(v) >= 1
        assert any(bloom_might_contain(b, v) for b in blooms)
    # end-to-end correctness with the filter applied
    got = df.where("id = 43").collect()
    assert [r["id"] for r in got] == [43]


def test_bloom_through_datasource_writer(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableReader, register_vtable_source,
    )

    register_vtable_source(spark)
    path = str(tmp_path / "bw")
    _df(spark, range(0, 50), "a").coalesce(1).write.format("vtable") \
        .option("keyCols", "id").option("bloomCols", "id") \
        .mode("append").save(path)
    _df(spark, range(1000, 1050), "b").coalesce(1).write.format("vtable") \
        .option("keyCols", "id").option("bloomCols", "id") \
        .mode("append").save(path)
    df = spark.read.format("vtable").load(path)
    r = VTableReader({"path": path}, df.schema)
    # 500 is inside neither file: range stats exclude it from BOTH (the
    # files are disjoint) — use a present-range absent value instead:
    list(r.pushFilters([EqualTo(("id",), 25)]))
    assert len(r.partitions()) == 1
    assert df.where("id = 1025").count() == 1


def test_row_group_pruning_in_reader(spark, tmp_path):
    import pyarrow.parquet as pq_mod
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableReader, register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(100), "a").coalesce(1))
    # rewrite the single data file with 10-row row groups (same rows,
    # same committed file-level stats -> log stays valid)
    (rel,) = tbl._snapshot().files
    fpath = f"{tbl.path}/{rel}"
    t = pq_mod.read_table(fpath)
    t = t.sort_by("id")
    pq_mod.write_table(t, fpath, row_group_size=10)

    df = spark.read.format("vtable").load(tbl.path)
    reader = VTableReader({"path": tbl.path}, df.schema)
    (part,) = reader.partitions()

    def rows_read(filters):
        r = VTableReader({"path": tbl.path}, df.schema)
        list(r.pushFilters(filters))
        (p,) = r.partitions()
        return sum(b.num_rows for b in r.read(p))

    assert rows_read([]) == 100
    # point filter: only the one 10-row stripe is read
    assert rows_read([EqualTo(("id",), 55)]) == 10
    # range filter: the tail stripes only
    assert rows_read([GreaterThanOrEqual(("id",), 80)]) == 20
    # end-to-end: results still correct (residual filter re-applied)
    assert [r["id"] for r in df.where("id = 55").collect()] == [55]
    assert df.where("id >= 80").count() == 20


def test_vtable_streaming_source_incremental(spark, tmp_path):
    import pyspark.sql.utils  # noqa: F401

    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    ckpt = str(tmp_path / "s_ck")
    out_dir = str(tmp_path / "s_out")

    def drain():
        # durable sink: checkpoint recovery is the exactly-once claim
        # under test (the memory sink cannot recover from a checkpoint)
        q = (spark.readStream.format("vtable").load(tbl.path)
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(r["id"] for r in spark.read.parquet(out_dir).collect())

    # first drain: everything committed so far
    assert drain() == list(range(5))
    # append two commits; same checkpoint -> ONLY the new rows arrive
    tbl.append(_df(spark, range(10, 13), "b"))
    tbl.append(_df(spark, range(20, 22), "c"))
    assert drain() == list(range(5)) + [10, 11, 12, 20, 21]
    # nothing new -> no duplicate re-emission
    assert drain() == list(range(5)) + [10, 11, 12, 20, 21]


def test_vtable_streaming_rejects_rewrites(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = VersionedTable(spark, str(tmp_path / "rw"), key_cols=["id"])
    tbl.create(_df(spark, range(5), "a"))
    tbl.merge(_df(spark, [2, 3], "B"))  # rewrite -> not append-only

    def drain(opts):
        reader = spark.readStream.format("vtable")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load(tbl.path)
             .writeStream.format("memory").queryName("t_vt_rw")
             .outputMode("append")
             .option("checkpointLocation",
                     str(tmp_path / f"ck{len(opts)}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table("t_vt_rw").count()

    import pytest as _pytest
    with _pytest.raises(Exception, match="ignoreChanges|append-only"):
        drain({})
    # relaxed semantics: rewritten file's rows all emit (at-least-once)
    assert drain({"ignoreChanges": "true"}) >= 5


def test_compact_preserves_bloom_filters(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo

    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableReader, register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = VersionedTable(spark, str(tmp_path / "cb"),
                         key_cols=["id"], bloom_cols=["id"])
    # interleaved ids so min/max never prunes, only blooms can
    tbl.create(_df(spark, range(0, 60, 2), "a").repartition(3))
    tbl.append(_df(spark, range(1, 60, 2), "b").repartition(3))
    before = tbl.file_count()
    v = tbl.compact(target_file_bytes=10 * 1024 * 1024)
    assert tbl.file_count(v) < before
    # rewritten files carry fresh blooms -> point pruning still works
    snap = tbl._snapshot()
    assert all("bloom" in a["stats"].get("id", {})
               for a in snap.files.values())
    df = spark.read.format("vtable").load(tbl.path)
    r = VTableReader({"path": tbl.path}, df.schema)
    list(r.pushFilters([EqualTo(("id",), 31)]))
    assert 1 <= len(r.partitions()) <= tbl.file_count(v)
    assert df.where("id = 31").count() == 1


def test_vacuum_breaks_stream_replay_loudly(spark, tmp_path):
    """Retention contract: a streaming replay that reaches past
    VACUUMed history must FAIL (missing file), never silently emit an
    empty/partial batch — same contract as Delta."""
    from pandas_rust_algos_spark.sources.vtable_source import (
        VTableStreamReader,
    )

    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))          # v0
    tbl.overwrite(_df(spark, range(10, 13), "b"))  # v1 drops v0's files
    tbl.append(_df(spark, range(20, 22), "c"))     # v2
    removed = tbl.vacuum(retain_last=2)
    assert removed  # v0's files are gone

    reader = VTableStreamReader(
        {"path": tbl.path, "ignorechanges": "true"}, tbl.read().schema)
    # replay inside retention: fine
    assert len(list(reader.readBetweenOffsets(
        {"version": 1}, {"version": 2}))) == 2
    # replay past retention: loud failure
    with pytest.raises(Exception):
        list(reader.readBetweenOffsets({"version": -1}, {"version": 0}))


def test_vtable_backfill_plus_tail(spark, tmp_path):
    """The lakehouse unification pattern: batch-read the snapshot at
    version V, stream from startingVersion=V+1 — together they cover
    the table exactly once (append-only history)."""
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))          # v0
    tbl.append(_df(spark, range(10, 13), "b"))     # v1
    snap_v = tbl.latest_version()
    backfill = sorted(
        r["id"] for r in
        spark.read.format("vtable")
        .option("version", str(snap_v)).load(tbl.path).collect())

    tbl.append(_df(spark, range(20, 22), "c"))     # v2 (after snapshot)
    tbl.append(_df(spark, range(30, 33), "d"))     # v3

    out_dir = str(tmp_path / "tail_out")
    q = (spark.readStream.format("vtable")
         .option("startingVersion", str(snap_v + 1)).load(tbl.path)
         .writeStream.format("parquet").option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "tail_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    tail = sorted(r["id"] for r in spark.read.parquet(out_dir).collect())

    assert backfill == list(range(5)) + [10, 11, 12]
    assert tail == [20, 21, 30, 31, 32]        # ONLY post-snapshot rows
    assert sorted(backfill + tail) == sorted(
        r["id"] for r in tbl.read().collect())


# ---------------------------------------- rewrite-after-evolution (r4)
# The ADVICE-flagged silent-data-loss shape: merge/delete/compact used
# to re-read touched files with an INFERRED schema; over a mixed
# pre-/post-evolution file set the inference could come from a
# pre-evolution file, dropping the evolved column from the rewrite
# while the committed schema still claimed it.


def _evolved_tbl(spark, tmp_path):
    """ids 0-4 pre-evolution (no score), ids 5-9 with score=id/2."""
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))
    wide = spark.createDataFrame(
        [(i, f"b-{i}", i / 2.0) for i in range(5, 10)],
        "id long, payload string, score double")
    tbl.append(wide, merge_schema=True)
    return tbl


def test_merge_after_evolution_preserves_evolved_column(spark, tmp_path):
    tbl = _evolved_tbl(spark, tmp_path)
    # key range 2..7 touches BOTH the pre- and post-evolution files
    ups = spark.createDataFrame(
        [(2, "u-2", 99.0), (7, "u-7", 77.0)],
        "id long, payload string, score double")
    tbl.merge(ups)
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert rows[2]["score"] == 99.0 and rows[7]["score"] == 77.0
    # survivors in the rewritten post-evolution file keep their score
    assert rows[9]["score"] == 4.5 and rows[6]["score"] == 3.0
    assert rows[0]["score"] is None  # pre-evolution survivor: still NULL


def test_merge_narrow_batch_after_evolution(spark, tmp_path):
    tbl = _evolved_tbl(spark, tmp_path)
    # batch missing the evolved column: its own rows upsert NULL score,
    # survivors keep theirs
    tbl.merge(_df(spark, [6], "n"))
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert rows[6]["payload"] == "n-6" and rows[6]["score"] is None
    assert rows[7]["score"] == 3.5
    # a batch with a column the table never committed is rejected loudly
    alien = spark.createDataFrame([(1, "x", True)],
                                  "id long, payload string, extra boolean")
    with pytest.raises(ValueError, match="not in the table schema"):
        tbl.merge(alien)


def test_delete_after_evolution_preserves_evolved_column(spark, tmp_path):
    tbl = _evolved_tbl(spark, tmp_path)
    tbl.delete("id = 7 OR id = 1")  # rewrites both files
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert sorted(rows) == [0, 2, 3, 4, 5, 6, 8, 9]
    assert rows[8]["score"] == 4.0 and rows[5]["score"] == 2.5
    assert rows[0]["score"] is None


def test_compact_after_evolution_preserves_evolved_column(spark, tmp_path):
    tbl = _evolved_tbl(spark, tmp_path)
    v = tbl.compact()  # every file is tiny → all coalesced
    assert v > 1
    rows = {r["id"]: r for r in tbl.read().collect()}
    assert sorted(rows) == list(range(10))
    assert rows[9]["score"] == 4.5 and rows[0]["score"] is None


def test_append_same_schema_commits_blind(spark, tmp_path):
    import json as _json

    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, [1], "a"))
    v = tbl.append(_df(spark, [2], "b"))
    with open(tbl._log_path(v)) as f:
        rec = _json.load(f)
    # schema unchanged → blind commit, NO schema record (conflict-free)
    assert "schema" not in rec
    wide = spark.createDataFrame([(3, "c", 0.5)],
                                 "id long, payload string, score double")
    v2 = tbl.append(wide, merge_schema=True)
    with open(tbl._log_path(v2)) as f:
        rec2 = _json.load(f)
    assert "schema" in rec2  # evolving commit carries the new schema


def test_checkpoint_carries_schema(spark, tmp_path):
    import json as _json

    tbl = _mk(spark, tmp_path, checkpoint_interval=2)
    tbl.create(_df(spark, [0], "a"))
    tbl.append(
        spark.createDataFrame([(1, "b", 1.0)],
                              "id long, payload string, score double"),
        merge_schema=True)
    # narrow batch, no schema CHANGE → blind commit; v2 → checkpoint
    tbl.append(_df(spark, [2], "c"), merge_schema=True)
    with open(tbl._log_path(2, checkpoint=True)) as f:
        cp = _json.load(f)
    assert "schema" in cp
    got = tbl.table_schema()
    assert [f.name for f in got.fields] == ["id", "payload", "score"]


def test_bloom_cols_require_int_or_string(spark, tmp_path):
    tbl = VersionedTable(spark, str(tmp_path / "btbl"),
                         key_cols=["id"], bloom_cols=["score"])
    df = spark.createDataFrame([(1, 0.5)], "id long, score double")
    with pytest.raises(TypeError, match="integer/string"):
        tbl.create(df)


# ------------------------------------------------------ RESTORE (r4)


def test_restore_rolls_back_contents_and_schema(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5), "a"))                      # v0
    tbl.append(_df(spark, range(5, 8), "b"))                   # v1
    tbl.append(
        spark.createDataFrame([(9, "c-9", 1.0)],
                              "id long, payload string, score double"),
        merge_schema=True)                                     # v2 (evolved)
    v3 = tbl.restore(1)
    assert v3 == 3
    assert _ids(tbl) == list(range(8))
    # schema rolled back too: the evolved column is gone
    assert [f.name for f in tbl.read().schema.fields] == ["id", "payload"]
    # history is append-only: the bad era is still time-travelable
    assert tbl.history()[-1]["op"] == "restore"
    assert _ids(tbl, version=2) == list(range(8)) + [9]
    # restore is metadata-only: v1 and v3 list the same files
    assert tbl._snapshot(1).files.keys() == tbl._snapshot(3).files.keys()


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(3), "a"))                      # v0
    tbl.overwrite(_df(spark, range(10, 13), "b"))              # v1
    tbl.overwrite(_df(spark, range(20, 23), "c"))              # v2
    tbl.vacuum(retain_last=1)                                  # v0/v1 files die
    with pytest.raises(FileNotFoundError, match="vacuum"):
        tbl.restore(0)
    # current contents untouched by the failed restore
    assert _ids(tbl) == [20, 21, 22]


def test_merge_prunes_on_any_composite_key_column(spark, tmp_path):
    """Composite-key pruning: a file disjoint on the SECOND key column
    is skipped even when the leading column fully overlaps."""
    tbl = VersionedTable(spark, str(tmp_path / "ctbl"),
                         key_cols=["region", "id"])
    a = spark.createDataFrame(
        [(1, i, f"a-{i}") for i in range(100)],
        "region long, id long, payload string").repartition(1)
    b = spark.createDataFrame(
        [(1, i, f"b-{i}") for i in range(1000, 1100)],
        "region long, id long, payload string").repartition(1)
    tbl.create(a)
    tbl.append(b)
    # batch: same region as both files, ids only in file b's range
    ups = spark.createDataFrame([(1, 1050, "upd")],
                                "region long, id long, payload string")
    tbl.merge(ups)
    commit = json.load(open(tbl._log_path(tbl.latest_version())))
    assert len(commit["remove"]) == 1, (
        "leading key overlaps both files; the id column must prune "
        "file a")
    got = {r["id"]: r["payload"] for r in tbl.read().collect()}
    assert got[1050] == "upd" and got[0] == "a-0" and len(got) == 200


# ------------------------------------------- deletion vectors (r4 MoR)


def test_delete_mor_tombstones_without_rewrite(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(10), "a").repartition(1))
    files_before = set(tbl._snapshot().files)
    v1 = tbl.delete_mor("id IN (3, 7)")
    # metadata-only commit: same files, no adds/removes, dv recorded
    commit = json.load(open(tbl._log_path(v1)))
    assert commit["add"] == [] and commit["remove"] == []
    assert set(tbl._snapshot().files) == files_before
    assert sum(len(v) for v in tbl._snapshot().dvs.values()) == 2
    assert _ids(tbl) == [0, 1, 2, 4, 5, 6, 8, 9]
    # time travel BEFORE the delete still sees every row
    assert _ids(tbl, version=0) == list(range(10))
    # vectors accumulate across commits
    tbl.delete_mor("id = 5")
    assert _ids(tbl) == [0, 1, 2, 4, 6, 8, 9]
    # deleting already-deleted rows is a no-op commit
    v3 = tbl.delete_mor("id = 3")
    commit3 = json.load(open(tbl._log_path(v3)))
    assert "dv" not in commit3


def test_delete_mor_matches_vtable_reader(spark, tmp_path):
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(20), "a").repartition(2))
    tbl.delete_mor("id % 4 = 1")
    register_vtable_source(spark)
    via_fmt = sorted(
        r["id"] for r in
        spark.read.format("vtable").load(tbl.path).collect())
    assert via_fmt == _ids(tbl)
    assert 1 not in via_fmt and 5 not in via_fmt and len(via_fmt) == 15


def test_delete_mor_rewrites_materialize_vectors(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(10), "a").repartition(1))
    tbl.delete_mor("id = 2")
    # merge touches the file: the rewrite must NOT resurrect id=2
    tbl.merge(spark.createDataFrame([(4, "upd")],
                                    "id long, payload string"))
    assert _ids(tbl) == [0, 1, 3, 4, 5, 6, 7, 8, 9]
    assert tbl._snapshot().dvs == {}  # vector materialized away
    # compact likewise
    tbl2 = VersionedTable(spark, str(tmp_path / "t2"), key_cols=["id"])
    tbl2.create(_df(spark, range(5), "a"))
    tbl2.append(_df(spark, range(5, 10), "b"))
    tbl2.delete_mor("id IN (0, 9)")
    tbl2.compact()
    assert _ids(tbl2) == list(range(1, 9))
    assert tbl2._snapshot().dvs == {}


def test_delete_mor_restore_and_checkpoint(spark, tmp_path):
    tbl = _mk(spark, tmp_path, checkpoint_interval=2)
    tbl.create(_df(spark, range(8), "a").repartition(1))   # v0
    tbl.delete_mor("id = 1")                               # v1
    tbl.append(_df(spark, [100], "b"))                     # v2 -> checkpoint
    cp = json.load(open(tbl._log_path(2, checkpoint=True)))
    assert cp.get("dvs"), "checkpoint must persist deletion vectors"
    assert _ids(tbl) == [0, 2, 3, 4, 5, 6, 7, 100]
    # restore to v0: the vector rolls back, the row returns
    tbl.restore(0)
    assert _ids(tbl) == list(range(8))
    # guard: oversized MoR deletes are refused loudly
    with pytest.raises(ValueError, match="max_delete_rows"):
        tbl.delete_mor("id >= 0", max_delete_rows=2)


def test_delete_mor_cap_enforced_before_collect(spark, tmp_path):
    """The cap must bound what the driver materializes, not just check
    after the fact: a matches-everything predicate on a table bigger
    than the cap refuses without collecting the full match set. The
    limit(cap+1) plan is asserted by patching collect to count rows."""
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(5_000), "a"))
    collected_sizes = []
    try:  # PySpark 4: the concrete class lives in sql.classic
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:
        from pyspark.sql import DataFrame as _DF
    orig = _DF.collect

    def counting_collect(self):
        out = orig(self)
        collected_sizes.append(len(out))
        return out

    _DF.collect = counting_collect
    try:
        with pytest.raises(ValueError, match="max_delete_rows"):
            tbl.delete_mor("id >= 0", max_delete_rows=10)
    finally:
        _DF.collect = orig
    # only cap+1 rows ever reached the driver, not all 5000
    assert collected_sizes and max(collected_sizes) == 11


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """delete('x > 5') on a file that also holds x-IS-NULL rows must
    keep those rows (predicate NULL ≠ TRUE) — same semantics as
    delete_mor, which only tombstones predicate-TRUE rows."""
    tbl = VersionedTable(spark, str(tmp_path / "tbln"), key_cols=["id"])
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3), (4, None), (5, 99)],
        "id long, x int").repartition(1)
    tbl.create(df)
    tbl.delete("x > 5")
    assert _ids(tbl) == [2, 3, 4]
    # and the MoR path agrees on the same predicate shape
    tbl2 = VersionedTable(spark, str(tmp_path / "tbln2"), key_cols=["id"])
    tbl2.create(df)
    tbl2.delete_mor("x > 5")
    assert _ids(tbl2) == [2, 3, 4]


def test_append_schema_race_pins_version_first(spark, tmp_path):
    """Regression for the read-order race: append() must sample the
    expected version BEFORE deriving the schema, so a concurrent
    evolving append landing between the two reads triggers a
    CommitConflict retry instead of committing a stale schema that
    hides the other writer's column."""
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(4), "a"))
    interposed = {"done": False}
    orig_schema = VersionedTable.table_schema

    def racing_table_schema(self, version=None):
        out = orig_schema(self, version)
        if not interposed["done"]:
            # another writer's evolving append lands AFTER this
            # writer read the schema (and, pre-fix, BEFORE it sampled
            # latest_version) — the classic lost-column window
            interposed["done"] = True
            other = VersionedTable(spark, self.path, key_cols=["id"])
            other.append(
                spark.createDataFrame([(100, "o-100", 1.5)],
                                      "id long, payload string, w double"),
                merge_schema=True)
        return out

    VersionedTable.table_schema = racing_table_schema
    try:
        tbl.append(
            spark.createDataFrame([(200, "n-200", True)],
                                  "id long, payload string, flag boolean"),
            merge_schema=True)
    finally:
        VersionedTable.table_schema = orig_schema
    final = tbl.table_schema()
    names = {f.name for f in final.fields}
    # BOTH writers' evolved columns are visible
    assert {"w", "flag"} <= names
    got = {r["id"]: (r["w"], r["flag"]) for r in tbl.read().collect()}
    assert got[100][0] == 1.5 and got[200][1] is True


def test_simhash_portable_rejects_dead_bits(spark):
    from pandas_rust_algos_spark.operators import dedup as dd
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="60"):
        dd.simhash(df, bits=64, hash_mode="portable")
    assert dd.simhash(df, bits=32, hash_mode="portable").count() == 1


# ------------------------------------------- MoR UPDATE (r5)


def test_update_mor_one_commit_no_rewrite(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(10), "a").repartition(1))
    files_before = set(tbl._snapshot().files)
    v1 = tbl.update_mor("id IN (3, 7)", {"payload": "payload || '-upd'"})
    commit = json.load(open(tbl._log_path(v1)))
    # ONE commit: old rows tombstoned (dv), updated copies appended,
    # nothing removed/rewritten
    assert commit["remove"] == [] and len(commit["add"]) >= 1
    assert sum(len(v) for v in commit["dv"].values()) == 2
    assert files_before <= set(tbl._snapshot().files)
    got = _payloads(tbl)
    assert got[3] == "a-3-upd" and got[7] == "a-7-upd"
    assert got[0] == "a-0" and len(got) == 10
    # time travel BEFORE the update sees the old values
    assert _payloads(tbl, version=0)[3] == "a-3"
    # vtable reader agrees
    from pandas_rust_algos_spark.sources.vtable_source import (
        register_vtable_source,
    )

    register_vtable_source(spark)
    via_fmt = {r["id"]: r["payload"] for r in
               spark.read.format("vtable").load(tbl.path).collect()}
    assert via_fmt == got


def test_update_mor_set_semantics_and_guards(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "id long, v long"))
    # SET evaluates against the OLD row and casts to the committed type
    tbl.update_mor("id < 3", {"v": "v + id"})
    got = {r["id"]: r["v"] for r in tbl.read().collect()}
    assert got == {i: (i * 10 + i if i < 3 else i * 10) for i in range(8)}
    # no-op predicate → clean no-op commit
    v = tbl.update_mor("id = 999", {"v": "0"})
    assert "dv" not in json.load(open(tbl._log_path(v)))
    assert {r["id"]: r["v"] for r in tbl.read().collect()} == got
    # schema is never evolved by UPDATE
    with pytest.raises(ValueError, match="outside the committed schema"):
        tbl.update_mor("id = 1", {"brand_new": "1"})
    # repeated updates stack (dv accumulates, latest copy wins)
    tbl.update_mor("id = 0", {"v": "v + 1"})
    tbl.update_mor("id = 0", {"v": "v + 1"})
    assert {r["id"]: r["v"] for r in tbl.read().collect()}[0] == 2
    # row count never drifts
    assert tbl.read().count() == 8


def test_update_mor_multi_column_sees_old_row(spark, tmp_path):
    """Every SET expression evaluates against the PRE-update row —
    the classic swap {'a':'b','b':'a'} must actually swap, not
    duplicate (regression for the sequential-withColumn bug where a
    later expression saw an earlier assignment's new value)."""
    tbl = _mk(spark, tmp_path)
    tbl.create(spark.createDataFrame(
        [(i, i * 10, i * 100) for i in range(4)],
        "id long, a long, b long"))
    tbl.update_mor("id >= 2", {"a": "b", "b": "a"})
    got = {r["id"]: (r["a"], r["b"]) for r in tbl.read().collect()}
    assert got == {0: (0, 0), 1: (10, 100),
                   2: (200, 20), 3: (300, 30)}


def test_update_mor_cap_enforced_before_collect(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(50), "a"))
    with pytest.raises(ValueError, match="max_update_rows"):
        tbl.update_mor("id >= 0", {"payload": "'x'"}, max_update_rows=10)
    # nothing committed by the refused op
    assert _payloads(tbl)[0] == "a-0" and tbl.read().count() == 50


def test_update_mor_compaction_materializes(spark, tmp_path):
    tbl = _mk(spark, tmp_path)
    tbl.create(_df(spark, range(12), "a").repartition(3))
    tbl.update_mor("id % 3 = 0", {"payload": "'u-' || CAST(id AS STRING)"})
    assert len(tbl._snapshot().dvs) > 0
    tbl.compact(target_file_bytes=1 << 30)
    # rewrite cleared the vectors; values survive
    assert tbl._snapshot().dvs == {}
    got = _payloads(tbl)
    assert got[3] == "u-3" and got[4] == "a-4" and len(got) == 12
