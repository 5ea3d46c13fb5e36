"""Generic format sources/sinks: CSV/JSON/ORC roundtrips with explicit
schemas, the no-inference contract, and land-and-convert."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.sources import (
    convert_to_parquet,
    load_table,
    read_source,
    write_sink,
)

SCHEMA = "n_nationkey long, n_name string, n_regionkey long"


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / f"nation_{fmt}")
    write_sink(src, path, fmt)
    got = read_source(spark, path, fmt,
                      schema=SCHEMA if fmt in ("csv", "json") else None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, src.collect()))


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_text_reads_require_schema(spark, tmp_path, fmt):
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, str(tmp_path), fmt)


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="fmt must be one of"):
        read_source(spark, str(tmp_path), "avro")


def test_convert_to_parquet_enables_pushdown(spark, sf_dir, tmp_path):
    """Landed CSV converted once; the converted scan must show parquet
    PushedFilters for a predicate (the reason the conversion exists)."""
    src = _nation(spark, sf_dir)
    csv_path = str(tmp_path / "landed_csv")
    write_sink(src, csv_path, "csv")
    pq = convert_to_parquet(
        spark, csv_path, "csv", SCHEMA, str(tmp_path / "converted"))
    assert sorted(map(tuple, pq.collect())) == sorted(map(tuple, src.collect()))
    plan = pq.where(F.col("n_regionkey") == 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "n_regionkey" in plan.split("PushedFilters")[1][:200]


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_orc")
    write_sink(src, path, "orc")
    plan = read_source(spark, path, "orc").where(
        F.col("n_nationkey") > 10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PushedFilters: [" in plan


def test_partitioned_csv_sink(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_by_region")
    write_sink(src, path, "csv", partition_by=["n_regionkey"])
    got = read_source(
        spark, path, "csv",
        schema="n_nationkey long, n_name string",
        basePath=path,
    )
    # partition column comes back from directory names
    assert "n_regionkey" in got.columns
    assert got.count() == src.count()


def test_sql_face_matches_dataframe_face(spark, sf_dir):
    """spark.sql over registered views must plan the same scans (with
    pushdown) as the DataFrame face and return identical results."""
    from pandas_rust_algos_spark.sources import sql

    got = sql(spark, sf_dir, """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem WHERE l_quantity < 10
        GROUP BY l_returnflag
    """)
    li = load_table(spark, sf_dir, "lineitem")
    want = (li.where(F.col("l_quantity") < 10)
            .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters")[1][:250]


def test_land_with_quarantine_splits_and_preserves(spark, tmp_path):
    """Malformed lines and type-coercion failures land in quarantine
    with their raw text; clean rows round-trip exactly; the clean
    filter is a pushdown-backed parquet read (no re-parse)."""
    import os

    from pandas_rust_algos_spark.sources import land_with_quarantine

    rows = [(1, "en", 10), (2, "fr", 20), (3, "en", 30)]
    src = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long")
    drop = str(tmp_path / "drop")
    write_sink(src, drop, "json")
    planted = [
        '{"doc_id": 99, "lang": "xx"',                # truncated
        "garbage",                                     # not JSON
        '{"doc_id": "nope", "lang": "yy", "n_chars": 5}',  # bad type
    ]
    with open(os.path.join(drop, "part-zz-bad.json"), "w") as fh:
        fh.write("\n".join(planted) + "\n")

    clean, quar = land_with_quarantine(
        spark, drop, "json", "doc_id long, lang string, n_chars long",
        str(tmp_path / "landed"))
    assert sorted(map(tuple, clean.collect())) == sorted(rows)
    q = quar.collect()
    assert len(q) == 3
    # the raw text of every rejected line is preserved for audit/replay
    raws = {r["_corrupt_record"] for r in q}
    assert raws == set(planted)
    # type-failure rows keep the fields that DID parse
    byraw = {r["_corrupt_record"]: r for r in q}
    assert byraw[planted[2]]["lang"] == "yy"
    assert byraw[planted[2]]["doc_id"] is None
    # clean read is a parquet filter with the corrupt-IS-NULL pushdown
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()
    assert "PushedFilters" in plan


def test_land_with_quarantine_contracts(spark, tmp_path):
    from pandas_rust_algos_spark.sources import land_with_quarantine

    with pytest.raises(ValueError, match="text formats"):
        land_with_quarantine(spark, "x", "parquet", SCHEMA, "y")
    with pytest.raises(ValueError, match="already contains"):
        land_with_quarantine(
            spark, "x", "json",
            "a long, _corrupt_record string", "y")


def test_stream_land_with_quarantine_matches_batch(spark, tmp_path):
    """Drained streaming landing ≡ batch landing (same clean rows,
    same quarantined raw lines); a full replay with a fresh
    checkpoint rewrites its batch dirs instead of duplicating."""
    import os

    from pandas_rust_algos_spark.sources import (
        land_with_quarantine,
        stream_land_with_quarantine,
    )

    rows = [(i, "en" if i % 2 else "fr", 10 * i) for i in range(1, 9)]
    src = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long")
    drop = str(tmp_path / "drop")
    write_sink(src.repartition(3), drop, "json")
    with open(os.path.join(drop, "part-bad.json"), "w") as fh:
        fh.write('{"doc_id": 1, "lang"\nnope\n')

    schema = "doc_id long, lang string, n_chars long"

    def drain(dest, ckpt):
        q = stream_land_with_quarantine(
            spark, drop, "json", schema, dest,
            checkpoint=str(tmp_path / ckpt), maxFilesPerTrigger="1")
        assert len(q.recentProgress) <= 4

    dest_s = str(tmp_path / "landed_stream")
    drain(dest_s, "ck1")
    clean_b, quar_b = land_with_quarantine(
        spark, drop, "json", schema, str(tmp_path / "landed_batch"))

    landed = spark.read.parquet(dest_s)
    clean_s = landed.where(landed["_corrupt_record"].isNull()).select(
        "doc_id", "lang", "n_chars")
    assert sorted(map(tuple, clean_s.collect())) == \
        sorted(map(tuple, clean_b.collect()))
    quar_s = {r["_corrupt_record"] for r in
              landed.where(landed["_corrupt_record"].isNotNull())
              .collect()}
    assert quar_s == {r["_corrupt_record"] for r in quar_b.collect()}
    n = landed.count()
    drain(dest_s, "ck2")  # full replay, fresh checkpoint
    assert spark.read.parquet(dest_s).count() == n
