"""Persistent IVF index (operators/ann_index.py): recall vs brute
force, storage partition pruning (the probe scan must open ONLY probed
cell directories), rebuild determinism, and arg validation."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators.ann_index import (
    build_ivf_index, ivf_index_query,
)
from pandas_rust_algos_spark.operators.similarity import cosine_topk


def _corpus(spark, n=400, d=8):
    # deterministic clustered-ish vectors: 4 coarse directions + jitter
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda j: (
                F.when((F.col("id") % 4) == (j % 4), F.lit(10.0))
                .otherwise(F.lit(0.0))
                + F.sin(F.col("id") * (j + 1))
            ),
        ).alias("embedding"),
    )


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    meta = build_ivf_index(_corpus(spark), path, n_cells=8, seed=7)
    return path, meta


def test_layout_and_meta(spark, index):
    path, meta = index
    assert meta["n_cells"] == 8 and meta["dims"] == 8
    cells = [d for d in os.listdir(os.path.join(path, "cells"))
             if d.startswith("cell=")]
    assert 1 < len(cells) <= 8
    total = spark.read.parquet(os.path.join(path, "cells")).count()
    assert total == 400


def test_recall_vs_bruteforce(spark, index):
    path, _ = index
    queries = _corpus(spark).where(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(_corpus(spark), queries, k=5)
    got = ivf_index_query(spark, path, queries, n_probe=4, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    g = {(r["query_id"], r["id"]) for r in got.collect()}
    recall = len(e & g) / len(e)
    assert recall >= 0.6, recall


def test_partition_pruning_on_probed_cells(spark, index):
    path, _ = index
    queries = _corpus(spark).limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_index_query(spark, path, queries, n_probe=2, k=3)
    # the probed-cell filter must reach the scan as a PARTITION filter
    # (file-listing-time pruning), not a post-scan row filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    # and the filter is selective: at most the 2 probed cell values
    in_vals = re.search(r"cell#\d+L? IN \(([^)]*)\)", m.group(1))
    assert in_vals and len(in_vals.group(1).split(",")) <= 2, m.group(1)


def test_rebuild_is_deterministic(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    build_ivf_index(_corpus(spark), a, n_cells=6, seed=11)
    build_ivf_index(_corpus(spark), b, n_cells=6, seed=11)
    ca = spark.read.parquet(os.path.join(a, "centroids.parquet")) \
        .orderBy("cell").collect()
    cb = spark.read.parquet(os.path.join(b, "centroids.parquet")) \
        .orderBy("cell").collect()
    assert [r["centroid"] for r in ca] == [r["centroid"] for r in cb]
    qa = spark.read.parquet(os.path.join(a, "cells")) \
        .select("id", "cell").collect()
    qb = spark.read.parquet(os.path.join(b, "cells")) \
        .select("id", "cell").collect()
    assert sorted(map(tuple, qa)) == sorted(map(tuple, qb))


def test_bad_probe_count(spark, index):
    path, _ = index
    q = _corpus(spark).limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError):
        ivf_index_query(spark, path, q, n_probe=99)


def test_append_assigns_to_frozen_cells(spark, tmp_path):
    from pandas_rust_algos_spark.operators.ann_index import append_ivf_index

    path = str(tmp_path / "idx")
    full = _corpus(spark, n=300)
    build_ivf_index(full.where(F.col("vec_id") % 2 == 0), path,
                    n_cells=8, seed=7)
    cells_before = {d for d in os.listdir(os.path.join(path, "cells"))
                    if d.startswith("cell=")}
    append_ivf_index(full.where(F.col("vec_id") % 2 == 1), path)
    cells_after = {d for d in os.listdir(os.path.join(path, "cells"))
                   if d.startswith("cell=")}
    # the frozen quantizer can only route into existing cells
    assert cells_after == cells_before
    data = spark.read.parquet(os.path.join(path, "cells"))
    assert data.count() == 300
    assert data.select("id").distinct().count() == 300


def test_append_query_equals_bruteforce_at_full_probe(spark, tmp_path):
    from pandas_rust_algos_spark.operators.ann_index import append_ivf_index

    path = str(tmp_path / "idx")
    full = _corpus(spark, n=200)
    build_ivf_index(full.where(F.col("vec_id") % 2 == 0), path,
                    n_cells=4, seed=7)
    append_ivf_index(full.where(F.col("vec_id") % 2 == 1), path)
    queries = full.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_index_query(spark, path, queries, n_probe=4, k=3)
    want = cosine_topk(full, queries, k=3,
                       id_col="vec_id", query_id_col="query_id")
    g = {(r["query_id"], r["rank"]): r["id"] for r in got.collect()}
    w = {(r["query_id"], r["rank"]): r["vec_id"] for r in want.collect()}
    assert g == w


def test_append_keeps_partition_pruning(spark, tmp_path):
    from pandas_rust_algos_spark.operators.ann_index import append_ivf_index

    path = str(tmp_path / "idx")
    full = _corpus(spark, n=300)
    build_ivf_index(full.where(F.col("vec_id") % 2 == 0), path,
                    n_cells=8, seed=7)
    append_ivf_index(full.where(F.col("vec_id") % 2 == 1), path)
    queries = full.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_index_query(spark, path, queries, n_probe=2, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    in_vals = re.search(r"cell#\d+L? IN \(([^)]*)\)", m.group(1))
    assert in_vals and len(in_vals.group(1).split(",")) <= 2, m.group(1)


def test_stream_append_equals_batch_append_and_replays(spark, tmp_path):
    """Streaming IVF ingest: (1) a drained stream's index state equals
    a batch append of the same vectors (cell assignment is a pure
    function of the frozen centroids); (2) replaying the whole stream
    with an identically-batched fresh checkpoint rewrites, not
    duplicates (dynamic partition overwrite on batch_id); (3) queries
    through the unified read path at full probe equal brute force over
    the whole corpus."""
    from pandas_rust_algos_spark.operators.ann_index import (
        _read_cells, append_ivf_index, stream_append_ivf_index,
    )

    full = _corpus(spark, n=200)
    even = full.where(F.col("vec_id") % 2 == 0)
    odd = full.where(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    odd.coalesce(2).write.parquet(landing)

    def drain(path, ckpt):
        stream = (spark.readStream.schema(odd.schema)
                  .option("maxFilesPerTrigger", 1).parquet(landing))
        q = stream_append_ivf_index(
            path, stream, checkpoint=str(tmp_path / ckpt))
        assert len(q.recentProgress) <= 2

    path_s = str(tmp_path / "idx_s")
    build_ivf_index(even, path_s, n_cells=4, seed=7)
    drain(path_s, "ckpt1")

    path_b = str(tmp_path / "idx_b")
    build_ivf_index(even, path_b, n_cells=4, seed=7)
    append_ivf_index(odd, path_b)

    # (1) drained state ≡ batch append state (same (id, cell) rows)
    got = sorted((r["id"], r["cell"]) for r in
                 _read_cells(spark, path_s).collect())
    want = sorted((r["id"], r["cell"]) for r in
                  _read_cells(spark, path_b).collect())
    assert got == want and len(got) == 200

    # (2) identically-batched replay rewrites its own partitions
    drain(path_s, "ckpt2")
    assert _read_cells(spark, path_s).count() == 200

    # (3) full-probe query through the union layout ≡ brute force
    queries = full.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got_q = ivf_index_query(spark, path_s, queries, n_probe=4, k=3)
    want_q = cosine_topk(full, queries, k=3,
                         id_col="vec_id", query_id_col="query_id")
    g = {(r["query_id"], r["rank"]): r["id"] for r in got_q.collect()}
    w = {(r["query_id"], r["rank"]): r["vec_id"] for r in want_q.collect()}
    assert g == w


def test_stream_append_keeps_partition_pruning(spark, tmp_path):
    """The probed-cell filter must prune BOTH layouts at file-listing
    time: every file the plan opens — batch ``cells`` or streamed
    ``cells_stream/batch_id=*`` — lies in a probed ``cell=`` dir."""
    from pandas_rust_algos_spark.operators.ann_index import (
        stream_append_ivf_index,
    )

    full = _corpus(spark, n=300)
    odd = full.where(F.col("vec_id") % 2 == 1)
    landing = str(tmp_path / "landing")
    odd.coalesce(1).write.parquet(landing)
    path = str(tmp_path / "idx")
    build_ivf_index(full.where(F.col("vec_id") % 2 == 0), path,
                    n_cells=8, seed=7)
    stream = spark.readStream.schema(odd.schema).parquet(landing)
    q = stream_append_ivf_index(
        path, stream, checkpoint=str(tmp_path / "ckpt"))
    assert len(q.recentProgress) <= 1
    queries = full.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_index_query(spark, path, queries, n_probe=2, k=3)
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    with_cell = [f for f in filters if "cell" in f]
    # both scans (cells + cells_stream) carry the cell partition filter
    assert len(with_cell) >= 2, plan[:3000]
    # and each is selective: at most the 2 probed cell values
    for f in with_cell:
        in_vals = re.search(r"cell#\d+L? IN \(([^)]*)\)", f)
        assert in_vals and len(in_vals.group(1).split(",")) <= 2, f


def test_ivfpq_index_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted fixed-point IVF+PQ index: (1) the disk read path
    is BIT-IDENTICAL to the in-memory composed op with the same
    params (storage layout, cell routing, ADC all value-equal), and
    (2) a partial probe reads only the probed cell= directories of
    the CODE table (real storage partition pruning)."""
    import re

    from pandas_rust_algos_spark.operators.ann_index import (
        build_ivfpq_index_fixed,
        ivfpq_index_query_fixed,
    )
    from pandas_rust_algos_spark.operators.ann_portable import (
        ivfpq_topk_fixed,
    )

    path = str(tmp_path / "ivfpq")
    full = _corpus(spark)
    build_ivfpq_index_fixed(full, path, n_cells=8, m=4, k_codes=4,
                            iters=1)
    queries = full.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {(r["query_id"], r["id"], r["approx_dist_sq"], r["rank"])
           for r in ivfpq_index_query_fixed(
               spark, path, queries, n_probe=3, k=4).collect()}
    want = {(r["query_id"], r["vec_id"], r["approx_dist_sq"],
             r["rank"])
            for r in ivfpq_topk_fixed(
                full, queries, k=4, n_cells=8, n_probe=3, m=4,
                k_codes=4, iters=1).collect()}
    assert got == want and len(got) > 0

    one = full.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivfpq_index_query_fixed(spark, path, one, n_probe=2, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    in_vals = re.search(r"cell#\d+L? IN \(([^)]*)\)", m.group(1))
    assert in_vals and len(in_vals.group(1).split(",")) <= 2, m.group(1)

    # (3) persisted rerank path == in-memory rerank path (which is
    # itself oracled via the ann_ivfpq_rerank_topk gate): exact
    # shortlist re-scores against the raw vector table bit-match
    got_rr = {(r["query_id"], r["id"], r["dist_sq"], r["rank"])
              for r in ivfpq_index_query_fixed(
                  spark, path, queries, n_probe=3, k=4,
                  rerank_k=10, vectors=full).collect()}
    want_rr = {(r["query_id"], r["vec_id"], r["dist_sq"], r["rank"])
               for r in ivfpq_topk_fixed(
                   full, queries, k=4, n_cells=8, n_probe=3, m=4,
                   k_codes=4, iters=1, rerank_k=10).collect()}
    assert got_rr == want_rr and len(got_rr) > 0

    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_index_query_fixed(spark, path, one, n_probe=9)
    with pytest.raises(ValueError, match="divisible"):
        build_ivfpq_index_fixed(full, path + "2", m=3)
    with pytest.raises(ValueError, match="rerank_k"):
        ivfpq_index_query_fixed(spark, path, one, k=5, rerank_k=2,
                                vectors=full)
    with pytest.raises(ValueError, match="vector table"):
        ivfpq_index_query_fixed(spark, path, one, k=3, rerank_k=10)
