"""Similarity-search tests: brute-force cosine against a NumPy oracle,
and LSH recall measured against the brute-force result (the standard
ANN quality metric — LSH trades recall for scan fraction)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import similarity as sim
from pandas_rust_algos_spark.sources import load_table

K = 5
N_QUERIES = 10


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def numpy_topk(emb_pdf, k=K):
    ids = emb_pdf["vec_id"].to_numpy()
    M = np.stack(emb_pdf["embedding"].to_numpy()).astype("float64")
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for qi in range(N_QUERIES):
        qrow = np.where(ids == qi)[0][0]
        sims = np.round(M @ M[qrow], 6)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qi),
            key=lambda i: (-sims[i], ids[i]),
        )
        out[qi] = [int(ids[i]) for i in order[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb, queries):
    got = {}
    for r in sim.cosine_topk(emb, queries, k=K).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    want = numpy_topk(emb.toPandas())
    for qid, pairs in got.items():
        ordered = [v for _, v in sorted(pairs)]
        assert ordered == want[qid], f"query {qid}"


def test_lsh_recall_vs_bruteforce(spark, emb, queries):
    brute = numpy_topk(emb.toPandas())
    approx = {}
    for r in sim.lsh_topk(emb, queries, k=K).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(approx.get(q, set()) & set(brute[q])) / K for q in brute
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 16 hyperplanes / 2 bands of 8 bits: recall well above random
    # (random K-of-N would be ~K/N = 0.25% at N=2000)
    assert mean_recall >= 0.2, f"mean recall {mean_recall:.2f}"


def test_lsh_sims_are_exact_within_candidates(spark, emb, queries):
    # LSH approximates the candidate set, never the similarity itself:
    # every (query, candidate) sim must equal the brute-force cosine
    brute = {
        (r["query_id"], r["vec_id"]): r["sim"]
        for r in sim.cosine_topk(emb, queries, k=10**6).collect()
    }
    for r in sim.lsh_topk(emb, queries, k=K).collect():
        assert brute[(r["query_id"], r["vec_id"])] == r["sim"]


def test_ivf_recall_vs_bruteforce(spark, emb, queries):
    brute = numpy_topk(emb.toPandas())
    approx = {}
    for r in sim.ivf_topk(emb, queries, k=K, n_cells=16, n_probe=4).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(approx.get(q, set()) & set(brute[q])) / K for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # probing 4 of 16 data-adapted cells: recall far above the 25%
    # corpus fraction scanned
    assert mean_recall >= 0.4, f"mean recall {mean_recall:.2f}"


def numpy_dot_topk(emb_pdf, k=K):
    # PQ approximates the raw inner product (no normalization) — its
    # truth set is the dot-product ranking, not the cosine one
    ids = emb_pdf["vec_id"].to_numpy()
    M = np.stack(emb_pdf["embedding"].to_numpy()).astype("float64")
    out = {}
    for qi in range(N_QUERIES):
        qrow = np.where(ids == qi)[0][0]
        sims = M @ M[qrow]
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qi),
            key=lambda i: (-sims[i], ids[i]),
        )
        out[qi] = [int(ids[i]) for i in order[:k]]
    return out


def test_pq_recall_vs_bruteforce(spark, emb, queries):
    brute = numpy_dot_topk(emb.toPandas())
    approx = {}
    for r in sim.pq_topk(emb, queries, k=K, m=8, k_codes=16).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(approx.get(q, set()) & set(brute[q])) / K for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # 8 subspaces × 16 codes over 64 dims (32-bit codes per vector,
    # a 32× shrink), codes only. KMeans cell shapes vary with
    # partitioning, so the floor is loose — but still >15× above the
    # random baseline (K/500 = 1%); the production-quality contract
    # is the reranked path below.
    assert mean_recall >= 0.15, f"mean recall {mean_recall:.2f}"


def test_pq_rerank_recovers_recall(spark, emb, queries):
    brute = numpy_dot_topk(emb.toPandas())
    approx = {}
    out = sim.pq_topk(emb, queries, k=K, m=8, k_codes=16, rerank=100)
    for r in out.collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(approx.get(q, set()) & set(brute[q])) / K for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # exact re-rank of a 100-candidate (20%) shortlist: near-exact
    assert mean_recall >= 0.8, f"mean recall {mean_recall:.2f}"
    with pytest.raises(ValueError, match="rerank"):
        sim.pq_topk(emb, queries, k=10, rerank=5)


def test_ivfpq_recall_and_rerank(spark, emb, queries):
    """The composed IVF+PQ path (coarse cells prune, residual-PQ ADC
    scores probed cells only): codes-only recall beats the corpus
    fraction scanned, and the exact rerank pass restores near-exact
    quality — the float production default whose oracle twin is
    ann_portable.ivfpq_topk_fixed."""
    brute = numpy_dot_topk(emb.toPandas())
    approx = {}
    out = sim.ivfpq_topk(
        emb, queries, k=K, n_cells=16, n_probe=6, m=8, k_codes=16)
    for r in out.collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(approx.get(q, set()) & set(brute[q])) / K for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # codes-only quality is ADC-fidelity-bound, not pruning-bound
    # (probing 8/16 cells measures the same 0.20 as 6/16 on this
    # near-orthogonal synthetic table): same 0.15 floor as the
    # full-scan pq_topk codes-only test, despite scanning only ~38%
    # of the code table — the pruning is nearly free
    assert mean_recall >= 0.15, f"mean recall {mean_recall:.2f}"

    rer = {}
    out2 = sim.ivfpq_topk(
        emb, queries, k=K, n_cells=16, n_probe=6, m=8, k_codes=16,
        rerank=100)
    for r in out2.collect():
        rer.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls2 = [len(rer.get(q, set()) & set(brute[q])) / K for q in brute]
    mean2 = sum(recalls2) / len(recalls2)
    assert mean2 >= mean_recall - 1e-9
    assert mean2 >= 0.5, f"reranked mean recall {mean2:.2f}"

    with pytest.raises(ValueError, match="n_probe"):
        sim.ivfpq_topk(emb, queries, n_cells=4, n_probe=5)
    with pytest.raises(ValueError, match="rerank"):
        sim.ivfpq_topk(emb, queries, k=10, rerank=5)


def test_pq_validates_divisibility(spark, emb):
    with pytest.raises(ValueError, match="divisible"):
        sim.pq_train_codebooks(emb, m=7)


def test_ivf_broadcast_centroid_fallback_matches_literal(
        spark, emb, queries, monkeypatch):
    """Past _CENTROID_LITERAL_MAX doubles the centroid matrix rides as
    one broadcast row instead of a plan literal; the two plan shapes
    must return identical results (same centers, same argmax, same
    probe set — only the transport of the constants differs)."""
    def run():
        return sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in sim.ivf_topk(emb, queries, k=K,
                                  n_cells=8, n_probe=3).collect()
        )

    lit_path = run()
    monkeypatch.setattr(sim, "_CENTROID_LITERAL_MAX", 1)
    broadcast_path = run()
    assert broadcast_path == lit_path
    assert len(lit_path) > 0


# ------------------------------------------------- portable (fixed-point) ANN


def numpy_l2_topk(emb_pdf, k=K):
    """Truth set for the PORTABLE paths: exact euclidean ranking of
    the micro-unit-quantized vectors (the grid the ops live on)."""
    ids = emb_pdf["vec_id"].to_numpy()
    M = np.floor(
        np.stack(emb_pdf["embedding"].to_numpy()).astype("float64")
        * 1_000_000.0
    )
    out = {}
    for qi in range(N_QUERIES):
        qrow = np.where(ids == qi)[0][0]
        d = ((M - M[qrow]) ** 2).sum(axis=1)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qi),
            key=lambda i: (d[i], ids[i]),
        )
        out[qi] = [int(ids[i]) for i in order[:k]]
    return out


def test_ivf_fixed_recall_and_invariance(spark, emb, queries):
    from pandas_rust_algos_spark.operators import ann_portable as ap

    brute = numpy_l2_topk(emb.toPandas())
    got = {}
    rows = ap.ivf_topk_fixed(
        emb, queries, k=K, n_cells=8, n_probe=3, iters=2).collect()
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(got.get(q, set()) & set(brute[q])) / K for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"mean recall {mean_recall:.2f}"

    # partitioning-invariant: the whole point of the portable mode
    again = {(r["query_id"], r["vec_id"], r["dist_sq"], r["rank"])
             for r in ap.ivf_topk_fixed(
                 emb.repartition(7), queries.repartition(3),
                 k=K, n_cells=8, n_probe=3, iters=2).collect()}
    assert again == {(r["query_id"], r["vec_id"], r["dist_sq"],
                      r["rank"]) for r in rows}

    with pytest.raises(ValueError):
        ap.ivf_topk_fixed(emb, queries, n_cells=4, n_probe=5)


def test_pq_fixed_matches_duckdb_and_invariance(spark, emb, queries,
                                                 sf_dir):
    """The portable PQ contract is BIT-EXACT cross-engine replay (the
    52-point test corpus is far too small for a meaningful recall
    floor — ADC recall is exercised at gate scale by the driver and
    for the float path by test_pq_recall_vs_bruteforce)."""
    import duckdb

    from pandas_rust_algos_spark.operators import ann_portable as ap

    rows = ap.pq_topk_fixed(
        emb, queries, k=K, m=4, k_codes=8, iters=2).collect()
    got = {(r["query_id"], r["vec_id"], r["approx_dist_sq"], r["rank"])
           for r in rows}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    ora = con.execute(ap.sql_pq_topk_fixed(
        query_pred=f"vec_id < {N_QUERIES}", k=K, m=4, k_codes=8,
        iters=2, dims=64)).fetchall()
    con.close()
    assert got == {(int(a), int(b), int(c), int(d))
                   for a, b, c, d in ora}

    # partitioning-invariant
    again = {(r["query_id"], r["vec_id"], r["approx_dist_sq"],
              r["rank"])
             for r in ap.pq_topk_fixed(
                 emb.repartition(7), queries, k=K, m=4, k_codes=8,
                 iters=2).collect()}
    assert again == got

    with pytest.raises(ValueError):
        ap.pq_topk_fixed(emb, queries, m=7)  # 64 % 7 != 0


def test_ivfpq_fixed_matches_duckdb_and_invariance(spark, emb, sf_dir):
    """The composed IVF+PQ portable path bit-matches its DuckDB twin
    (coarse Lloyd + residual sub-codebooks + probed-cell residual ADC)
    and is partitioning-invariant — the property the
    ann_ivfpq_topk_portable gate proves at sf0.01 every round."""
    import duckdb

    from pandas_rust_algos_spark.operators import ann_portable as ap

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    rows = ap.ivfpq_topk_fixed(
        emb, q, k=3, n_cells=4, n_probe=2, m=4, k_codes=4,
        iters=1).collect()
    got = {(r["query_id"], r["vec_id"], r["approx_dist_sq"], r["rank"])
           for r in rows}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    ora = con.execute(ap.sql_ivfpq_topk_fixed(
        query_pred="vec_id < 5", k=3, n_cells=4, n_probe=2, m=4,
        k_codes=4, iters=1, dims=64)).fetchall()
    con.close()
    assert got == {(int(a), int(b), int(c), int(d))
                   for a, b, c, d in ora}

    again = {(r["query_id"], r["vec_id"], r["approx_dist_sq"],
              r["rank"])
             for r in ap.ivfpq_topk_fixed(
                 emb.repartition(7), q, k=3, n_cells=4, n_probe=2,
                 m=4, k_codes=4, iters=1).collect()}
    assert again == got

    with pytest.raises(ValueError):
        ap.ivfpq_topk_fixed(emb, q, n_cells=4, n_probe=5)
    with pytest.raises(ValueError):
        ap.ivfpq_topk_fixed(emb, q, m=7)  # 64 % 7 != 0


def test_ivf_fixed_matches_duckdb(spark, emb, sf_dir):
    """Cross-engine bit-match at test scale — the property the gate
    proves at sf0.01 every round."""
    import duckdb

    from pandas_rust_algos_spark.operators import ann_portable as ap

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = {(r["query_id"], r["vec_id"], r["dist_sq"], r["rank"])
           for r in ap.ivf_topk_fixed(
               emb, q, k=3, n_cells=4, n_probe=2, iters=1).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    ora = con.execute(ap.sql_ivf_topk_fixed(
        query_pred="vec_id < 5", k=3, n_cells=4, n_probe=2,
        iters=1)).fetchall()
    con.close()
    assert got == {(int(a), int(b), int(c), int(d))
                   for a, b, c, d in ora}


def test_hard_negative_topk(spark, emb, queries_with_label=None):
    """Every mined negative has a label different from its anchor's,
    ranks are dense from 1, and the top negative matches a numpy
    replay of the cross-label cosine ranking."""
    qs = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    rows = sim.hard_negative_topk(emb, qs, k=K).collect()
    pdf = emb.toPandas()
    lbl = dict(zip(pdf["vec_id"], pdf["label"]))
    by_q = {}
    for r in rows:
        assert r["label"] != lbl[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for qi, pairs in by_q.items():
        ranks = sorted(r for r, _ in pairs)
        assert ranks == list(range(1, len(pairs) + 1))
        qrow = np.where(ids == qi)[0][0]
        sims = np.round(Mn @ Mn[qrow], 6)
        cand = sorted(
            (i for i in range(len(ids))
             if ids[i] != qi and lbl[ids[i]] != lbl[qi]),
            key=lambda i: (-sims[i], ids[i]))
        want = [int(ids[i]) for i in cand[:K]]
        got = [v for _, v in sorted(pairs)]
        assert got == want, f"query {qi}"


def _quantized(emb):
    from pandas_rust_algos_spark.operators.kmeans import _quantize

    return emb.select(
        F.col("vec_id"), _quantize(F.col("embedding")).alias("v"))


def _duck_book(duck, *, k, iters, off=1, w=None, salt="", pred="TRUE"):
    """One codebook from the DuckDB Lloyd CTE chain — the independent
    reference every Spark-side trainer result must equal bit for bit.
    ``v[off:off+w-1]`` is the 1-based inclusive slice of ``F.slice``."""
    from pandas_rust_algos_spark.operators.kmeans import (
        sql_kmeans_fixed_ctes,
        sql_quantize,
    )

    v = "q.v" if w is None else f"q.v[{off}:{off + w - 1}]"
    ctes, fin = sql_kmeans_fixed_ctes(
        "pts", "vec_id", k=k, iters=iters, salt=salt)
    sql = f"""
    WITH q AS (
      SELECT vec_id, {sql_quantize('embedding')} AS v
      FROM embeddings WHERE {pred}
    ), pts AS (SELECT vec_id, {v} AS v FROM q), {', '.join(ctes)}
    SELECT c FROM {fin} ORDER BY cid"""
    return [[int(x) for x in r[0]] for r in duck.execute(sql).fetchall()]


def test_train_centroids_matches_duckdb_lloyd(spark, emb, duck):
    """The one Lloyd trainer produces BIT-IDENTICAL centroids to the
    DuckDB CTE chain for several (k, iters, salt) shapes — the property
    that keeps kmeans_fixed and the IVF/PQ portable gates on their
    oracles — on one partition and on seven (every task then emits its
    own partial sums, exercising the driver-side merge)."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        _train_centroids,
    )

    pts = _quantized(emb)
    for k, iters, salt in [(4, 2, ""), (8, 1, ""), (3, 3, ":1")]:
        want = _duck_book(duck, k=k, iters=iters, salt=salt)
        specs = ((1, None, salt),)
        got = _train_centroids(pts, "vec_id", k=k, iters=iters,
                               specs=specs)
        assert got == [want], (k, iters, salt)
        got_mp = _train_centroids(pts.repartition(7), "vec_id", k=k,
                                  iters=iters, specs=specs)
        assert got_mp == [want], ("repartitioned", k, iters, salt)


def test_train_centroids_sub_books_match_duckdb(spark, emb, duck):
    """Lockstep sub-books are BIT-IDENTICAL, book by book, to one
    DuckDB chain per salted slice — the property that lets the
    PQ/IVFPQ gates train every sub-codebook in one combined job per
    iteration. Covers repartitioning, uneven clamps (k > points) and
    mixed slice widths."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        _train_centroids,
    )

    pts = _quantized(emb)
    dims = len(pts.first()["v"])
    sub = dims // 4
    specs = [(j * sub + 1, sub, f":{j}") for j in range(4)]
    got = _train_centroids(pts, "vec_id", k=8, iters=2, specs=specs)
    assert got == [
        _duck_book(duck, k=8, iters=2, off=off, w=w, salt=salt)
        for off, w, salt in specs]
    got_mp = _train_centroids(pts.repartition(7), "vec_id", k=8,
                              iters=2, specs=specs)
    assert got_mp == got

    # clamp path: fewer points than k, mixed widths
    tiny = pts.where(F.col("vec_id") < 3)
    specs2 = [(1, dims, ""), (1, sub, ":x")]
    got2 = _train_centroids(tiny, "vec_id", k=8, iters=2, specs=specs2)
    assert got2 == [
        _duck_book(duck, k=8, iters=2, off=off, w=w, salt=salt,
                   pred="vec_id < 3")
        for off, w, salt in specs2]


def test_train_centroids_fewer_points_than_k(spark, emb, duck):
    """k > corpus size clamps to the seed count and still matches the
    DuckDB chain (which simply has fewer seed rows) — an unclamped
    update loop would index past the seed list."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        _train_centroids,
    )

    pts = _quantized(emb).where(F.col("vec_id") < 3)
    got = _train_centroids(pts, "vec_id", k=8, iters=2)
    assert len(got[0]) == 3
    assert got == [_duck_book(duck, k=8, iters=2, pred="vec_id < 3")]


def test_train_centroids_job_count(spark, emb):
    """One seed job plus ONE partial-sum job per Lloyd iteration, for a
    single whole-vector book and for four lockstep sub-books alike. A
    width-probe job or per-book chains would break the count."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        _train_centroids,
    )

    sc = spark.sparkContext
    pts = _quantized(emb)
    sub = len(pts.first()["v"]) // 4
    four = tuple((j * sub + 1, sub, f":{j}") for j in range(4))
    for iters in (0, 2):
        for specs in (((1, None, ""),), four):
            group = f"lloyd-jobs-{iters}-{len(specs)}"
            sc.setJobGroup(group, "trainer job-count pin")
            try:
                _train_centroids(pts, "vec_id", k=4, iters=iters,
                                 specs=specs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) == 1 + iters, (iters, len(specs), jobs)


def test_pq_fixed_dims_probe_skips_null_rows(spark):
    """A leading NULL vector must not break the dims probe (r7 ADVICE:
    the probe read the literal first row)."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        pq_topk_fixed,
    )

    rows = [(0, None)] + [
        (i, [float((i * 7 + j) % 5) for j in range(8)])
        for i in range(1, 13)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")
    qs = df.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = pq_topk_fixed(df, qs, k=3, m=2, k_codes=4, iters=1)
    assert out.count() == 3


def test_ivfpq_rerank_exact_shortlist(spark, emb, sf_dir):
    """rerank_k (r8 VERDICT next-#4): the ADC top-rerank_k shortlist
    re-scores with EXACT integer distances. Checks (a) the twin
    bit-match, (b) the returned dist_sq IS the true exact distance
    (numpy ground truth on the same micro-unit grid), and (c) recall
    against the exact top-k is >= the pure-ADC ranking's recall —
    the improvement the exact pass exists to buy."""
    import math

    import duckdb
    import numpy as np

    from pandas_rust_algos_spark.operators import ann_portable as ap

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    kw = dict(k=3, n_cells=4, n_probe=2, m=4, k_codes=4, iters=1)
    got_rows = ap.ivfpq_topk_fixed(emb, q, rerank_k=10, **kw).collect()
    got = {(r["query_id"], r["vec_id"], r["dist_sq"], r["rank"])
           for r in got_rows}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')")
    ora = con.execute(ap.sql_ivfpq_topk_fixed(
        query_pred="vec_id < 5", dims=64, rerank_k=10, **kw)).fetchall()
    con.close()
    assert got == {(int(a), int(b), int(c), int(d))
                   for a, b, c, d in ora}
    assert len(got) > 0

    # numpy ground truth on the identical integer grid
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.array([[math.floor(float(x) * 1e6) for x in v]
                  for v in pdf["embedding"]], dtype=np.int64)
    byid = {int(i): M[j] for j, i in enumerate(ids)}
    exact_topk = {}
    for qid in range(5):
        d = ((M - byid[qid]) ** 2).sum(axis=1)
        order = sorted((int(dd), int(i)) for dd, i in zip(d, ids)
                       if int(i) != qid)
        exact_topk[qid] = order[:3]
    # (b) returned distances are the true exact distances
    for r in got_rows:
        truth = int(((byid[r["vec_id"]] - byid[r["query_id"]]) ** 2)
                    .sum())
        assert r["dist_sq"] == truth
    # (c) recall vs exact top-3: rerank >= pure ADC
    truth_sets = {qid: {i for _, i in v} for qid, v in exact_topk.items()}
    rr_hits = sum(r["vec_id"] in truth_sets[r["query_id"]]
                  for r in got_rows)
    adc_rows = ap.ivfpq_topk_fixed(emb, q, **kw).collect()
    adc_hits = sum(r["vec_id"] in truth_sets[r["query_id"]]
                   for r in adc_rows)
    assert rr_hits >= adc_hits

    with pytest.raises(ValueError):
        ap.ivfpq_topk_fixed(emb, q, rerank_k=2, **kw)  # rerank_k < k


def test_ann_recall_report_bounds(spark, emb, queries):
    """The oracled bounds companion (ann_float_recall_bounds gate):
    three tier rows, booleans TRUE at the default floors on the real
    fixture, n_queries/k carried exactly; a floor of 1.01 must flip
    the boolean (the report really measures recall, not a constant)."""
    rows = {r["tier"]: r for r in sim.ann_recall_report(
        emb, queries, k=K, dims=64).collect()}
    assert set(rows) == {"ivf", "pq", "ivfpq"}
    for tier, r in rows.items():
        assert r["n_queries"] == N_QUERIES and r["k"] == K
        assert r["recall_ok"] is True, f"{tier} below its floor"
    flipped = {r["tier"]: r["recall_ok"] for r in sim.ann_recall_report(
        emb, queries, k=K, dims=64, ivf_floor=1.01, pq_floor=1.01,
        ivfpq_floor=1.01).collect()}
    assert set(flipped.values()) == {False}


def test_lloyd_two_level_merge_bounds_driver_collect(spark, emb, monkeypatch):
    """Above _LLOYD_MERGE_THRESHOLD scan tasks the trainer folds its
    per-task partials through a bounded repartition before the driver
    collect (r12 VERDICT next-#4): the collected frame has at most
    _LLOYD_MERGE_TASKS partitions — independent of the input task
    count — and the trained centroids stay BIT-IDENTICAL to the
    direct-merge path (exact int64 algebra is associative)."""
    from pandas_rust_algos_spark.operators import ann_portable as ap

    pts = _quantized(emb)
    want = ap._train_centroids(pts, "vec_id", k=5, iters=2)

    # force the two-level path at gate scale: threshold below the
    # high-partition fixture's task count, tiny bounded task count
    monkeypatch.setattr(ap, "_LLOYD_MERGE_THRESHOLD", 4)
    monkeypatch.setattr(ap, "_LLOYD_MERGE_TASKS", 3)
    hi = pts.repartition(16)
    got = ap._train_centroids(hi, "vec_id", k=5, iters=2)
    assert got == want

    # the fold itself bounds the collected frame's partition count
    # (16-task partials -> <= 3 partitions, <= 3*k rows)
    import pandas as pd

    def _partials_like(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    [(0, [1, 2], 1)], columns=["cid", "s", "n"])

    parts = hi.mapInPandas(_partials_like, "cid int, s array<long>, n long")
    folded = ap._bounded_partials(
        parts, 16, ["cid"], "cid int, s array<long>, n long")
    assert folded.rdd.getNumPartitions() <= 3
    rows = folded.collect()
    assert len(rows) <= 3
    direct = parts.collect()
    assert sum(r["n"] for r in rows) == sum(r["n"] for r in direct)
    assert (sum(r["s"][0] for r in rows if r["cid"] == 0)
            == sum(r["s"][0] for r in direct if r["cid"] == 0))

    # lockstep sub-books take the same path
    dims = len(pts.first()["v"])
    sub = dims // 2
    specs = [(1, sub, ":0"), (sub + 1, sub, ":1")]
    want_m = ap._train_centroids(pts, "vec_id", k=4, iters=2,
                                 specs=specs)
    got_m = ap._train_centroids(hi, "vec_id", k=4, iters=2, specs=specs)
    assert got_m == want_m
