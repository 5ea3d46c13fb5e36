"""PORTABLE (engine-replayable) IVF and PQ approximate-nearest-
neighbor search — the oracle-able twins of ``similarity.ivf_topk`` /
``similarity.pq_topk``.

Why these exist: the production ANN paths train their quantizers with
float k-means (``similarity._kmeans_local``, in-driver over a sample)
and score in floating point — legitimate engine-specific results,
hence their gates are rows-only (recall-tested, not value-hashed).
This module swaps the quantizer for the fixed-point Lloyd trainer
(:func:`_train_centroids`, which :func:`kmeans.kmeans_fixed` also
runs) and keeps EVERY quantity on the integer micro-unit grid:

- vectors quantize once to ``floor(x·1e6)`` longs;
- coarse-cell assignment, probe selection, PQ sub-codebook training,
  corpus encoding, and ADC scoring are all exact BIGINT squared-
  distance comparisons with (distance, id) tie rules;
- so a DuckDB oracle unrolls the SAME pipeline (Lloyd CTE chains from
  :func:`kmeans.sql_kmeans_fixed_ctes`, then assignment / probing /
  scoring CTEs) and the final top-k hash-matches bit-exactly.

The price is the same as ``kmeans_fixed``'s: centroids live on the
1e-6 grid and ranking is by euclidean distance of the quantized
vectors rather than float cosine — immaterial next to ANN's own
approximation error (recall vs float brute force is asserted in
tests/test_similarity.py for the production paths; these twins prove
the BUCKETING/ENCODING algebra itself). The float paths remain the
100 TB defaults; the portable mode exists for reproducible retrieval
(eval-set neighbor lists, dedup candidate generation) where "same
neighbors on every engine and every retry" is a requirement — the
same split as ``minhash_near_dupes`` (xxhash64 default) vs
``minhash_near_dupes_portable`` (md5, oracled), SURVEY §8.

Scale shape (both ops):

- Quantizer training is :func:`_train_centroids`, Lloyd over the
  corpus (or a bounded sample a caller can pre-apply): one seed job,
  then per iteration one narrow ``mapInPandas`` partial-sum pass, with
  the k×dim centroid state kept on the driver. The m PQ sub-codebooks
  train in lockstep on the same jobs.
- The trained centroids are METADATA (n_cells×dim / m×k_codes×sub
  longs): they collect to the driver once and ride the search plans
  as array literals, so corpus-side cell assignment and PQ encoding
  are pure zero-exchange codegen maps (same design as
  ``similarity.ivf_topk``'s literal-matrix fast path; callers with
  768-dim × thousands of cells should mirror its broadcast-row
  variant — at the gate sizes a literal is strictly better).
- Search is one broadcast join of the exploded query probes onto the
  corpus cells (IVF: touches ~n_probe/n_cells of the corpus) or one
  broadcast of the query score context onto the m-byte code table
  (PQ), then the per-query rank window and shortlist rerank shared
  with the float tiers (``similarity._top_k`` / ``_rerank``).

Reference scope: no ANN surface exists in the reference (SURVEY
§2.3) — driver-brief training-pipeline extension (VERDICT r6 next-#3
prescribed exactly this construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandas_rust_algos_spark import cachelife
from pandas_rust_algos_spark.operators.kmeans import (
    _quantize,
    check_exact_blas,
    sql_kmeans_fixed_ctes,
    sql_quantize,
)
from pandas_rust_algos_spark.operators.similarity import (
    _check_probe,
    _check_rerank,
    _rerank,
    _subspaces,
    _top_k,
)

__all__ = [
    "ivf_topk_fixed",
    "ivfpq_topk_fixed",
    "pq_topk_fixed",
    "sql_ivf_topk_fixed",
    "sql_ivfpq_topk_fixed",
    "sql_pq_topk_fixed",
]


def _lit_lvec(vals) -> Column:
    """A long vector as ONE ArrayType literal. The per-element
    ``F.array(*[F.lit(v).cast("long")])`` form costs one py4j round
    trip per element — measured 1.2–1.6 s of pure driver overhead for
    an 8×64 centroid matrix, identical execution — while a single
    ``F.lit(list)`` is one call. The cast pins array<bigint> so the
    exact-BIGINT distance algebra never runs on int32 (overflow)."""
    vs = [int(v) for v in vals]
    if not vs:
        return F.array().cast("array<bigint>")
    # SQL-text literal (r12): even a single ``F.lit(list)`` call costs
    # ~0.4 ms/element through py4j; parsing the same values as one
    # expression string is ~100× cheaper with identical, exact BIGINT
    # semantics (the ``L`` suffix is a long literal)
    return F.expr("array(" + ",".join(f"{v}L" for v in vs) + ")")


def _lit_lmatrix(rows) -> Column:
    """A list of long vectors as ONE array<array<bigint>> literal
    (single parsed expression; see :func:`_lit_lvec`)."""
    rs = [[int(v) for v in r] for r in rows]
    if not rs or any(not r for r in rs):
        return F.lit(rs).cast("array<array<bigint>>")
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{v}L" for v in r) + ")"
            for r in rs) + ")")


def _dist_sq(a: Column, b: Column) -> Column:
    """Exact BIGINT squared euclidean distance on the micro-unit grid."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cells_scored(vcol: Column, cmatrix: Column) -> Column:
    """array<struct<d,cell>> of exact distances to every centroid —
    struct order (d asc, cell asc) IS the deterministic tie rule."""
    return F.transform(
        cmatrix,
        lambda c, i: F.struct(
            _dist_sq(vcol, c).alias("d"), i.alias("cell")),
    )


def _argmin_cell(vcol: Column, cmatrix: Column) -> Column:
    return F.array_min(_cells_scored(vcol, cmatrix)).getField("cell")


def _top_cells(vcol: Column, cmatrix: Column, n: int) -> Column:
    return F.transform(
        F.slice(F.array_sort(_cells_scored(vcol, cmatrix)), 1, n),
        lambda s: s.getField("cell"),
    )


def _codes(col: str, books: list[Column], sub: int) -> list[Column]:
    """PQ encoding: per subspace ``j``, the nearest sub-centroid of
    ``books[j]`` to the ``j``-th ``sub``-wide slice of ``col``."""
    return [_argmin_cell(F.slice(col, j * sub + 1, sub), b)
            for j, b in enumerate(books)]


def _adc(qcol: str, books: list[Column], sub: int) -> Column:
    """The exact-integer ADC distance of a coded row,
    ``Σ_j d²(qcol_sub_j, books[j][codes[j]])``, summed left to right."""
    approx = None
    for j, b in enumerate(books):
        dj = _dist_sq(
            F.slice(qcol, j * sub + 1, sub),
            F.element_at(b, F.element_at("codes", j + 1) + 1),
        )
        approx = dj if approx is None else approx + dj
    return approx


def _residuals(vcol: str, cmatrix: Column) -> Column:
    """``vcol`` minus its ``cell``'s centroid, element-wise."""
    return F.zip_with(vcol, F.element_at(cmatrix, F.col("cell") + 1),
                      lambda a, b: a - b)


#: Above this many scan tasks, the Lloyd trainer folds its per-task
#: partial sums through a bounded round-robin repartition + one more
#: exact-int64 merge before the driver collect, so the driver receives
#: at most ``_LLOYD_MERGE_TASKS × Σk`` rows regardless of input task
#: count (at 1e9-row scale the direct collect grows linearly with task
#: count — a multi-GB driver payload). Below the threshold the fold is
#: skipped: the repartition adds one (tiny) shuffle stage per
#: iteration, which the job-latency-bound gates would pay for nothing.
_LLOYD_MERGE_THRESHOLD = 64
_LLOYD_MERGE_TASKS = 32


def _bounded_partials(parts: DataFrame, n_tasks: int,
                      key_cols: list[str], schema: str) -> DataFrame:
    """Two-level merge for Lloyd partial-sum frames.

    ``parts`` holds per-task rows ``(*key_cols, s array<long>, n long)``.
    When the producing scan ran on more than ``_LLOYD_MERGE_THRESHOLD``
    tasks, repartition round-robin to ``_LLOYD_MERGE_TASKS`` partitions
    (the rows are k×dim longs each — metadata, so the shuffle is tiny)
    and fold each partition's rows by key with exact int64 addition.
    int64 partial sums are associative and commutative, so the fold is
    bit-identical to merging the raw partials directly in the driver —
    pinned by the trainer parity tests. No-op below the threshold."""
    if n_tasks <= _LLOYD_MERGE_THRESHOLD:
        return parts
    import numpy as np
    import pandas as pd

    def _fold(batches):
        acc_s: dict[tuple, object] = {}
        acc_n: dict[tuple, int] = {}
        for pdf in batches:
            for t in pdf.itertuples(index=False):
                key = tuple(getattr(t, c) for c in key_cols)
                s = np.asarray(t.s, dtype=np.int64)
                if key in acc_n:
                    acc_n[key] += int(t.n)
                    acc_s[key] = acc_s[key] + s
                else:
                    acc_n[key] = int(t.n)
                    acc_s[key] = s.copy()
        rows = [(*k, [int(x) for x in acc_s[k]], acc_n[k])
                for k in acc_n]
        if rows:
            yield pd.DataFrame(rows, columns=[*key_cols, "s", "n"])

    return parts.repartition(_LLOYD_MERGE_TASKS).mapInPandas(
        _fold, schema)


def _train_centroids(
    pts: DataFrame,
    id_col: str,
    *,
    k: int,
    iters: int,
    specs: tuple[tuple[int, int | None, str], ...] = ((1, None, ""),),
) -> list[list[list[int]]]:
    """The engine's one fixed-point Lloyd trainer over pre-quantized
    ``(id, v)`` points. Returns one codebook per spec, each a
    cid-ordered list of at most ``k`` integer centroids, BIT-IDENTICAL
    to the DuckDB CTE chain :func:`kmeans.sql_kmeans_fixed_ctes`
    (pinned by tests/test_similarity.py).

    ``specs`` is ``[(offset, width, salt), ...]``: a 1-based
    ``F.slice`` window of ``v`` plus the book's seed salt. ``width``
    ``None`` trains on the whole vector (the default: one book), its
    width read off the seed rows. All books train in LOCKSTEP, so m
    books cost what one does — one combined seed job, then ONE
    partial-sum job per iteration (the trainings are
    job-overhead-bound, not data-bound).

    Per book the math is the SQL chain's:

    - seeds are the k rows with the smallest md5-prefix hash of
      ``id || salt`` (ties on id) over the FULL frame; fewer rows than
      ``k`` clamp ``k``;
    - distances come from ``||v||² − 2·(M @ C.T) + ||c||²`` in float64
      — every term is an exact integer below 2^53 on the micro-unit
      grid, so the matrix form IS the exact distance and ``argmin``
      (first minimum = lowest cid) reproduces the (d, cid) tie rule;
    - updates are ``floor(sum/count)`` of exact int64 sums; an empty
      cluster keeps its previous centroid.

    Scale shape: per iteration one narrow ``mapInPandas`` scan emitting
    ≤ Σ_j k·width_j partial-sum values per task, merged in the driver
    (above ``_LLOYD_MERGE_THRESHOLD`` tasks, folded first to at most
    ``_LLOYD_MERGE_TASKS``×Σk rows); no corpus row is ever shuffled.
    The k×dim centroid state lives on the driver between iterations —
    the metadata every caller collects at the end anyway."""
    import numpy as np
    import pandas as pd

    m = len(specs)
    if m == 0:
        return []

    # ONE seed job: union of the per-book TakeOrdered branches; rows
    # re-sorted driver-side by the same (hash, id) key each branch was
    # ordered by, so book-local seed ORDER (= cid assignment) is the
    # SQL chain's ROW_NUMBER order.
    seed_branches = None
    for j, (off, w, salt) in enumerate(specs):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"),
                               F.lit(salt))),
                1, 15),
            16, 10,
        ).cast("long")
        br = (
            pts.withColumn("__h", h)
            .orderBy("__h", id_col).limit(k)
            .select(
                F.lit(j).alias("__b"), "__h",
                F.col(id_col).alias("__id"),
                (F.col("v") if w is None
                 else F.slice("v", off, w)).alias("v"))
        )
        seed_branches = br if seed_branches is None else \
            seed_branches.unionByName(br)
    seed_rows: dict[int, list] = {j: [] for j in range(m)}
    for r in seed_branches.collect():
        seed_rows[r["__b"]].append((r["__h"], r["__id"], list(r["v"])))
    books: list[list[list[int]]] = []
    ks: list[int] = []
    for j in range(m):
        seed_rows[j].sort(key=lambda t: (t[0], t[1]))
        books.append([v for _, _, v in seed_rows[j]])
        ks.append(min(k, len(books[j])))
    if all(not b for b in books):
        return books

    widths = [len(b[0]) for b in books]
    offs = [off for off, _, _ in specs]
    n_tasks = pts.rdd.getNumPartitions()
    for _ in range(iters):
        Cs, cns = [], []
        for j in range(m):
            C = np.array(books[j], dtype=np.float64)
            check_exact_blas(
                float(np.abs(C).max(initial=0.0)), widths[j],
                "ann_portable._train_centroids centroids", factor=4)
            Cs.append(C)
            cns.append((C * C).sum(axis=1))

        def _partials(batches, Cs=Cs, cns=cns):
            sums = [np.zeros((ks[j], widths[j]), dtype=np.int64)
                    for j in range(m)]
            cnts = [np.zeros(ks[j], dtype=np.int64) for j in range(m)]
            for pdf in batches:
                Mfull = np.stack(pdf["v"].to_numpy()).astype(np.int64)
                for j in range(m):
                    Mi = Mfull[:, offs[j] - 1:offs[j] - 1 + widths[j]]
                    check_exact_blas(
                        float(np.abs(Mi).max(initial=0)), widths[j],
                        "ann_portable._train_centroids batch", factor=4)
                    M = Mi.astype(np.float64)
                    d = ((M * M).sum(axis=1)[:, None]
                         - 2.0 * (M @ Cs[j].T) + cns[j][None, :])
                    a = np.argmin(d, axis=1)
                    np.add.at(sums[j], a, Mi)
                    np.add.at(cnts[j], a, 1)
            rows = [
                (j, cid,
                 [int(x) for x in sums[j][cid]], int(cnts[j][cid]))
                for j in range(m)
                for cid in range(ks[j]) if cnts[j][cid]
            ]
            yield pd.DataFrame(rows, columns=["b", "cid", "s", "n"])

        # per-task partials (≤ Σ_j k rows per task, arrays of width_j
        # longs) are collected and merged in the driver: int64 addition
        # is exact and order-independent, so this equals a groupBy+sum
        # while skipping one shuffle stage per iteration. Above
        # _LLOYD_MERGE_THRESHOLD scan tasks the collect would grow
        # linearly with task count, so a bounded two-level fold caps it
        # at _LLOYD_MERGE_TASKS×Σk rows first.
        parts = _bounded_partials(
            pts.mapInPandas(
                _partials, "b int, cid int, s array<long>, n long"),
            n_tasks, ["b", "cid"],
            "b int, cid int, s array<long>, n long").collect()
        acc_s: list[dict[int, list]] = [{} for _ in range(m)]
        acc_n: list[dict[int, int]] = [{} for _ in range(m)]
        for r in parts:
            j, cid = r["b"], r["cid"]
            if cid in acc_n[j]:
                acc_n[j][cid] += r["n"]
                sl = acc_s[j][cid]
                for i, v in enumerate(r["s"]):
                    sl[i] += v
            else:
                acc_n[j][cid] = r["n"]
                acc_s[j][cid] = list(r["s"])
        for j in range(m):
            new_cents = []
            for cid in range(ks[j]):
                if cid in acc_n[j]:
                    # floor(sum/count) in double — the engines' exact rule
                    n = acc_n[j][cid]
                    new_cents.append([
                        int(np.floor(float(s) / float(n)))
                        for s in acc_s[j][cid]
                    ])
                else:
                    new_cents.append(books[j][cid])  # empty-cluster carry
            books[j] = new_cents
    return books


def _points(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(id_col, v)``: the non-null vectors quantized to the grid."""
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _quantize(F.col(vec_col)).alias("v"))


def _query_points(queries: DataFrame, query_id_col: str,
                  vec_col: str) -> DataFrame:
    return queries.where(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("__qid"),
        _quantize(F.col(vec_col)).alias("qv"),
    )


def _train_ivfpq(pts: DataFrame, id_col: str, *, n_cells: int, m: int,
                 sub: int, k_codes: int, iters: int):
    """Fixed IVF-PQ training: coarse Lloyd over ``pts``, the residual
    frame ``asg`` = ``(id, v, cell, r)``, then ``m`` residual sub-books
    in LOCKSTEP (one seed job + one partial-sum job per iteration for
    ALL books; bit-identical per book to m separate chains). Returns
    ``(coarse, asg, books)``.

    ``asg`` feeds the m sub-book trainings AND the caller's encode pass,
    so it is persisted and materialized by one ``count()`` before
    training. Left lazy, its first consumer — the lockstep seed job, a
    union of m branches — would re-submit any shuffle stage under
    ``pts`` (such as a round-robin repartition) once per branch. The
    caller owns its release once this returns."""
    coarse = _train_centroids(pts, id_col, k=n_cells, iters=iters)[0]
    cmatrix = _lit_lmatrix(coarse)
    asg = (
        pts.withColumn("cell", _argmin_cell(F.col("v"), cmatrix))
        .withColumn("r", _residuals("v", cmatrix))
        .persist()
    )
    try:
        asg.count()
        books = _train_centroids(
            asg.select(id_col, F.col("r").alias("v")), id_col,
            k=k_codes, iters=iters,
            specs=[(j * sub + 1, sub, f":{j}") for j in range(m)])
    except BaseException:
        asg.unpersist()
        raise
    return coarse, asg, books


def _residual_probes(queries: DataFrame, query_id_col: str, vec_col: str,
                     cmatrix: Column, n_probe: int) -> DataFrame:
    """``(__qid, qv, cell, qr)``: each query exploded onto its
    ``n_probe`` nearest cells, with its residual against each."""
    return (
        _query_points(queries, query_id_col, vec_col)
        .withColumn(
            "cell", F.explode(_top_cells(F.col("qv"), cmatrix, n_probe)))
        .withColumn("qr", _residuals("qv", cmatrix))
    )


def _ivfpq_rank(coded: DataFrame, probes: DataFrame, books: list[Column],
                sub: int, k: int, rerank_k: int | None, vecs: DataFrame,
                queries: DataFrame, *, query_id_col: str, vec_col: str,
                id_col: str) -> DataFrame:
    """Residual-ADC search of the probed cells' codes: top-k by
    ``approx_dist_sq``, or — with ``rerank_k`` — the ADC
    top-``rerank_k`` shortlist re-ranked on exact integer distances
    (``dist_sq``) against the quantized corpus ``vecs`` (``id_col``,
    ``v``) and ``queries``. A corpus vector lives in exactly ONE cell,
    so each (query, candidate) pair surfaces at most once — no
    distinct pass."""
    scored = (
        coded.join(F.broadcast(probes), "cell")
        .where(F.col("__qid") != F.col(id_col))
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            _adc("qr", books, sub).alias("approx_dist_sq"),
        )
    )
    by = F.col("approx_dist_sq")
    if rerank_k is None:
        return _top_k(scored, k, query_id_col, id_col, by, long_rank=True)
    return _rerank(
        _top_k(scored, rerank_k, query_id_col, id_col, by, long_rank=True),
        k, vecs,
        queries.where(F.col(vec_col).isNotNull()).select(
            F.col(query_id_col), _quantize(F.col(vec_col)).alias("__qv")),
        _dist_sq(F.col("__qv"), F.col("v")).alias("dist_sq"),
        F.col("dist_sq"),
        query_id_col=query_id_col, id_col=id_col, long_rank=True,
    )


def ivf_topk_fixed(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    iters: int = 2,
) -> DataFrame:
    """Portable IVF top-k: fixed-point-k-means coarse cells, exact
    integer cell assignment and probe selection, exact integer
    distances within the probed cells. Returns
    ``(query_id, vec_id, dist_sq, rank)`` — bit-identical across
    engines, partitionings, and retries. Self-matches are excluded.

    Every corpus vector lands in exactly ONE cell, so the probe join
    yields each (query, candidate) pair at most once — no distinct
    pass needed (unlike LSH bands)."""
    _check_probe(n_probe, n_cells)
    pts = _points(df, id_col, vec_col)
    cmatrix = _lit_lmatrix(_train_centroids(
        pts, id_col, k=n_cells, iters=iters)[0])

    corpus = pts.withColumn("cell", _argmin_cell(F.col("v"), cmatrix))
    probes = _query_points(queries, query_id_col, vec_col).withColumn(
        "cell", F.explode(_top_cells(F.col("qv"), cmatrix, n_probe)))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("__qid") != F.col(id_col))
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            _dist_sq(F.col("qv"), F.col("v")).alias("dist_sq"),
        )
    )
    return _top_k(scored, k, query_id_col, id_col, F.col("dist_sq"),
                  long_rank=True)


def pq_topk_fixed(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int | None = None,
) -> DataFrame:
    """Portable PQ top-k by ADC (asymmetric distance): fixed-point
    sub-codebooks per contiguous subspace (seed-decorrelated via a
    per-subspace salt), exact integer encoding, and an exact-integer
    approximate distance ``Σ_j d²(q_sub_j, centroid[j][code_j])``.
    Returns ``(query_id, vec_id, approx_dist_sq, rank)``. Pass
    ``dims`` (the FAISS convention) to skip the fallback width-probe
    job (r8 VERDICT next-#5)."""
    sub = _subspaces(df, vec_col, dims, m)
    pts = _points(df, id_col, vec_col)

    # the m sub-codebook trainings are independent and share every
    # corpus scan — train them in LOCKSTEP (one seed job + one
    # partial-sum job per iteration for ALL books; bit-identical per
    # book to m separate chains)
    books = [_lit_lmatrix(b) for b in _train_centroids(
        pts, id_col, k=k_codes, iters=iters,
        specs=[(j * sub + 1, sub, f":{j}") for j in range(m)])]

    coded = pts.select(
        id_col, F.array(*_codes("v", books, sub)).alias("codes"))
    # the query side precomputes nothing float: approx distance is a
    # direct exact-integer sum over the chosen sub-centroids
    scored = (
        coded.crossJoin(F.broadcast(
            _query_points(queries, query_id_col, vec_col)))
        .where(F.col("__qid") != F.col(id_col))
        .select(
            F.col("__qid").alias(query_id_col),
            id_col,
            _adc("qv", books, sub).alias("approx_dist_sq"),
        )
    )
    return _top_k(scored, k, query_id_col, id_col,
                  F.col("approx_dist_sq"), long_rank=True)


def ivfpq_topk_fixed(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int | None = None,
    rerank_k: int | None = None,
) -> DataFrame:
    """COMPOSED portable IVF+PQ retrieval — the production ANN shape
    at 100 TB (r7 VERDICT next-#4): coarse IVF cells PRUNE the corpus
    (each query touches ~n_probe/n_cells of it), and PQ-ADC scores
    only the probed cells' codes — unlike :func:`pq_topk_fixed`, which
    scores the full code table per query by construction.

    The composition follows the standard IVF-ADC recipe (Jégou et al.
    2011, "Product Quantization for Nearest Neighbor Search"): PQ
    codebooks are trained on the RESIDUALS ``r = v − centroid[cell]``
    (residuals concentrate near 0, so a small codebook covers them far
    better than the raw space), queries probe their ``n_probe``
    nearest cells, and the ADC distance per candidate is
    ``Σ_j d²(q_residual_sub_j, book_j[code_j])`` with the query
    residual taken against the PROBED cell's centroid. Everything
    stays on the integer micro-unit grid (residuals of integers are
    integers), so a DuckDB oracle unrolls coarse training, assignment,
    residual sub-codebook training, encoding, probing, and ADC end to
    end — bit-exact.

    Returns ``(query_id, vec_id, approx_dist_sq, rank)``; a corpus
    vector lives in exactly ONE cell so each (query, candidate) pair
    surfaces at most once — no distinct pass. Self-matches excluded.
    With ``rerank_k`` set (≥ k), the ADC top-``rerank_k`` shortlist
    is re-scored with EXACT integer distances (a shortlist-sized join
    back to the vectors) and the output becomes
    ``(query_id, vec_id, dist_sq, rank)`` — still fully oracled.

    Scale shape: training is :func:`_train_ivfpq` (driver-coordinated
    Lloyd, k×dim partial-sum traffic/iter; the residual frame is
    computed once as a zero-exchange map and persisted); both
    centroid sets are METADATA riding the search plan as literals;
    search is one broadcast join of the exploded query probes onto the
    coded corpus cells. The float composition is
    :func:`similarity.ivfpq_topk`."""
    _check_probe(n_probe, n_cells)
    _check_rerank(rerank_k, k, "rerank_k")
    sub = _subspaces(df, vec_col, dims, m)
    pts = _points(df, id_col, vec_col)
    coarse, asg, books = _train_ivfpq(
        pts, id_col, n_cells=n_cells, m=m, sub=sub, k_codes=k_codes,
        iters=iters)
    # the encode pass rides the RETURNED plan → tracked for deferred
    # release
    asg = cachelife.track(asg)
    bmats = [_lit_lmatrix(b) for b in books]
    coded = asg.select(
        id_col, "cell", F.array(*_codes("r", bmats, sub)).alias("codes"))
    probes = _residual_probes(queries, query_id_col, vec_col,
                              _lit_lmatrix(coarse), n_probe)
    return _ivfpq_rank(coded, probes, bmats, sub, k, rerank_k, pts,
                       queries, query_id_col=query_id_col,
                       vec_col=vec_col, id_col=id_col)


_SQL_QDIST = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qv) + 1), "
              "ii -> (q.qv[ii] - c.c[ii]) * (q.qv[ii] - c.c[ii])))")


def sql_ivf_topk_fixed(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    query_pred: str = "vec_id < 10",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_topk_fixed` with queries drawn from
    the same table by ``query_pred`` (mirroring the gate): the same
    quantization, Lloyd chain, argmin cell assignment, top-n_probe
    probe selection, exact in-cell distances, and (dist, id) rank."""
    ctes = [f"""pts AS MATERIALIZED (
      SELECT {id_col}, {sql_quantize(vec_col)} AS v
      FROM {table} WHERE {vec_col} IS NOT NULL
    )"""]
    chain, cent = sql_kmeans_fixed_ctes(
        "pts", id_col, k=n_cells, iters=iters)
    ctes.extend(chain)
    dist_pc = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1), "
               "ii -> (p.v[ii] - c.c[ii]) * (p.v[ii] - c.c[ii])))")
    ctes.append(f"""asg AS (
      SELECT {id_col}, v, cid AS cell FROM (
        SELECT p.{id_col}, p.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {dist_pc}, c.cid) AS rn
        FROM pts p CROSS JOIN {cent} c
      ) WHERE rn = 1
    )""")
    ctes.append(f"""q AS (
      SELECT {id_col} AS qid, v AS qv FROM pts WHERE {query_pred}
    )""")
    ctes.append(f"""probe AS (
      SELECT qid, qv, cid AS cell FROM (
        SELECT q.qid, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {_SQL_QDIST}, c.cid) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {n_probe}
    )""")
    pair_d = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.qv) + 1), "
              "ii -> (p.qv[ii] - a.v[ii]) * (p.qv[ii] - a.v[ii])))")
    ctes.append(f"""pairs AS (
      SELECT p.qid, a.{id_col}, {pair_d} AS d
      FROM probe p JOIN asg a USING (cell)
      WHERE p.qid <> a.{id_col}
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT qid AS {query_id_col}, {id_col},
           CAST(d AS BIGINT) AS dist_sq, rnk AS rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY d, {id_col}) AS BIGINT) AS rnk
      FROM pairs
    ) WHERE rnk <= {k}
    """


def sql_pq_topk_fixed(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    query_pred: str = "vec_id < 10",
    query_id_col: str = "query_id",
    k: int = 5,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_topk_fixed`: per-subspace Lloyd chains
    (namespaced CTEs, per-subspace seed salt), exact integer encoding,
    and the same ADC sum — ``dims`` must be supplied (the SQL cannot
    probe the schema) and divisible by ``m``."""
    sub = _subspaces(None, vec_col, dims, m)
    ctes = [f"""pts AS MATERIALIZED (
      SELECT {id_col}, {sql_quantize(vec_col)} AS v
      FROM {table} WHERE {vec_col} IS NOT NULL
    )"""]
    dist_pc = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1), "
               "ii -> (p.v[ii] - c.c[ii]) * (p.v[ii] - c.c[ii])))")
    part_selects = []
    for j in range(m):
        lo = j * sub + 1
        hi = (j + 1) * sub
        ctes.append(f"""p{j} AS (
      SELECT {id_col}, LIST_SLICE(v, {lo}, {hi}) AS v FROM pts
    )""")
        chain, cent = sql_kmeans_fixed_ctes(
            f"p{j}", id_col, k=k_codes, iters=iters,
            salt=f":{j}", prefix=f"b{j}_")
        ctes.extend(chain)
        ctes.append(f"""e{j} AS (
      SELECT {id_col}, cid AS code FROM (
        SELECT p.{id_col}, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {dist_pc}, c.cid) AS rn
        FROM p{j} p CROSS JOIN {cent} c
      ) WHERE rn = 1
    )""")
        qd = (f"LIST_SUM(LIST_TRANSFORM(RANGE(1, {sub} + 1), "
              f"ii -> (q.v[ii] - c.c[ii]) * (q.v[ii] - c.c[ii])))")
        part_selects.append(f"""
      SELECT q.{id_col} AS qid, e.{id_col} AS {id_col}, {qd} AS dj
      FROM (SELECT {id_col}, v FROM p{j} WHERE {query_pred}) q
      CROSS JOIN e{j} e
      JOIN {cent} c ON c.cid = e.code""")
    ctes.append(f"""parts AS ({' UNION ALL '.join(part_selects)})""")
    ctes.append(f"""tot AS (
      SELECT qid, {id_col}, SUM(dj) AS d
      FROM parts WHERE qid <> {id_col}
      GROUP BY 1, 2
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT qid AS {query_id_col}, {id_col},
           CAST(d AS BIGINT) AS approx_dist_sq, rnk AS rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY d, {id_col}) AS BIGINT) AS rnk
      FROM tot
    ) WHERE rnk <= {k}
    """


def sql_ivfpq_topk_fixed(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    query_pred: str = "vec_id < 10",
    query_id_col: str = "query_id",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    dims: int = 64,
    rerank_k: int | None = None,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk_fixed`: the coarse Lloyd
    chain, argmin assignment + integer residuals, per-subspace Lloyd
    chains OVER THE RESIDUALS (same per-subspace seed salt), exact
    integer encoding, top-``n_probe`` probe selection with per-cell
    query residuals, and the residual-ADC sum over the probed cells
    only — the whole composed retrieval unrolled as chained CTEs.
    With ``rerank_k``, the ADC top-``rerank_k`` shortlist re-scores
    with exact integer distances, mirroring the Spark rerank path."""
    _check_rerank(rerank_k, k, "rerank_k")
    sub = _subspaces(None, vec_col, dims, m)
    ctes = [f"""pts AS MATERIALIZED (
      SELECT {id_col}, {sql_quantize(vec_col)} AS v
      FROM {table} WHERE {vec_col} IS NOT NULL
    )"""]
    chain, cent = sql_kmeans_fixed_ctes(
        "pts", id_col, k=n_cells, iters=iters)
    ctes.extend(chain)
    dist_pc = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1), "
               "ii -> (p.v[ii] - c.c[ii]) * (p.v[ii] - c.c[ii])))")
    ctes.append(f"""asg AS MATERIALIZED (
      SELECT {id_col}, v, cell,
             LIST_TRANSFORM(RANGE(1, LEN(v) + 1),
                            ii -> v[ii] - cc[ii]) AS r
      FROM (
        SELECT p.{id_col}, p.v, c.cid AS cell, c.c AS cc,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {dist_pc}, c.cid) AS rn
        FROM pts p CROSS JOIN {cent} c
      ) WHERE rn = 1
    )""")
    part_selects = []
    for j in range(m):
        lo = j * sub + 1
        hi = (j + 1) * sub
        ctes.append(f"""p{j} AS (
      SELECT {id_col}, LIST_SLICE(r, {lo}, {hi}) AS v FROM asg
    )""")
        bchain, bcent = sql_kmeans_fixed_ctes(
            f"p{j}", id_col, k=k_codes, iters=iters,
            salt=f":{j}", prefix=f"b{j}_")
        ctes.extend(bchain)
        ctes.append(f"""e{j} AS (
      SELECT {id_col}, cid AS code FROM (
        SELECT p.{id_col}, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {dist_pc}, c.cid) AS rn
        FROM p{j} p CROSS JOIN {bcent} c
      ) WHERE rn = 1
    )""")
        qd = (f"LIST_SUM(LIST_TRANSFORM(RANGE(1, {sub} + 1), "
              f"ii -> (pr.qr[{lo - 1} + ii] - bc.c[ii]) "
              f"* (pr.qr[{lo - 1} + ii] - bc.c[ii])))")
        part_selects.append(f"""
      SELECT pr.qid, a.{id_col}, {qd} AS dj
      FROM probe pr
      JOIN asg a USING (cell)
      JOIN e{j} ej ON ej.{id_col} = a.{id_col}
      JOIN {bcent} bc ON bc.cid = ej.code
      WHERE pr.qid <> a.{id_col}""")
    ctes.append(f"""q AS (
      SELECT {id_col} AS qid, v AS qv FROM pts WHERE {query_pred}
    )""")
    ctes.append(f"""probe AS (
      SELECT qid, cell,
             LIST_TRANSFORM(RANGE(1, LEN(qv) + 1),
                            ii -> qv[ii] - cc[ii]) AS qr
      FROM (
        SELECT q.qid, q.qv, c.cid AS cell, c.c AS cc,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {_SQL_QDIST}, c.cid) AS rn
        FROM q CROSS JOIN {cent} c
      ) WHERE rn <= {n_probe}
    )""")
    ctes.append(f"""parts AS ({' UNION ALL '.join(part_selects)})""")
    ctes.append(f"""tot AS (
      SELECT qid, {id_col}, SUM(dj) AS d
      FROM parts
      GROUP BY 1, 2
    )""")
    if rerank_k is None:
        return f"""
    WITH {', '.join(ctes)}
    SELECT qid AS {query_id_col}, {id_col},
           CAST(d AS BIGINT) AS approx_dist_sq, rnk AS rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY d, {id_col}) AS BIGINT) AS rnk
      FROM tot
    ) WHERE rnk <= {k}
    """
    ctes.append(f"""shortlist AS (
      SELECT qid, {id_col} FROM (
        SELECT qid, {id_col}, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY d, {id_col}) AS rnk
        FROM tot
      ) WHERE rnk <= {rerank_k}
    )""")
    ctes.append(f"""ex AS (
      SELECT s.qid, s.{id_col},
             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1),
               ii -> (q.qv[ii] - p.v[ii]) * (q.qv[ii] - p.v[ii]))) AS d
      FROM shortlist s
      JOIN pts p ON p.{id_col} = s.{id_col}
      JOIN q ON q.qid = s.qid
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT qid AS {query_id_col}, {id_col},
           CAST(d AS BIGINT) AS dist_sq, rnk AS rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY d, {id_col}) AS BIGINT) AS rnk
      FROM ex
    ) WHERE rnk <= {k}
    """
