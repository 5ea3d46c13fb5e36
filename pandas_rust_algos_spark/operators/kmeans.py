"""Portable fixed-point k-means (Lloyd's algorithm, public): the
engine-replayable clustering variant that turns "k-means is
engine-specific" from a documented oracle floor into a provable op.

Why k-means normally can't be oracled: float centroid updates are
accumulation-order-dependent, so two engines (or two partitionings of
one engine) legitimately disagree in the last ulp, and one flipped
assignment cascades. This variant removes every source of
nondeterminism instead of tolerating it:

- Vectors quantize once to INTEGER micro-units
  (``floor(x·1e6) as long`` — rule-2 exact in both engines).
- Distances are exact BIGINT sums of squared integer differences —
  comparisons can never disagree; assignment ties break on the lowest
  centroid id.
- Seeds are the k rows with the smallest md5-prefix hash of the id
  (the engine's shared portable recipe) — a property of the DATA, not
  of a partitioning or an RNG.
- Centroid updates are ``floor(sum/count)`` back onto the integer
  grid: the sum is an exact BIGINT, the one division is exact in
  double below 2^53 (a 100 TB corpus of micro-unit coordinates stays
  under it), and the floor re-quantizes — so every iteration's state
  is integers, bit-identical across engines and partitionings.
- Empty clusters keep their previous centroid (deterministic, no
  re-seeding roulette).

The price is fidelity to the float algorithm — centroids live on the
1e-6 grid (immaterial next to k-means' own local-optimum variance) —
and that is exactly the trade the oracle needs. The engine-native
float k-means inside ``similarity.py``/``ann_index.py`` stays the
scale default for ANN indexing; this op exists for reproducible
corpus bucketing (curriculum bins, dedup blocking, stratification)
where "same clusters on every engine, every retry, every cluster
size" is the requirement.

Scale shape: training is the engine's one Lloyd trainer,
:func:`ann_portable._train_centroids` — one seed job, then per
iteration one narrow ``mapInPandas`` partial-sum pass (≤ k·dim values
per task, merged in the driver), with the k×dim centroid state kept on
the driver. The final assignment is a zero-shuffle map over the
trained centroids as a literal. The DuckDB CTE chain
(:func:`sql_kmeans_fixed_ctes`) is the independent reference.

Reference scope: no clustering surface exists in the reference
(SURVEY §2.3) — driver-brief extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "check_exact_blas",
    "kmeans_fixed",
    "sql_kmeans_fixed",
    "sql_kmeans_fixed_ctes",
]

_SCALE = 1_000_000.0


def _quantize(vec_col):
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * F.lit(_SCALE)).cast("long"),
    )


def check_exact_blas(max_abs: float, dim: int, where: str,
                     factor: int = 1) -> None:
    """Guard the exact-BLAS precondition: a float64 matmul of
    micro-unit integer matrices is EXACT (order-independent, equal to
    the BIGINT computation an oracle replays) only while every partial
    sum stays below 2^53 — i.e. ``factor · dim · max_abs² < 2^53``,
    where ``factor`` is 1 for a plain Gram/dot block and 4 for the
    composed squared-distance form ``‖v‖² − 2·(M@Cᵀ) + ‖c‖²`` (whose
    terms combine to up to 4× a single partial sum). Beyond the bound
    the matmul silently rounds, flipping argmin tie rules with no
    error — so violations must raise loudly (r7 ADVICE item). At
    dim=64/factor=1 the bound allows |x| ≲ 11.8 in float units
    (max_abs ≲ 1.18e7 micro-units); real embedding spaces sit far
    inside it."""
    if dim > 0 and factor * dim * float(max_abs) * float(max_abs) \
            >= 2.0 ** 53:
        raise ValueError(
            f"{where}: exact-BLAS precondition violated — "
            f"max|quantized| = {max_abs:.0f} micro-units at dim {dim} "
            f"(factor {factor}) exceeds the 2^53 exactness bound; "
            f"results would silently diverge from the integer oracle. "
            f"Rescale the embeddings (|x| must stay under "
            f"{(2.0 ** 53 / (factor * dim)) ** 0.5 / _SCALE:.2f})."
        )


def kmeans_fixed(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Run ``iters`` Lloyd cycles (assign, update) from the md5-seeded
    start, then return the final assignment ``(id, cluster, dist_sq)``
    — ``dist_sq`` is the exact integer squared distance in micro-unit²,
    which pins the final centroids through the hash, not just the
    labels.

    Training runs through :func:`ann_portable._train_centroids` with
    one whole-vector book (bit-identical to
    :func:`sql_kmeans_fixed_ctes`, pinned by
    tests/test_similarity.py); the final assignment is a zero-shuffle
    ``array_min`` expression over the trained centroid literal."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got {k}/{iters}")
    from pandas_rust_algos_spark.operators.ann_portable import (
        _lit_lmatrix,
        _train_centroids,
    )

    pts = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _quantize(F.col(vec_col)).alias("v"))
    cents = _train_centroids(pts, id_col, k=k, iters=iters)[0]
    cmat = _lit_lmatrix(cents)
    # exact-integer argmin with the (d, cid) tie rule: array_min over
    # structs compares d first, then cid — the SQL chain's
    # ``ORDER BY d, cid`` rank-1 row
    best = F.array_min(
        F.transform(
            cmat,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with("v", c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("cid"),
            ),
        )
    )
    return pts.select(
        F.col(id_col),
        best["cid"].alias("cluster"),
        best["d"].alias("dist_sq"),
    )


SQL_DIST = ("LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(p.v) + 1), "
            "ii -> (p.v[ii] - c.c[ii]) * (p.v[ii] - c.c[ii])))")


def sql_quantize(vec_expr: str) -> str:
    """DuckDB twin of :func:`_quantize` — micro-unit grid."""
    return (f"LIST_TRANSFORM({vec_expr}, "
            f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT))")


def sql_kmeans_fixed_ctes(
    pts_cte: str,
    id_col: str,
    *,
    k: int,
    iters: int,
    salt: str = "",
    prefix: str = "",
) -> tuple[list[str], str]:
    """The reusable half of :func:`sql_kmeans_fixed`: CTE fragments
    that run ``iters`` Lloyd cycles over an EXISTING points CTE named
    ``pts_cte`` (columns ``(id_col, v)`` with ``v`` already on the
    micro-unit grid) and return ``(cte_list, final_centroid_cte)``.
    ``prefix`` namespaces the CTE names so several independent chains
    (PQ subspaces) compose in one statement; ``salt`` matches the
    Spark side's seed decorrelation."""
    h60 = (f"CAST('0x' || SUBSTR(md5(CAST({id_col} AS VARCHAR) "
           f"|| '{salt}'), 1, 15) AS BIGINT)")
    ctes = [f"""{prefix}c0 AS (
      SELECT rn - 1 AS cid, v AS c FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY {h60}, {id_col}) AS rn
        FROM {pts_cte}
      ) WHERE rn <= {k}
    )"""]
    prev = f"{prefix}c0"
    for it in range(1, iters + 1):
        ctes.append(f"""{prefix}a{it} AS (
      SELECT {id_col}, v, cid FROM (
        SELECT p.{id_col}, p.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {SQL_DIST}, c.cid) AS rn
        FROM {pts_cte} p CROSS JOIN {prev} c
      ) WHERE rn = 1
    )""")
        ctes.append(f"""{prefix}s{it} AS (
      SELECT cid, i, SUM(v[i]) AS s, COUNT(*) AS n
      FROM {prefix}a{it}, UNNEST(RANGE(1, LEN(v) + 1)) t(i)
      GROUP BY 1, 2
    )""")
        ctes.append(f"""{prefix}u{it} AS (
      SELECT cid,
             LIST(CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       AS BIGINT) ORDER BY i) AS c
      FROM {prefix}s{it} GROUP BY cid
    )""")
        ctes.append(f"""{prefix}c{it} AS (
      SELECT {prev}.cid, COALESCE({prefix}u{it}.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN {prefix}u{it} USING (cid)
    )""")
        prev = f"{prefix}c{it}"
    return ctes, prev


def sql_kmeans_fixed(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    iters: int = 2,
) -> str:
    """DuckDB twin of :func:`kmeans_fixed`: the same quantization,
    seeding, exact-integer distances, tie rule, floor-division
    updates, and empty-cluster carry — unrolled as chained CTEs, one
    (assignment, update) pair per iteration."""
    ctes = [f"""pts AS (
      SELECT {id_col}, {sql_quantize(vec_col)} AS v
      FROM {table} WHERE {vec_col} IS NOT NULL
    )"""]
    chain, prev = sql_kmeans_fixed_ctes(
        "pts", id_col, k=k, iters=iters)
    ctes.extend(chain)
    ctes.append(f"""fin AS (
      SELECT {id_col}, cid, d FROM (
        SELECT p.{id_col}, c.cid, {SQL_DIST} AS d,
               ROW_NUMBER() OVER (PARTITION BY p.{id_col}
                 ORDER BY {SQL_DIST}, c.cid) AS rn
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    )""")
    return f"""
    WITH {', '.join(ctes)}
    SELECT {id_col}, cid AS cluster, CAST(d AS BIGINT) AS dist_sq
    FROM fin
    """
