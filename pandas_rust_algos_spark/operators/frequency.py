"""Frequency analysis: heavy hitters (most frequent keys), exact and
approximate.

The reference has no frequency surface (SURVEY §2.3 — no distinct
aggregation at all); this is a driver-brief extension. In a training-
data pipeline heavy hitters drive spam-domain discovery, boilerplate
detection, and skew diagnosis (the keys found here are exactly the keys
that need salting in ``skew_handling``).

Two tiers, same contract as the other approx pairs in this engine:

- exact: groupBy + distributed top-k. The per-key count is a map-side-
  combined hash aggregate (traffic ∝ #distinct keys, not #rows) and the
  top-k is ``TakeOrderedAndProject`` — each partition keeps its own k,
  the driver merges P·k rows. No global sort, no single-partition
  window, at any scale.
- approximate: one pass, bounded memory, no shuffle of raw keys —
  Spark's ``freqItems`` (Karp-Papadimitriou-Shenker misra-gries
  variant). Guarantees a *superset* of every key with frequency >
  support; counts are not returned (follow with one semi-joined exact
  count over the candidate set when counts matter — traffic ∝ |candidates|).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_rust_algos_spark import cachelife
from pandas_rust_algos_spark.operators import cells

__all__ = [
    "cms_cells",
    "cms_estimate",
    "cms_merge",
    "cms_sketch",
    "count_by_key",
    "heavy_hitters",
    "heavy_hitters_approx",
    "heavy_hitters_approx_bounds_report",
    "hash60",
    "hll_bucket_rho",
    "hll_estimate",
    "hll_merge",
    "hll_nunique",
    "hll_registers",
    "sql_cms_hash",
    "sql_hll_nunique",
]


def _cms_hash(d: int, col, hash_mode: str):
    """Row hash for sketch depth ``d``. ``fast`` = xxhash64 (100 TB
    default). ``portable`` = the engine's md5-prefix→60-bit recipe
    (shared with minhash/simhash portable modes) — byte-identical in
    any engine with md5, which is what lets a SQL oracle replay the
    ENTIRE sketch."""
    if hash_mode == "fast":
        return F.xxhash64(F.lit(d), col)
    if hash_mode == "portable":
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(d)), col)), 1, 15),
            16, 10,
        ).cast("long")
    raise ValueError(f"hash_mode must be fast|portable, got {hash_mode!r}")


def hash60(col, hash_mode: str, *, d: int = 0):
    """The engine's shared NON-NEGATIVE 60-bit row hash: the portable
    md5-prefix recipe verbatim (already < 2^60), or xxhash64 masked
    into the same domain — signed 64-bit would break both ordering
    (KMV's min-k) and the [0, 2^60) width the HLL register math and
    the KMV estimator normalization assume. The single home for that
    invariant; KMV and HLL both call this."""
    h = _cms_hash(d, col, hash_mode)
    if hash_mode == "fast":
        h = h.bitwiseAND(F.lit((1 << 60) - 1))
    return h


def sql_cms_hash(d: int, expr: str) -> str:
    """DuckDB twin of the portable ``_cms_hash``."""
    return (f"CAST('0x' || SUBSTR(md5('{d}' || ':' || {expr}), 1, 15) "
            "AS BIGINT)")


def cms_sketch(
    df: DataFrame,
    key: str,
    *,
    width: int = 256,
    depth: int = 4,
    hash_mode: str = "portable",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public) over
    ``df[key]``: returns ``(d, slot, cnt)`` — at most ``depth*width``
    rows REGARDLESS of data size, the classic bounded-memory frequency
    summary. The sketch is mergeable by construction (cell-wise sum),
    so shards/days/streams combine with one more groupBy — the
    100 TB shape: raw keys shuffle only as ``(d, slot)`` pairs that
    map-side-combine into ≤ depth×width rows per task.

    Estimates (``cms_estimate``) never undercount; overcounts are
    collision noise bounded by ~2N/width with probability
    1 - 2^-depth. Unlike Misra-Gries (``heavy_hitters_approx``), the
    sketch is insertion-order-INDEPENDENT — with ``portable`` hashing
    it is bit-deterministic across engines, partitionings, and
    retries, which is what makes it fully SQL-oracle-able."""
    return cells.build(df, [], _cms_sketch(key, width, depth, hash_mode))


def cms_cells(key: str, width: int, depth: int,
              hash_mode: str = "portable"):
    """The ``depth`` (d, slot) sketch cells of one key as an array
    expression — shared by the batch sketch, the point-query probes,
    and the streaming windowed sketch."""
    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    kstr = F.col(key).cast("string")
    return F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            F.pmod(_cms_hash(d, kstr, hash_mode), F.lit(width))
            .cast("int").alias("slot"),
        )
        for d in range(depth)
    ])


def _cms_sketch(key: str, width: int, depth: int,
                hash_mode: str) -> cells.Cells:
    """CMS as cells: each non-NULL key counts once in each of its
    ``depth`` (d, slot) cells."""
    return cells.Cells(
        F.col(key).isNotNull(), ("d", "slot"),
        (F.inline(cms_cells(key, width, depth, hash_mode)),),
        F.count(F.lit(1)).alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches cell-wise (sum per ``(d, slot)``) —
    EXACT by construction: counting is distributive, so the merge of
    per-shard/per-day sketches is byte-identical to the sketch of the
    concatenated data. This is the 100 TB maintenance shape: sketch
    each new partition as it lands (one scan of the delta only) and
    fold it into the running sketch — ≤ depth×width rows of state,
    never a rescan of history. All inputs must share width/depth/
    hash_mode (cells only line up within one geometry)."""
    return cells.merge(sketches, F.sum)


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    *,
    width: int = 256,
    depth: int = 4,
    hash_mode: str = "portable",
) -> DataFrame:
    """Point-query the sketch for every row of ``keys[key]``: returns
    ``(key, est)`` with ``est = min over d of sketch[d, slot_d(key)]``
    — the count-min estimator. The sketch side is ≤ depth×width rows
    (broadcast-sized by construction); each key probes ``depth``
    cells, so the join traffic is O(|keys|·depth), never O(data)."""
    probes = keys.select(
        F.col(key), F.inline(cms_cells(key, width, depth, hash_mode)))
    return (
        probes.join(F.broadcast(sketch), ["d", "slot"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
             .alias("est"))
    )


_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_nunique(
    df: DataFrame,
    group: str,
    col: str,
    *,
    m: int = 64,
    hash_mode: str = "portable",
) -> DataFrame:
    """Per-group approximate COUNT DISTINCT via a from-scratch
    HyperLogLog (Flajolet et al. 2007, public): returns
    ``(group, est)`` with the estimate rounded to a BIGINT. The
    portable twin of Spark's built-in HLL++
    (``approx_count_distinct``, used by ``group_nunique_approx``) —
    same sketch family, but every step is engine-replayable:

    - 60-bit md5-prefix hash (the engine's shared portable recipe);
      ``bucket = h % m``, suffix ``h // m`` (w = 60 - log2(m) bits);
    - rho = leading zeros in the suffix + 1, computed INTEGER-exactly
      as ``w - length(bin(suffix)) + 1`` — ``bin()`` strips leading
      zeros identically in Spark and DuckDB, so no float log2;
    - registers ``M_j = max(rho)`` per (group, bucket): one map-side-
      combined aggregate, sketch state ≤ m rows per group, mergeable
      by max — the 100 TB shape;
    - the power sum folds as exact integers (``1L << (62 - M_j)``,
      empty buckets contribute ``2^62``) into a DECIMAL, so the only
      float ops are the final constant-multiply/divide — one fixed
      sequence, bit-identical across engines — plus the standard
      small-range linear-counting branch (``E <= 2.5m`` with empty
      buckets → ``m * ln(m/V)``; the one ``ln`` is last-ulp-sensitive,
      which the round-to-integer output absorbs).

    Relative error ≈ 1.04/sqrt(m) (13% at m=64); raise ``m`` for
    tighter estimates. ``sql_hll_nunique`` is the DuckDB twin.

    Composition of :func:`hll_registers` → :func:`hll_estimate`; the
    split (plus :func:`hll_merge`) is the incremental-maintenance
    surface — registers are max-mergeable, so per-partition register
    tables fold into a running sketch without rescanning history."""
    return hll_estimate(
        hll_registers(df, group, col, m=m, hash_mode=hash_mode),
        group, m=m)


def hll_registers(
    df: DataFrame,
    group: str,
    col: str,
    *,
    m: int = 64,
    hash_mode: str = "portable",
) -> DataFrame:
    """The HLL register table ``(group, bucket, mj)`` — ≤ m rows per
    group, the sketch's entire state. ``mj = max(rho)`` per bucket is
    max-mergeable: registers built over disjoint data slices combine
    with :func:`hll_merge` into EXACTLY the registers of the full
    scan (max is associative/commutative/idempotent)."""
    return cells.build(df, [group], _hll_sketch(col, m, hash_mode))


def _hll_sketch(col: str, m: int, hash_mode: str) -> cells.Cells:
    """HLL as cells: each non-NULL value lands in one bucket, whose
    register folds ``max(rho)``."""
    bucket, rho = hll_bucket_rho(F.col(col), m, hash_mode)
    return cells.Cells(
        F.col(col).isNotNull(), ("bucket",),
        (bucket.alias("bucket"), rho.alias("rho")),
        F.max("rho").alias("mj"))


def hll_bucket_rho(col, m: int, hash_mode: str):
    """The per-row HLL ``(bucket, rho)`` expressions — shared by the
    batch register build and the streaming windowed form
    (``streaming/events.hll_windowed``); the state contract is the
    same either way: ``max(rho)`` per bucket."""
    if m < 16 or (m & (m - 1)) != 0:
        raise ValueError(f"m must be a power of two >= 16, got {m}")
    w = 60 - m.bit_length() + 1  # suffix bits: h < 2^60, bucket eats log2(m)
    h = hash60(col.cast("string"), hash_mode)
    # m is a power of two: >> keeps the division integer-exact (h has
    # 60 bits — a double division would round past 2^53)
    suffix = F.shiftright(h, m.bit_length() - 1)
    rho = F.when(
        suffix > 0,
        F.lit(w) - F.length(F.bin(suffix)) + 1,
    ).otherwise(F.lit(w + 1))
    return F.pmod(h, F.lit(m)), rho


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge HLL register tables bucket-wise (max per ``(group,
    bucket)``) — exact: the merged registers equal the registers of
    the concatenated data, so estimates through the merge are
    bit-identical to a full rescan. Same 100 TB maintenance shape as
    :func:`cms_merge`, with ≤ m rows of state per group."""
    return cells.merge(registers, F.max)


def hll_estimate(regs: DataFrame, group: str, *, m: int = 64) -> DataFrame:
    """Fold a register table into per-group estimates ``(group, est)``
    — the exact-integer power sum + linear-counting branch documented
    at :func:`hll_nunique`."""
    alpha_num = (F.lit(_hll_alpha(m)) * F.lit(m) * F.lit(m)
                 * F.lit(1 << 62).cast("double"))
    per_group = regs.groupBy(group).agg(
        (F.sum(F.expr("shiftleft(1L, 62 - mj)").cast("decimal(20,0)"))
         + (F.lit(m) - F.count(F.lit(1))).cast("decimal(20,0)")
         * F.lit(1 << 62).cast("decimal(20,0)")).alias("s"),
        (F.lit(m) - F.count(F.lit(1))).alias("v"),
    )
    e_raw = alpha_num / F.col("s").cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    return per_group.select(
        group, F.round(est).cast("long").alias("est"))


def sql_hll_nunique(
    group_expr: str,
    col_expr: str,
    table: str,
    *,
    m: int = 64,
) -> str:
    """DuckDB twin of :func:`hll_nunique` (portable mode): identical
    hash, bucketing, integer rho, exact power sum, constants, and
    branch."""
    w = 60 - m.bit_length() + 1
    h = sql_cms_hash(0, f"CAST({col_expr} AS VARCHAR)")
    alpha = _hll_alpha(m)
    return f"""
    WITH hashed AS (
      SELECT {group_expr} AS grp, {h} AS h
      FROM {table} WHERE {col_expr} IS NOT NULL
    ), rows_ AS (
      SELECT grp, h % {m} AS bucket, h // {m} AS suffix FROM hashed
    ), regs AS (
      SELECT grp, bucket,
             MAX(CASE WHEN suffix > 0
                      THEN {w} - LENGTH(BIN(suffix)) + 1
                      ELSE {w + 1} END) AS mj
      FROM rows_ GROUP BY 1, 2
    ), per_group AS (
      SELECT grp,
             SUM(CAST(1::BIGINT << (62 - mj) AS HUGEINT))
               + CAST({m} - COUNT(*) AS HUGEINT)
                 * CAST(1::BIGINT << 62 AS HUGEINT) AS s,
             {m} - COUNT(*) AS v
      FROM regs GROUP BY 1
    )
    SELECT grp,
           CAST(ROUND(CASE
             WHEN (CAST({alpha} AS DOUBLE) * {m} * {m}
                     * CAST(1::BIGINT << 62 AS DOUBLE))
                    / CAST(s AS DOUBLE) <= {2.5 * m} AND v > 0
               THEN {float(m)} * LN({float(m)} / CAST(v AS DOUBLE))
             ELSE (CAST({alpha} AS DOUBLE) * {m} * {m}
                     * CAST(1::BIGINT << 62 AS DOUBLE))
                    / CAST(s AS DOUBLE)
           END) AS BIGINT) AS est
    FROM per_group
    """


def count_by_key(df: DataFrame, keys: Sequence[str] | str) -> DataFrame:
    """Per-key occurrence counts (map-side combined)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def heavy_hitters(
    df: DataFrame,
    keys: Sequence[str] | str,
    *,
    k: int = 20,
    min_count: int = 1,
) -> DataFrame:
    """Exact top-``k`` keys by occurrence count (count desc, then keys
    asc — a total order, so the result is deterministic under ties).

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: a per-
    partition bounded heap + driver merge of P·k candidate rows — the
    scalable distributed top-k (never a global sort of all keys).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    counted = count_by_key(df, keys).where(F.col("cnt") >= min_count)
    order = [F.col("cnt").desc()] + [F.col(c).asc() for c in keys]
    return counted.orderBy(*order).limit(k)


def heavy_hitters_approx(
    df: DataFrame,
    keys: Sequence[str] | str,
    *,
    support: float = 0.01,
) -> DataFrame:
    """Approximate heavy hitters: every key occurring in more than
    ``support`` fraction of rows is returned (possibly with false
    positives — no false negatives), in one pass with O(1/support)
    memory per column and no per-key shuffle.

    This is the 100 TB path: run it first to get a tiny candidate set,
    then exact-count only the candidates. Output: one row per candidate
    key value (exploded from Spark's array-valued ``freqItems`` result).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if not 0.0 < support < 1.0:
        raise ValueError(f"support must be in (0, 1), got {support}")
    freq = df.stat.freqItems(keys, support)
    col = f"{keys[0]}_freqItems" if len(keys) == 1 else None
    if col is None:
        raise ValueError("heavy_hitters_approx supports a single key column")
    return freq.select(F.explode(col).alias(keys[0]))


def heavy_hitters_approx_bounds_report(
    df: DataFrame,
    key: str,
    *,
    support: float = 0.01,
) -> DataFrame:
    """The CHECKABLE CONTRACT for :func:`heavy_hitters_approx`
    (freqItems / Misra-Gries family — the approx set itself is
    stream-order-dependent, hence its gate is rows-only): one summary
    row ``(n_true_hitters, n_missed, approx_size_ok)`` asserting the
    two guarantees that hold for EVERY stream order —

    - **no false negatives**: every key with exact count >
      ``support·N`` appears in the approx set (``n_missed`` = 0);
    - **bounded output**: the approx set has at most ``⌊1/support⌋``
      candidates (the Misra-Gries counter budget).

    ``n_true_hitters`` is exact, so the oracle recomputes it and pins
    the other two — a guarantee violation flips the value hash. Scale
    shape: one exact count aggregation (the audit's cost — the approx
    op alone is the production path), one freqItems pass, and a
    broadcast anti-join of the tiny true-hitter set."""
    if not 0.0 < support < 1.0:
        raise ValueError(f"support must be in (0, 1), got {support}")
    appr = heavy_hitters_approx(df, key, support=support)
    exact = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    n = exact.agg(F.sum("cnt").alias("n_total"))
    true_h = (
        exact.crossJoin(F.broadcast(n))
        .where(F.col("cnt").cast("double")
               > F.lit(support) * F.col("n_total").cast("double"))
    )
    t = true_h.agg(F.count(F.lit(1)).alias("n_true_hitters"))
    m = true_h.join(F.broadcast(appr), key, "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed"))
    sz = appr.agg(
        (F.count(F.lit(1)) <= F.lit(int(1.0 / support)))
        .alias("approx_size_ok"))
    return t.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(sz))


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    min_pairs: int = 3,
) -> DataFrame:
    """Market-basket co-occurrence with lift — the first (and usually
    only needed) pass of association mining: for every item pair that
    appears together in ≥ ``min_pairs`` baskets, the co-count, the
    per-item basket counts, and ``lift = n_ab·N / (n_a·n_b)``.

    Scale shape: pair generation is ARRAY ALGEBRA after one shuffle —
    baskets aggregate to a sorted distinct item array, and ordered
    pairs come from a nested ``transform``/``slice``/``flatten`` over
    that array (cost ∝ Σ basket_size², bounded by the largest basket,
    typically tens of items). Never the unbounded items⋈items
    self-join a naive SQL formulation runs (the DuckDB oracle DOES run
    that self-join — the point of the gate is that both roads agree).
    The pair count and item counts are map-side-combined aggregates;
    lift is a BIGINT/BIGINT division, engine-identical without
    rounding.
    """
    if min_pairs < 1:
        raise ValueError(f"min_pairs must be >= 1, got {min_pairs}")
    from pyspark import StorageLevel

    # feeds FOUR derivations (basket arrays, item counts x2 join
    # sides, total-basket count) — without the persist each one
    # re-runs the scan + distinct (guide §5: reused and expensive);
    # tracked — the cache rides the returned plan
    items = cachelife.track(df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK))
    n_orders = items.select(F.count_distinct("b").alias("n_baskets"))
    arr = items.groupBy("b").agg(F.array_sort(F.collect_set("i")).alias("a"))
    pairs = (
        arr.select(
            F.explode(
                F.flatten(F.transform(
                    "a",
                    lambda x, i: F.transform(
                        F.slice(F.col("a"), i + 2, F.size("a")),
                        lambda y: F.struct(x.alias("pa"), y.alias("pb")),
                    ),
                ))
            ).alias("p")
        )
        .select("p.*")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pairs)
    )
    cnt = items.groupBy("i").agg(F.count(F.lit(1)).alias("c"))
    ca = cnt.select(F.col("i").alias("pa"), F.col("c").alias("n_a"))
    cb = cnt.select(F.col("i").alias("pb"), F.col("c").alias("n_b"))
    return (
        pairs.join(ca, "pa").join(cb, "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa", "pb", "n_ab", "n_a", "n_b",
            ((F.col("n_ab") * F.col("n_baskets")).cast("double")
             / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
    )
