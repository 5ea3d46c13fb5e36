"""Gate queries for the training-data-pipeline operators (driver-brief
extensions): dedup, text analysis, similarity search, multimodal
plumbing, over the documents/embeddings fixtures.

Engine-portable ops (no hash functions) carry DuckDB oracles; the
hash-based ones (MinHash/SimHash/LSH — xxhash64 seeds differ per
engine by definition) register without oracle → the driver records the
weaker rows-only check, and pytest covers their semantics on synthetic
documents with known duplicates instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import datasplit as ds
from pandas_rust_algos_spark.operators import decontam as dc
from pandas_rust_algos_spark.operators import dedup as dd
from pandas_rust_algos_spark.operators import multimodal as mm
from pandas_rust_algos_spark.operators import similarity as sim
from pandas_rust_algos_spark.operators import text as tx
from pandas_rust_algos_spark.plans.registry import register
from pandas_rust_algos_spark.session import run_concurrently, tune
from pandas_rust_algos_spark.sources import load_table, spread


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, fanned out: every op here does expensive per-row work
    (shingle hashing, token scans, vector math), so a one-row-group
    scan must not pin the whole job to one task (sources.spread)."""
    tune(spark)
    return spread(load_table(spark, sf_dir, "documents"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return spread(load_table(spark, sf_dir, "embeddings"))


_NORM_SQL = (
    "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[.,!?;:]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


# ------------------------------------------------------------- exact dedup


@register(
    "dedup_exact",
    oracle=f"""
    SELECT MD5({_NORM_SQL}) AS content_hash,
           MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content (hash-groupBy, one shuffle of
    32-byte digests)."""
    return dd.dedup_exact(_docs(spark, sf_dir))


# -------------------------------------------------------------- text stats


@register(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           {tx.sql_token_count('text')} AS n_tokens,
           LENGTH(text) AS n_chars_text
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer, empty-normalized)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
    )


@register(
    "text_quality",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             LENGTH(text) AS n_chars,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\\s+'),
                 x -> x <> '')) AS n_tokens,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g'))
               AS punct,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))
               AS digits,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS spaces
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(punct AS DOUBLE) / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)
             AS punct_ratio,
           CAST(digits AS DOUBLE) / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)
             AS digit_ratio,
           CAST(spaces AS DOUBLE) / (CASE WHEN n_chars > 0 THEN n_chars ELSE 1 END)
             AS space_ratio,
           CASE WHEN n_tokens > 0
                THEN CAST(n_chars - spaces AS DOUBLE) / n_tokens END
             AS mean_token_len
    FROM b
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/digit/space ratios, mean token
    length — pure expression DAG."""
    return tx.quality_features(_docs(spark, sf_dir))


# ----------------------------------------------------------------- lang id


def _lang_id_oracle() -> str:
    scores = tx.sql_lang_scores("text")
    score_cols = ",\n           ".join(
        f"{sql} AS score_{lang}" for lang, sql in scores.items()
    )
    greatest = "GREATEST(" + ", ".join(f"score_{l}" for l in scores) + ")"
    case = " ".join(
        f"WHEN score_{l} = g THEN '{l}'" for l in scores
    )
    return f"""
    WITH s AS (SELECT doc_id, {score_cols} FROM documents),
    g AS (SELECT *, {greatest} AS g FROM s)
    SELECT doc_id, {', '.join('score_' + l for l in scores)},
           CASE WHEN g > 0 THEN CASE {case} END ELSE 'und' END AS lang_pred
    FROM g
    """


@register("lang_id", oracle=_lang_id_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword-hit scores + argmax
    (shared spec generates both the Spark expressions and the oracle)."""
    return tx.lang_id(_docs(spark, sf_dir))


# ------------------------------------------------------------- fingerprint


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, {tx.sql_fingerprint('text')} AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint (exact
    integer arithmetic — engine-portable)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", tx.fingerprint("text").alias("fp"))


def _simhash_portable_oracle(bits: int = 32) -> str:
    """DuckDB twin of the portable-hash SimHash fingerprint: same
    md5-prefix token hash, same per-bit ±1 sums, same sign fold (bit
    set iff sum > 0 — ties fold to 0 on both engines). Disjoint bits
    let the fold be a SUM of CASE terms instead of a bitwise-or
    chain."""
    tok_list = ("LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\\s+'), "
                "x -> x <> '')")
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits))
    fold = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for j in range(bits))
    return f"""
    WITH t AS (
      SELECT doc_id, UNNEST({tok_list}) AS tok FROM documents
    ), h AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(md5(tok), 1, 15) AS BIGINT) AS h
      FROM t
    ), b AS (
      SELECT doc_id, {sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({fold} AS BIGINT) AS simhash
    FROM b
    """


@register("simhash_fingerprints_portable",
          oracle=_simhash_portable_oracle())
def simhash_fingerprints_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints in PORTABLE hash mode (32 bits of the
    md5-prefix token hash): the oracle replays the per-bit ±1 sums and
    the sign fold exactly, proving the fingerprint construction the
    xxhash64 production path shares (``simhash_fingerprints`` stays
    the scale default with its planted-dupe tests)."""
    return dd.simhash(_docs(spark, sf_dir), bits=32, hash_mode="portable")


def _minhash_portable_oracle(num_hashes: int = 16, bands: int = 4,
                             threshold: float = 0.5,
                             max_bucket: int | None = None,
                             pair_pred: str | None = None) -> str:
    """DuckDB twin of the ENTIRE portable-hash minhash pipeline:
    shingles → md5-prefix minhashes → band buckets → candidate join →
    agreement-fraction estimate. Same md5 strings on both engines ⇒
    the approximate dedup index is provable, not just recall-tested
    (the xxhash64 default stays the scale path). ``max_bucket``
    replays the whale-bucket guard: buckets above it contribute their
    consecutive-id chain instead of all pairs (same window-count +
    lead construction as the Spark side). ``pair_pred`` (a template
    over ``{a}``/``{b}`` doc ids) restricts the candidate pairs —
    the incremental-store gate uses it to keep only new-touching
    pairs, which is exactly what the batch-vs-store join produces
    (signatures are a pure function of text + params, so the full
    replay filtered to those pairs IS the incremental result)."""
    rpb = num_hashes // bands

    def h60(sexpr: str) -> str:
        return f"CAST('0x' || SUBSTR(md5({sexpr}), 1, 15) AS BIGINT)"

    mins = ",\n             ".join(
        f"MIN({h60(chr(39) + str(i) + ':' + chr(39) + ' || sh')}) AS h{i}"
        for i in range(num_hashes))
    band_selects = []
    for b in range(bands):
        cols = [f"h{b * rpb + r}" for r in range(rpb)]
        concat = f"'{b}:' || " + " || ':' || ".join(
            f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {h60(concat)} AS bucket FROM h")
    matches = " + ".join(
        f"CAST(a.h{i} = b2.h{i} AS INT)" for i in range(num_hashes))
    shingle_sql = (
        "LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 4, 1) + 1), "
        "i -> SUBSTR(text, CAST(i AS INT), 5))")
    filt = ("" if pair_pred is None else
            " AND " + pair_pred.format(a="x.doc_id", b="y.doc_id"))
    if max_bucket is None:
        cand = f"""cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bk x JOIN bk y
        ON x.band = y.band AND x.bucket = y.bucket
       AND x.doc_id < y.doc_id{filt}
    )"""
    else:
        cand = f"""bk2 AS (
      SELECT doc_id, band, bucket,
             COUNT(*) OVER (PARTITION BY band, bucket) AS bn
      FROM bk
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bk2 x JOIN bk2 y
          ON x.band = y.band AND x.bucket = y.bucket
         AND x.doc_id < y.doc_id
        WHERE x.bn <= {max_bucket} AND y.bn <= {max_bucket}
        UNION ALL
        SELECT doc_id AS id_a,
               LEAD(doc_id) OVER (PARTITION BY band, bucket
                                  ORDER BY doc_id) AS id_b
        FROM bk2 WHERE bn > {max_bucket}
      ) WHERE id_b IS NOT NULL
    )"""
    return f"""
    WITH g AS (
      SELECT DISTINCT doc_id, UNNEST({shingle_sql}) AS sh FROM documents
    ), h AS (
      SELECT doc_id, {mins}
      FROM g GROUP BY doc_id
    ), bk AS ({' UNION ALL '.join(band_selects)}),
    {cand}
    SELECT c.id_a, c.id_b,
           CAST(({matches}) AS DOUBLE) / {num_hashes} AS est_jaccard
    FROM cand c
    JOIN h a ON a.doc_id = c.id_a
    JOIN h b2 ON b2.doc_id = c.id_b
    WHERE CAST(({matches}) AS DOUBLE) / {num_hashes} >= {threshold}
    """


@register("minhash_near_dupes_portable",
          oracle=_minhash_portable_oracle())
def minhash_near_dupes_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection in PORTABLE hash mode: every
    stage (shingle minhashes, band buckets, candidate pairs, the
    jaccard estimate) replays in the DuckDB oracle from the same
    md5-prefix hashes — a full value-hash proof of the banding logic
    the xxhash64 production path shares (that path stays the 100 TB
    default and keeps its planted-dupe recall gate,
    ``minhash_near_dupes``)."""
    return dd.minhash_near_dupes(
        _docs(spark, sf_dir), num_hashes=16, bands=4,
        threshold=0.5, hash_mode="portable")


@register(
    "minhash_store_incremental",
    oracle=_minhash_portable_oracle(
        pair_pred="({a} % 5 = 0 OR {b} % 5 = 0)"),
)
def minhash_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup through a PERSISTED signature store
    (`operators/minhash_store.py` — the 100 TB ingest shape: the
    corpus is never re-shingled; the durable artifact is the
    ~256 B/doc signature parquet). The gate builds the store from the
    doc_id % 5 != 0 docs, then ingests the % 5 == 0 batch: one
    shingle pass over the BATCH only, a narrow scan of the stored
    signatures, one (band, bucket) join, and the in-place agreement
    estimate. Because signatures are a pure function of (text, frozen
    params), the result equals the full-corpus portable pipeline
    restricted to new-touching pairs — which is exactly what the
    DuckDB oracle replays (the shared portable-oracle builder with a
    pair predicate).

    Bootstrap ∥ probe bands: the batch's band table reads only the
    frozen ``meta.json`` (signatures are a pure function of text +
    params), so once the params are frozen it is independent of the
    bootstrap signature write — the two jobs overlap from a 2-thread
    pool (guide §2.6, the ``minhash_store_stream_ingest`` recipe);
    only the (band, bucket) join against the STORED signatures waits
    on both."""
    import tempfile

    from pandas_rust_algos_spark.operators.minhash_store import (
        batch_band_table,
        freeze_minhash_params,
        minhash_store_near_dupes,
        write_minhash_store,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    idx = tempfile.mkdtemp(prefix="mh_store_gate_")
    freeze_minhash_params(idx, num_hashes=16, bands=4,
                          hash_mode="portable")

    def bootstrap() -> None:
        spark.sparkContext.setJobDescription(
            "minhash_store_incremental: bootstrap sigs")
        write_minhash_store(
            docs.where(F.col("doc_id") % 5 != 0), idx,
            num_hashes=16, bands=4, hash_mode="portable")

    def probe_bands() -> DataFrame:
        spark.sparkContext.setJobDescription(
            "minhash_store_incremental: batch band table")
        from pandas_rust_algos_spark import cachelife

        b = cachelife.track(batch_band_table(idx, batch).persist())
        b.count()  # materialize into the cache while bootstrap runs
        return b

    _, b_new = run_concurrently(bootstrap, probe_bands)
    return minhash_store_near_dupes(
        spark, idx, batch, threshold=0.5, new_bands=b_new)


@register(
    "minhash_store_stream_ingest",
    oracle=_minhash_portable_oracle(
        pair_pred="({a} % 5 = 0 OR {b} % 5 = 0)"),
)
def minhash_store_stream_ingest(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """STREAMING ingest for the persisted signature store — the Bloom
    store's screen-at-ingest twin for the dedup family (r9 VERDICT
    next-#5): the doc_id % 5 == 0 batch arrives as a Structured
    Streaming source, each micro-batch computes signatures under the
    store's FROZEN params inside foreachBatch and lands in a
    batch_id partition dir (dynamic partition overwrite → replay-
    idempotent, the ``sinks.write_stream_partitioned`` recipe). After
    the drain, the near-dup audit runs FROM THE STORE ALONE
    (``minhash_store_pairs`` — no re-shingling, both join sides are
    the ~256 B/doc signature parquet). Signatures are a pure function
    of (text, frozen params), so drained-stream state ≡ batch append ≡
    the full-corpus portable pipeline filtered to new-touching pairs —
    the SAME DuckDB oracle as ``minhash_store_incremental``, which is
    the equivalence the gate pins cross-engine.

    Bootstrap ∥ drain: both ingest surfaces read only the frozen
    ``meta.json`` and write DISJOINT store paths (``sigs.parquet`` vs
    ``sigs_stream.parquet/batch_id=*``), so once the params are frozen
    the bootstrap signature job and the stream drain are independent —
    they run overlapped from a 2-thread pool (guide §2.6) and only the
    post-drain audit waits on both."""
    import tempfile

    from pandas_rust_algos_spark.operators.minhash_store import (
        freeze_minhash_params,
        minhash_store_pairs,
        stream_ingest_minhash_store,
        write_minhash_store,
    )
    from pandas_rust_algos_spark.streaming import events as se

    docs = _docs(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="mh_store_stream_gate_")
    freeze_minhash_params(idx, num_hashes=16, bands=4,
                          hash_mode="portable")
    # single-file FileStreamSource = one task/microbatch: fan out
    # before the shingle hashing (the docs_stream_bloom_screen lesson)
    stream = (
        se.read_table_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ckpt = tempfile.mkdtemp(prefix="mh_store_stream_ckpt_")

    def bootstrap() -> None:
        spark.sparkContext.setJobDescription(
            "minhash_store_stream_ingest: bootstrap sigs")
        write_minhash_store(
            docs.where(F.col("doc_id") % 5 != 0), idx,
            num_hashes=16, bands=4, hash_mode="portable")

    def drain() -> None:
        spark.sparkContext.setJobDescription(
            "minhash_store_stream_ingest: stream drain")
        stream_ingest_minhash_store(idx, stream, checkpoint=ckpt)

    run_concurrently(bootstrap, drain)
    return minhash_store_pairs(
        spark, idx, docs.where(F.col("doc_id") % 5 == 0),
        threshold=0.5)


@register("minhash_near_dupes_capped",
          oracle=_minhash_portable_oracle(max_bucket=4))
def minhash_near_dupes_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHALE-BUCKET guard, oracle-proven (r7 VERDICT next-#6):
    portable-hash MinHash+LSH with ``max_bucket=4`` — small enough
    that real sf0.01 buckets (sizes up to 7) route through the
    consecutive-id chain, so the capped branch (window count + lead
    sharing one (band, bucket) partitioning, n−1 pairs per whale) is
    exercised and hash-matched against the DuckDB replay, not just
    unit-tested. The production xxhash64 gate wires the guard at
    1000; tests/test_dedup.py proves chain-vs-all-pairs cluster
    equality on planted whales."""
    return dd.minhash_near_dupes(
        _docs(spark, sf_dir), num_hashes=16, bands=4,
        threshold=0.5, hash_mode="portable", max_bucket=4)


@register("dup_spans", oracle=dd.sql_duplicated_spans(k=8, min_run=2))
def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022): per-document
    duplicated-span statistics from shingled k-token window
    fingerprints — the verbatim-boilerplate detector that document-
    level near-dup misses. The oracle replays the ENTIRE pipeline
    (tokenizer, md5-prefix window hashes, distinct-document
    duplication rule, gaps-and-islands consecutive-run algebra) from
    the same expressions, so the value hash proves window alignment,
    run lengths, and the flag threshold, not just row counts."""
    return dd.duplicated_spans(_docs(spark, sf_dir), k=8, min_run=2)


@register(
    "stratified_top_n",
    oracle=ds.sql_stratified_top_n(
        "documents", "lang", "doc_id", 5,
        cols="lang, doc_id, n_chars"),
)
def stratified_top_n_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-size per-stratum sampling
    (``operators/datasplit.stratified_top_n``): exactly 5 documents
    per language by salted-md5 rank — the fixed-budget companion to
    the fraction-based ``stratified_sample`` (small strata get the
    exact quota a fraction would over/undershoot). Membership is a
    pure row property (stable under retries/partitionings, nested
    under growing budgets); the oracle replays hash, rank, and tie
    key, so the value hash pins the EXACT selected set."""
    return ds.stratified_top_n(
        _docs(spark, sf_dir), "lang", "doc_id", 5
    ).select("lang", "doc_id", "n_chars")


@register(
    "kmeans_clusters",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.kmeans",
        fromlist=["sql_kmeans_fixed"],
    ).sql_kmeans_fixed("embeddings", k=4, iters=2),
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable fixed-point k-means (``operators/kmeans.py``), the
    engine-replayable clustering variant: md5-seeded starts, exact
    BIGINT micro-unit distances, floor-division centroid updates —
    every iteration's state is integers, so the DuckDB oracle unrolls
    the SAME two Lloyd cycles as chained CTEs and the final
    (cluster, dist_sq) assignment hash-matches bit-exactly. Turns the
    "k-means is engine-specific" oracle floor (the reason
    ann_ivf_topk is rows-only) into a provable op for reproducible
    corpus bucketing; the float k-means stays the ANN-index default."""
    from pandas_rust_algos_spark.operators.kmeans import kmeans_fixed

    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    return kmeans_fixed(e, "vec_id", "embedding", k=4, iters=2)


@register(
    "decontam_semantic",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.decontam",
        fromlist=["sql_decontaminate_semantic"],
    ).sql_decontaminate_semantic(
        "(SELECT * FROM embeddings WHERE label <> 0)",
        "(SELECT * FROM embeddings WHERE label = 0)",
        id_col="vec_id", threshold=0.4),
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (``operators/decontam.py:
    decontaminate_semantic``) — the paraphrase tier of the decontam
    family: flag corpus embeddings whose cosine to ANY benchmark
    embedding clears the threshold (reworded benchmark leakage that
    gram/span overlap misses). Benchmark side broadcasts; cosine is
    the quantized exact-integer recipe, so max_cosine AND the
    (cos DESC, id ASC) nearest-benchmark argmax hash-match with no
    rounding bucket. Threshold 0.4 is fixture-tuned so the
    contaminated path is exercised (the synthetic embeddings have no
    0.95-level neighbors; real corpora run 0.9+)."""
    from pandas_rust_algos_spark.operators.decontam import (
        decontaminate_semantic,
    )

    e = _emb(spark, sf_dir)
    return decontaminate_semantic(
        e.where(F.col("label") != 0), e.where(F.col("label") == 0),
        id_col="vec_id", threshold=0.4)


@register(
    "dsir_weights",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.dsir",
        fromlist=["sql_dsir_log_weights"],
    ).sql_dsir_log_weights(
        "(SELECT * FROM documents WHERE lang <> 'en')",
        "(SELECT * FROM documents WHERE lang = 'en')",
        n=2, buckets=1024),
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (``operators/dsir.py``, Xie et
    al. 2023): every non-English document scored by the log likelihood
    ratio of its hashed-bigram profile under the English target model
    vs the raw model — the data-selection score a pretraining pipeline
    ranks on. Hashed models are ≤ buckets rows per side (broadcast);
    per-(doc, bucket) terms floor to pico-units so the weight is
    partitioning- and engine-exact; the oracle replays tokenizer,
    hash, bucketing, smoothing, and flooring end to end."""
    from pandas_rust_algos_spark.operators.dsir import dsir_log_weights

    d = _docs(spark, sf_dir)
    return dsir_log_weights(
        d.where(F.col("lang") != "en"),
        d.where(F.col("lang") == "en"),
        n=2, buckets=1024)


@register(
    "token_drift_kl",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.drift",
        fromlist=["sql_token_kl_divergence"],
    ).sql_token_kl_divergence(
        "(SELECT * FROM documents WHERE lang <> 'en')",
        "(SELECT * FROM documents WHERE lang = 'en')",
        group="lang"),
)
def token_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-domain drift (``operators/drift.token_kl_divergence``):
    per-language add-1-smoothed token-distribution KL divergence
    against the English slice — the corpus-shift score for "did this
    ingest batch move away from the training distribution" (numeric
    columns use ``drift_report``; this is the token sibling). Terms
    floor to integer pico-units before summing (the ``doc_lm_score``
    recipe), so the divergence itself — not a bucketing of it —
    hash-matches the DuckDB replay exactly."""
    from pandas_rust_algos_spark.operators.drift import (
        token_kl_divergence,
    )

    tune(spark)
    d = _docs(spark, sf_dir)
    return token_kl_divergence(
        d.where(F.col("lang") != "en"),
        d.where(F.col("lang") == "en"),
        group="lang")


@register(
    "decontam_spans",
    oracle=dc.sql_decontaminate_spans(
        "(SELECT * FROM documents WHERE source <> 'src0')",
        "(SELECT * FROM documents WHERE source = 'src0')",
        k=8, min_run=1),
)
def decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level decontamination
    (``operators/decontam.decontaminate_spans``): corpus documents
    (source != src0) are flagged when they share a VERBATIM 8-token
    span with the held-out benchmark slice (src0) — the consecutive-
    window check labs actually run before training on eval sets,
    stricter in kind than the distinct-gram overlap of
    ``decontaminate``. The oracle replays windows, hashes, the
    benchmark probe, and the run algebra, so the hash proves per-doc
    contamination counts AND run lengths for every corpus document."""
    d = _docs(spark, sf_dir)
    return dc.decontaminate_spans(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        k=8, min_run=1)


@register(
    "tiff_media_features",
    oracle="""
    WITH px AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 127.0) AS BIGINT) + 128) AS p
      FROM embeddings
    )
    SELECT vec_id AS media_id, 'image/tiff' AS modality,
           CAST(4 AS DOUBLE) AS f0, CAST(4 AS DOUBLE) AS f1,
           CAST(list_aggregate(p, 'sum') AS DOUBLE) / 48 AS f2,
           CAST(3 AS DOUBLE) AS f3,
           md5(array_to_string(p, ',')) AS check_md5
    FROM px
    """,
)
def tiff_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode, hash-checked end-to-end (``operators/tiff.py``):
    embeddings quantize to 4x4 RGB pixels and encode as real
    multi-strip TIFF payloads varying BY ID — little-endian ``II``
    for even ids, BIG-endian ``MM`` for odd, TIFF-LZW compression for
    ids ≡ 2 (mod 4), LZW + horizontal-differencing predictor for
    ids ≡ 3 (mod 4) — so ONE gate covers both byte orders, strip
    reassembly, the from-scratch LZW entropy decoder (MSB-first,
    early-change — r9), and the predictor inversion. The oracle
    recomputes the quantization straight from the source table;
    check_md5 over the canonical pixel CSV proves every strip read,
    offset walk, byte-order swap, and LZW bit walk value-exactly."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.image_media_from_vecs(
        e, "vec_id", "embedding", height=4, width=4, codec="tiff")
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


@register(
    "hashing_features",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.tfidf",
        fromlist=["sql_hashing_vectorize"],
    ).sql_hashing_vectorize(dim=64),
)
def hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. ICML'09;
    ``operators/tfidf.hashing_vectorize``): fixed-64-dim signed
    term-count vectors with no vocabulary pass — the cheap featurizer
    for classifiers/clustering over a corpus too large for a
    vocabulary build. The vector is serialized to a comma-joined
    string so the DuckDB replay (same tokenizer, same md5-prefix
    bucket and sign hashes, same signed sums) pins every element and
    its order."""
    from pandas_rust_algos_spark.operators.tfidf import hashing_vectorize

    tune(spark)
    v = hashing_vectorize(_docs(spark, sf_dir), dim=64)
    return v.select(
        "doc_id",
        F.concat_ws(",", F.transform(
            "vec", lambda x: x.cast("string"))).alias("vec_csv"),
    )


@register("dup_spans_strip",
          oracle=dd.sql_strip_duplicated_spans(k=8, min_run=2))
def dup_spans_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL action of substring-level dedup (Lee et al. 2022
    ExactSubstr): every flagged verbatim span (>= k + min_run - 1
    shared tokens) is deleted from every document and the text
    re-joined. The oracle replays windows, hashes, qualifying-run
    intervals, the per-token coverage filter, and the re-join — the
    value hash therefore proves the exact SET OF TOKENS REMOVED, the
    strongest possible check of a destructive text op."""
    return dd.strip_duplicated_spans(_docs(spark, sf_dir), k=8, min_run=2)


# --------------------------------------------------------- n-gram jaccard


@register(
    "ngram_jaccard",
    oracle="""
    WITH g AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LENGTH(text) - 4, 1) + 1),
               i -> SUBSTR(text, CAST(i AS INT), 5))) AS g
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM g a JOIN g b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs blocked by lang — the
    oracle-checkable dedup; candidate pairs meet via the gram join,
    never a cross join."""
    return dd.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)


@register(
    "jaccard_prefix_join",
    oracle="""
    WITH g AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LENGTH(text) - 4, 1) + 1),
               i -> SUBSTR(text, CAST(i AS INT), 5))) AS g
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM g a JOIN g b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
    """,
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join
    (``operators/dedup.jaccard_prefix_pairs``) at the high-threshold
    near-dup setting (t=0.8) — each doc joins only on its
    ``n - ceil(t*n) + 1`` globally-RAREST grams, so corpus-common
    shingles never generate candidates, then survivors verify exactly
    via sorted-gram-array intersection. The oracle is the BRUTE-FORCE
    pair set: prefix filtering is provably lossless (the prefix
    lemma), so result equality — not recall — is the contract."""
    return dd.jaccard_prefix_pairs(_docs(spark, sf_dir), threshold=0.8)


# --------------------------------------------------- duplicate clusters


@register(
    "dup_clusters",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, GREATEST(LENGTH(text) - 4, 1) + 1),
               i -> SUBSTR(text, CAST(i AS INT), 5))) AS g
      FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM g a JOIN g b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                 JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to connected components (hash-min label
    propagation, one shuffle per round, lineage checkpointed). The
    oracle computes the same components via a recursive transitive
    closure over the same jaccard-0.2 edges — tractable for DuckDB at
    gate scale, quadratic-in-component-size at real scale, which is
    exactly why the distributed form exists."""
    d = _docs(spark, sf_dir)
    pairs = dd.ngram_jaccard_pairs(d, threshold=0.2)
    return dd.dup_clusters(pairs, d.select("doc_id"))


# ------------------------------------------- hash-based dedup (rows-only)


@register("minhash_near_dupes")
def minhash_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (32 hashes, 8 bands; est.
    jaccard ≥ 0.5). xxhash64-based → no cross-engine oracle; semantics
    unit-tested on synthetic dupes in tests/test_dedup.py. The scale
    default wires the whale-bucket guard at 1000 (r7 next-#6): no
    realistic near-dupe cluster is touched, but a degenerate
    boilerplate bucket at 100 TB chains linearly instead of exploding
    quadratically (the capped path itself is oracle-proven by
    ``minhash_near_dupes_capped``)."""
    return dd.minhash_near_dupes(_docs(spark, sf_dir), threshold=0.5,
                                 max_bucket=1000)


@register("simhash_fingerprints")
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (rows-only check; semantics
    unit-tested)."""
    return dd.simhash(_docs(spark, sf_dir))


# ------------------------------------------------------------- similarity


@register(
    "cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT qid, vec_id,
             ROUND(LIST_DOT_PRODUCT(qv, v) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))),
                   6) AS sim
      FROM q, c WHERE qid <> vec_id
    ), r AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s
    )
    SELECT qid AS query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 10 query vectors — broadcast
    queries, zip_with/aggregate cosine, per-query window top-k."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.cosine_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "sim",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlbl, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT qid, vec_id, label,
             ROUND(LIST_DOT_PRODUCT(qv, v) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))),
                   6) AS sim
      FROM q, c WHERE qid <> vec_id AND label IS DISTINCT FROM qlbl
    ), r AS (
      SELECT qid, vec_id, label, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s
    )
    SELECT qid AS query_id, vec_id, label, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (``similarity.hard_negative_topk``): per anchor, the top-5 most
    similar vectors of a DIFFERENT label — the negatives that carry
    gradient. Same broadcast/rank shape and round-6 + id-tie-break
    determinism recipe as ``cosine_topk``; the cross-label restriction
    is the only delta, and the oracle replays it with
    IS DISTINCT FROM null semantics."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    out = sim.hard_negative_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "label", "sim",
                      F.col("rank").cast("long").alias("rank"))


def _lsh_oracle(planes: int = 24, dims: int = 64,
                band_bits: int = 4, k: int = 5) -> str:
    """DuckDB twin of the full LSH pipeline. The ±1 hyperplane weights
    come from the same deterministic integer hash the engine bakes
    into its plan (``similarity._plane_weight``), so signatures,
    band buckets, candidate pairs, and the final ranked top-k are all
    replayable — an APPROXIMATE index with an EXACT oracle. Projection
    sign uses the same left-to-right double summation on both engines."""
    from pandas_rust_algos_spark.operators.similarity import _plane_weight

    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            p, ",".join(str(_plane_weight(p, d)) for d in range(dims)))
        for p in range(planes)
    )
    nbands = planes // band_bits
    mask = (1 << band_bits) - 1
    return f"""
    WITH planes(p, w) AS (VALUES {rows}),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
      SELECT vec_id,
             CAST(BIT_OR(CASE WHEN list_dot_product(v.v, planes.w) > 0
                  THEN CAST(1 AS BIGINT) << p
                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      FROM v, planes GROUP BY vec_id),
    bands AS (SELECT UNNEST(range({nbands})) AS band),
    cb AS (SELECT vec_id, band,
                  (sig >> (band * {band_bits})) & {mask} AS bucket
           FROM sig, bands),
    qb AS (SELECT vec_id AS qid, band, bucket FROM cb WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT qb.qid, cb.vec_id
      FROM qb JOIN cb USING (band, bucket)
      WHERE qb.qid <> cb.vec_id),
    s AS (
      SELECT c.qid, c.vec_id,
             ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                   (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) *
                    SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) AS sim
      FROM cand c
      JOIN v a ON a.vec_id = c.qid
      JOIN v b ON b.vec_id = c.vec_id),
    r AS (SELECT qid, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim DESC, vec_id) AS rn
          FROM s)
    SELECT qid AS query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= {k}
    """


@register("ann_lsh_topk", oracle=_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH bucketing, FULLY
    oracle-checked: the DuckDB twin replays signature bits, band
    buckets, the bucket-join candidate set, and the ranked exact-cosine
    top-k from the same plan-literal hyperplanes (``_lsh_oracle``) —
    the approximation itself is deterministic, so it is provable, not
    just recall-tested (recall vs brute force additionally asserted in
    tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.lsh_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "sim",
                      F.col("rank").cast("long").alias("rank"))


@register("ann_pq_topk")
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via product quantization with exact shortlist
    re-rank — the compressed-corpus ANN tier (codes are ~32× smaller
    than the embeddings; the float pass touches only |queries|·rerank
    rows). Rows-only; recall vs brute force asserted in
    tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.pq_topk(emb, queries, k=5, m=8, k_codes=16, rerank=100,
                      dims=64)
    return out.select("query_id", "vec_id", "exact_dot",
                      F.col("rank").cast("long").alias("rank"))


@register("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via IVF (k-means coarse quantizer, 4-of-16 cell
    probes) — the data-adaptive ANN tier; recall vs brute force
    asserted in tests/test_similarity.py."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "sim",
                      F.col("rank").cast("long").alias("rank"))


@register("ann_ivfpq_topk")
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The float COMPOSED IVF+PQ production default
    (``similarity.ivfpq_topk``): coarse cells prune the code-table
    scan to ~n_probe/n_cells per query, residual-trained PQ codes
    ADC-score what remains (cell-independent per-query score tables +
    a per-probe scalar base), exact re-rank of the 100-candidate
    shortlist. Float k-means quantizers ⇒ rows-only like its
    ``ann_ivf_topk``/``ann_pq_topk`` ingredients (recall + rerank
    floors asserted in tests/test_similarity.py); the bit-exact
    oracled twins are ``ann_ivfpq_topk_portable`` and the persisted
    ``ann_ivfpq_index_read``."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivfpq_topk(emb, queries, k=5, n_cells=16, n_probe=6, dims=64,
                         m=8, k_codes=16, rerank=100)
    return out.select("query_id", "vec_id", "exact_dot",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "ann_float_recall_bounds",
    oracle="""
    WITH q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
               FROM embeddings WHERE vec_id < 10)
    SELECT 'ivf' AS tier, n_queries, CAST(5 AS BIGINT) AS k,
           TRUE AS recall_ok FROM q
    UNION ALL
    SELECT 'pq' AS tier, n_queries, CAST(5 AS BIGINT) AS k,
           TRUE AS recall_ok FROM q
    UNION ALL
    SELECT 'ivfpq' AS tier, n_queries, CAST(5 AS BIGINT) AS k,
           TRUE AS recall_ok FROM q
    """,
)
def ann_float_recall_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLED companion to the rows-only float ANN trio (r9
    VERDICT next-#6, the ``group_approx_stats`` bounds-report recipe): the
    float-k-means tiers can't be value-replayed by DuckDB, so this
    gate computes each tier AND its exact brute-force baseline in one
    plan (``similarity.ann_recall_report``) and emits per-tier
    booleans asserting mean recall ≥ floor — which the oracle pins
    TRUE, so an index-quality regression flips the value hash.
    Measured mean recalls at the floors' margins: ivf 0.60-0.62,
    pq 0.68-0.94, ivfpq 0.46-0.64 across sf0.01/sf0.1 vs floors
    0.3/0.4/0.25 (loose because k-means cell shapes move with
    partitioning; still 15-100× above random K-of-N). The rows-only
    trio keeps its scale-default role."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ann_recall_report(emb, queries, k=5, dims=64)


@register(
    "ann_ivf_topk_portable",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.ann_portable",
        fromlist=["sql_ivf_topk_fixed"],
    ).sql_ivf_topk_fixed(k=5, n_cells=8, n_probe=3, iters=2),
)
def ann_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in PORTABLE fixed-point mode
    (``operators/ann_portable.py``): the coarse quantizer is
    ``kmeans_fixed`` (md5 seeds, exact BIGINT micro-unit distances,
    floor-division updates), cell assignment / probe selection /
    in-cell scoring are all exact-integer with (distance, id) tie
    rules — so the DuckDB oracle replays the ENTIRE index-and-search
    pipeline (Lloyd CTE chains, argmin assignment, top-3-of-8 probes,
    in-cell top-5) and the neighbor lists hash-match bit-exactly.
    Converts the rows-only ``ann_ivf_topk`` check into a provable op;
    the float path stays the 100 TB default (same split as
    minhash_near_dupes vs _portable, SURVEY §8)."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        ivf_topk_fixed,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_fixed(emb, queries, k=5, n_cells=8, n_probe=3,
                          iters=2)


@register(
    "ann_pq_topk_portable",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.ann_portable",
        fromlist=["sql_pq_topk_fixed"],
    ).sql_pq_topk_fixed(k=5, m=4, k_codes=8, iters=2, dims=64),
)
def ann_pq_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN in PORTABLE fixed-point mode: per-subspace sub-codebooks
    from seed-salted ``kmeans_fixed``, exact-integer corpus encoding,
    and an exact-integer ADC score ``Σ_j d²(q_j, codebook[j][code_j])``
    — the oracle unrolls all four Lloyd chains plus encoding and
    scoring, proving the quantize→encode→ADC algebra end to end
    (the float path keeps its recall gate in tests)."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        pq_topk_fixed,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk_fixed(emb, queries, k=5, m=4, k_codes=8, iters=2,
                         dims=64)


@register(
    "ann_ivfpq_topk_portable",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.ann_portable",
        fromlist=["sql_ivfpq_topk_fixed"],
    ).sql_ivfpq_topk_fixed(k=5, n_cells=8, n_probe=3, m=4, k_codes=8,
                           iters=2, dims=64),
)
def ann_ivfpq_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED IVF+PQ retrieval in portable fixed-point mode — the
    production 100 TB ANN shape (r7 VERDICT next-#4): coarse cells
    prune the corpus to ~n_probe/n_cells per query, PQ-ADC scores only
    the probed cells' RESIDUAL codes (Jégou et al. 2011 IVF-ADC), and
    every quantity stays on the integer micro-unit grid — so the
    DuckDB oracle unrolls coarse Lloyd, assignment, residuals, four
    residual sub-codebook Lloyd chains, encoding, probing, and the ADC
    sum end to end and the neighbor lists hash-match bit-exactly.
    Composes the two already-oracled ingredients (ann_ivf/ann_pq); the
    float composition is ``similarity.ivfpq_topk`` (recall-gated
    in tests/test_similarity.py)."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        ivfpq_topk_fixed,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_fixed(emb, queries, k=5, n_cells=8, n_probe=3,
                            m=4, k_codes=8, iters=2, dims=64)


@register(
    "ann_ivfpq_rerank_topk",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.ann_portable",
        fromlist=["sql_ivfpq_topk_fixed"],
    ).sql_ivfpq_topk_fixed(k=5, n_cells=8, n_probe=3, m=4, k_codes=8,
                           iters=2, dims=64, rerank_k=20),
)
def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable IVF+PQ with EXACT SHORTLIST RERANK (r8 VERDICT
    next-#4): the ADC top-20 shortlist per query joins back to the
    integer vectors and re-ranks on exact BIGINT distances — the
    option the float composition already had, now on the oracle-able
    grid. The rerank pass touches |queries|·rerank_k rows only (the
    100 TB contract: exactness priced per shortlist, never per
    corpus); the DuckDB twin replays training, ADC, the shortlist
    cut, and the exact re-rank bit-exactly. The recall improvement
    over pure ADC is asserted in tests/test_ann_portable.py."""
    from pandas_rust_algos_spark.operators.ann_portable import (
        ivfpq_topk_fixed,
    )

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk_fixed(emb, queries, k=5, n_cells=8, n_probe=3,
                            m=4, k_codes=8, iters=2, dims=64,
                            rerank_k=20)


@register(
    "semantic_dedup",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.semdedup",
        fromlist=["sql_semantic_dedup"],
    ).sql_semantic_dedup(k=4, iters=2, threshold=0.35),
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (``operators/semdedup.py``):
    fixed-point-k-means clusters over the embeddings, within-cluster
    cosine pairs, greedy keep-lowest-id representatives — composed
    from the two already-oracled ingredients (``kmeans_clusters``,
    ``embedding_near_dupes``), so the DuckDB oracle unrolls the SAME
    Lloyd chains then replays pairing and the drop rule. Returns every
    row with its cluster and kept flag; the value hash is an exact-
    membership proof. Threshold 0.35 is fixture-tuned so the drop path
    is actually exercised (the synthetic embeddings have no 0.95-level
    near-dupes; real corpora run 0.95+, see module docstring)."""
    from pandas_rust_algos_spark.operators.semdedup import semantic_dedup

    return semantic_dedup(
        _emb(spark, sf_dir), k=4, iters=2, threshold=0.35)


@register(
    "embedding_near_dupes",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                 (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))),
                 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v) /
                (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))),
                6) >= 0.95
    """,
)
def embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by cluster label."""
    return dd.embedding_near_dupes(_emb(spark, sf_dir), threshold=0.95)


# ------------------------------------------------------------- multimodal


@register(
    "media_features",
    oracle=r"""
    SELECT doc_id AS media_id, 'text/utf-8' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(length(text) AS DOUBLE) AS f0,
           CAST(CASE WHEN trim(text)='' THEN 0 ELSE
                length(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) AS f1,
           CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) AS f2,
           CAST(CASE WHEN trim(text)='' THEN 0 ELSE
                length(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS DOUBLE) AS f3,
           md5(text) AS check_md5
    FROM documents
    UNION ALL
    SELECT vec_id AS media_id, 'vec/f32le' AS modality,
           CAST(4 * length(embedding) AS BIGINT) AS n_bytes,
           CAST(length(embedding) AS DOUBLE) AS f0,
           CAST(list_aggregate(list_transform(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)), 'sum')
                AS DOUBLE) / 1e6 AS f1,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS f2,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS f3,
           NULL AS check_md5
    FROM embeddings
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, hash-checked end-to-end: documents' UTF-8
    bytes and embeddings packed as little-endian float32 payloads are
    both REALLY decoded (bytes → str / bytes → float array) inside the
    Arrow-batched mapInPandas path, then featurized with
    oracle-expressible exact features — DuckDB computes the same values
    straight from the source tables, so any decode corruption breaks
    the hash match (the text md5 proves the round-trip byte-exactly)."""
    tune(spark)
    # capped fan-out: each partition here spawns a Python worker
    # (mapInPandas), so tiny inputs should pay ≤8 interpreter startups
    d = spread(load_table(spark, sf_dir, "documents"), cap=8)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    tmedia = mm.as_media(d, "doc_id", "text", "text/utf-8")
    vmedia = mm.vec_media(e, "vec_id", "embedding")
    return mm.extract_features(tmedia).unionByName(
        mm.extract_features(vmedia)
    )


@register(
    "png_media_features",
    oracle="""
    WITH px AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 127.0) AS BIGINT) + 128) AS p
      FROM embeddings
    )
    SELECT vec_id AS media_id, 'image/png' AS modality,
           CAST(4 AS DOUBLE) AS f0, CAST(4 AS DOUBLE) AS f1,
           CAST(list_aggregate(p, 'sum') AS DOUBLE) / 48 AS f2,
           CAST(3 AS DOUBLE) AS f3,
           md5(array_to_string(p, ',')) AS check_md5
    FROM px
    """,
)
def png_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-codec decode, hash-checked end-to-end: embeddings are
    quantized to 4x4 RGB pixels, DEFLATE-compressed into real PNG
    payloads (``operators/multimodal.encode_png``), then decoded back
    through the Arrow-batched feature path — zlib inflate + scanline
    unfilter inside the executor. The oracle recomputes the
    quantization directly from the source table, so f2 (exact pixel
    mean) and check_md5 (md5 over the canonical pixel CSV) prove the
    entire compress→decompress round-trip value-exactly. n_bytes is
    deliberately not returned: compressed size is codec-level-specific,
    not semantic."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.image_media_from_vecs(
        e, "vec_id", "embedding", height=4, width=4)
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


@register(
    "gif_media_features",
    oracle="""
    WITH px AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 127.0) AS BIGINT) + 128) AS p
      FROM embeddings
    )
    SELECT vec_id AS media_id, 'image/gif' AS modality,
           CAST(4 AS DOUBLE) AS f0, CAST(4 AS DOUBLE) AS f1,
           CAST(list_aggregate(p, 'sum') AS DOUBLE) / 48 AS f2,
           CAST(3 AS DOUBLE) AS f3,
           md5(array_to_string(p, ',')) AS check_md5
    FROM px
    """,
)
def gif_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second compressed codec, hash-checked end-to-end: the same
    quantized 4x4 RGB pixels as ``png_media_features``, but framed as
    GIF — palette build + from-scratch variable-width LZW entropy
    coding (``operators/multimodal.encode_gif``/``_lzw_decode``) —
    then decoded back through the Arrow-batched feature path. The
    oracle is identical to the PNG gate's (the pixels are what is
    proven; the codec in between is what is exercised), so a hash
    match proves the LZW compress→decompress cycle value-exactly."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.image_media_from_vecs(
        e, "vec_id", "embedding", height=4, width=4, codec="gif")
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


@register(
    "jpeg_media_features",
    oracle="""
    WITH px AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 127.0) AS BIGINT) + 128) AS p
      FROM embeddings
    )
    SELECT vec_id AS media_id, 'image/jpeg' AS modality,
           CAST(4 AS DOUBLE) AS f0, CAST(4 AS DOUBLE) AS f1,
           CAST(list_aggregate(p, 'sum') AS DOUBLE) / 48 AS f2,
           CAST(3 AS DOUBLE) AS f3,
           md5(array_to_string(p, ',')) AS check_md5
    FROM px
    """,
)
def jpeg_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third compressed codec, hash-checked end-to-end: the same
    quantized 4x4 RGB pixels as ``png_media_features``, framed as
    LOSSLESS JPEG (ITU-T T.81 process 14, SOF3 — per-sample predictive
    coding + canonical-Huffman difference categories + byte stuffing,
    ``operators/jpeg.py`` written from scratch), then decoded back
    through the Arrow-batched feature path. Lossless JPEG round-trips
    bit-exactly, so the oracle is identical to the PNG/GIF gates' (the
    pixels are what is proven; the codec in between is what is
    exercised). The lossy baseline-DCT flavor (SOF0: Huffman MCU
    decode, dequantize, IDCT, chroma upsampling, YCbCr→RGB) ships in
    the same module and is conformance-tested in
    ``tests/test_multimodal.py`` — quantized DCT cannot be
    hash-oracled by construction."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.image_media_from_vecs(
        e, "vec_id", "embedding", height=4, width=4, codec="jpeg")
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


@register(
    "wav_media_features",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 32767.0) AS BIGINT)) AS smp
      FROM embeddings
    )
    SELECT vec_id AS media_id, 'audio/wav' AS modality,
           CAST(48 AS DOUBLE) AS f0,
           CAST(list_aggregate(list_transform(smp, v -> ABS(v)), 'sum')
                AS DOUBLE) / 48 AS f1,
           CAST(list_aggregate(smp, 'min') AS DOUBLE) AS f2,
           CAST(list_aggregate(smp, 'max') AS DOUBLE) AS f3,
           CAST(NULL AS VARCHAR) AS check_md5
    FROM s
    """,
)
def wav_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF/WAVE container path, hash-checked end-to-end: embeddings
    quantize to int16 PCM framed in a from-scratch WAV container
    (``multimodal.encode_wav``), decoded back through the chunk-list
    walker (``_decode_wav`` — fmt/data chunks, even-byte padding) and
    featurized. PCM is LOSSLESS, so the oracle recomputes the features
    straight from the int16 quantization of the source vectors — a
    hash match proves the container framing and the chunk walk
    byte-exactly (the μ-law gate proves the companding math; this one
    proves the framing)."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.audio_media_from_vecs(
        e, "vec_id", "embedding", n_samples=48, codec="wav")
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


@register(
    "mulaw_media_features",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding[1:48],
               x -> CAST(FLOOR(LEAST(GREATEST(CAST(x AS DOUBLE), -1.0),
                                     1.0) * 127.0) AS BIGINT) + 128) AS p
      FROM embeddings
    ), d AS (
      SELECT vec_id,
             list_transform(p, c -> CASE WHEN (255 - c) >= 128
               THEN -(((((255 - c) % 16) * 8 + 132)
                       * (1 << (((255 - c) // 16) & 7))) - 132)
               ELSE (((((255 - c) % 16) * 8 + 132)
                      * (1 << (((255 - c) // 16) & 7))) - 132)
               END) AS smp
      FROM s
    )
    SELECT vec_id AS media_id, 'audio/mulaw' AS modality,
           CAST(48 AS DOUBLE) AS f0,
           CAST(list_aggregate(list_transform(smp, v -> ABS(v)), 'sum')
                AS DOUBLE) / 48 AS f1,
           CAST(list_aggregate(smp, 'min') AS DOUBLE) AS f2,
           CAST(list_aggregate(smp, 'max') AS DOUBLE) AS f3,
           CAST(NULL AS VARCHAR) AS check_md5
    FROM d
    """,
)
def mulaw_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio companding codec, hash-checked end-to-end: embeddings are
    quantized to G.711 μ-law CODE bytes
    (``multimodal.audio_media_from_vecs``), decoded back to int16 PCM
    through the Arrow-batched feature path (``_decode_mulaw`` — the
    telephony standard's segment/mantissa integer expansion), and
    featurized (n, mean |sample|, min, max). The decode is a pure
    integer closed form, so the oracle evaluates the SAME expansion
    per element straight from the source vectors — a hash match proves
    the companding decode value-exactly, the same proof shape as the
    PNG/GIF/JPEG pixel gates."""
    tune(spark)
    e = spread(load_table(spark, sf_dir, "embeddings"), cap=8)
    media = mm.audio_media_from_vecs(e, "vec_id", "embedding", n_samples=48)
    return mm.extract_features(media).select(
        "media_id", "modality", "f0", "f1", "f2", "f3", "check_md5")


# ------------------------------------------------- split / chunk (datasplit)


@register(
    "train_val_split",
    oracle=f"""
    SELECT {ds.sql_train_val_split('doc_id', 0.2, 'gate')} AS split,
           lang, COUNT(*) AS n_docs
    FROM documents GROUP BY split, lang
    """,
)
def train_val_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-threshold train/val split — membership is a
    pure function of (doc_id, salt), bit-identical across engines (the
    oracle evaluates the same expression verbatim in DuckDB)."""
    docs = _docs(spark, sf_dir)
    return (
        ds.train_val_split(docs, "doc_id", val_frac=0.2, salt="gate")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "chunk_documents",
    oracle="""
    SELECT doc_id, CAST(start / 150 AS BIGINT) AS chunk_idx,
           substr(text, start + 1, 200) AS chunk
    FROM documents CROSS JOIN LATERAL (
      SELECT UNNEST(range(0, GREATEST(LENGTH(text), 1), 150)) AS start
    ) s
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (size 200, overlap 50) as
    pure column algebra — sequence + posexplode + substr, zero Python,
    narrow (shuffle-free) plan; the oracle rebuilds the same windows
    with range/UNNEST/substr."""
    docs = _docs(spark, sf_dir)
    return ds.chunk_documents(
        docs.select("doc_id", "text"), "text",
        chunk_size=200, overlap=50, keep_cols=["doc_id"],
    )


@register(
    "stratified_sample",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_kept
    FROM documents
    WHERE {ds.sql_stratified_sample(
        'lang', 'doc_id',
        {'en': 0.5, 'de': 1.0, 'fr': 0.25}, default_frac=0.05)}
    GROUP BY lang
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalancing: per-language keep fractions
    as a salted-md5 row property — same predicate evaluates in DuckDB,
    so the *exact* sampled set is the oracle, not just its size."""
    docs = _docs(spark, sf_dir)
    kept = ds.stratified_sample(
        docs, "lang", "doc_id",
        {"en": 0.5, "de": 1.0, "fr": 0.25}, default_frac=0.05,
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST({tx.sql_token_ngrams('text', 5)}) AS bg
      FROM documents WHERE doc_id % 10 = 0
    ), corpus AS (
      SELECT doc_id,
             LIST_DISTINCT({tx.sql_token_ngrams('text', 5)}) AS grams
      FROM documents WHERE doc_id % 10 <> 0
    ), ex AS (
      SELECT doc_id,
             UNNEST(CASE WHEN LEN(grams) = 0
                         THEN [CAST(NULL AS VARCHAR)] ELSE grams END) AS gram
      FROM corpus
    )
    SELECT doc_id,
           CAST(COUNT(gram) AS BIGINT) AS n_grams,
           CAST(COUNT(bg) AS BIGINT) AS n_hits,
           COUNT(bg) >= 1 AS contaminated
    FROM ex LEFT JOIN bench ON gram = bg
    GROUP BY doc_id
    """,
)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 10th document stands in as the
    held-out eval set; corpus documents report how many of their
    distinct 5-token-grams appear anywhere in it. The benchmark gram
    set broadcasts (eval sets are small by construction) — the corpus
    never shuffles for the probe; the oracle recomputes the same gram
    algebra so the hash match proves hit COUNTS, not just flags."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    out = dc.decontaminate(corpus, bench, n=5, min_hits=1)
    return out.select("doc_id", F.col("n_grams").cast("long"),
                      F.col("n_hits").cast("long"), "contaminated")


@register(
    "repetition_signals",
    oracle=f"""
    WITH g0 AS (
      SELECT doc_id,
             {tx.sql_token_count('text')} AS n_tokens,
             {tx.sql_token_ngrams('text', 2)} AS grams
      FROM documents
    ), ex AS (
      SELECT doc_id, n_tokens,
             UNNEST(CASE WHEN LEN(grams) = 0
                         THEN [CAST(NULL AS VARCHAR)] ELSE grams END) AS gram
      FROM g0
    ), pg AS (
      SELECT doc_id, n_tokens, gram, COUNT(gram) AS c
      FROM ex GROUP BY 1, 2, 3
    ), sig AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(c) AS BIGINT) AS n_ngrams,
             CAST(COUNT(CASE WHEN gram IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct,
             MAX(c) AS top_count
      FROM pg GROUP BY 1, 2
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_ngrams, n_distinct,
           CASE WHEN n_ngrams > 0
                THEN CAST(n_ngrams - n_distinct AS DOUBLE) / n_ngrams END
             AS dup_ngram_frac,
           CASE WHEN n_ngrams > 0
                THEN CAST(top_count AS DOUBLE) / n_ngrams END
             AS top_ngram_frac
    FROM sig
    """,
)
def repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition: duplicate-2gram fraction
    and top-2gram share per document (the published quality-filter
    signals) — explode + two map-side-combined aggregations, linear in
    tokens (never the O(grams²)-per-doc expression form)."""
    return tx.repetition_signals(_docs(spark, sf_dir), n=2)


_MIX_WEIGHTS = {"en": 0.4, "de": 0.2, "fr": 0.2, "zh": 0.2}


@register(
    "domain_mix_sample",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM ({ds.sql_domain_mix_sample('documents', 'lang', 'doc_id',
                                    _MIX_WEIGHTS)}) kept
    GROUP BY lang
    """,
)
def domain_mix_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalancing to target domain weights
    (en 40 / de 20 / fr 20 / zh 20; es unweighted → dropped): the
    largest downsample-only corpus matching the mixture, membership a
    salted-md5 row property, per-domain thresholds computed *in the
    plan* from one broadcast count aggregate. The sum-of-kept-ids
    column makes the oracle check exact membership, not just sizes."""
    docs = _docs(spark, sf_dir)
    kept = ds.domain_mix_sample(docs, "lang", "doc_id", _MIX_WEIGHTS)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register("pack_sequences")
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-shard sequence packing of documents into 512-token
    budgets (rows-only: pack ids are shard-relative by design — no
    global coordination — so the driver checks shape, pytest checks
    the packing invariants)."""
    from pandas_rust_algos_spark.operators.packing import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id", tx.token_count("text").alias("n_tokens"))
    packed = pack_sequences(docs, "n_tokens", budget=512, order_col="doc_id")
    return (
        packed.groupBy("pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("pack_tokens"))
    )


def _pack_sharded_oracle(budget: int = 512, n_shards: int = 4) -> str:
    """Recursive-CTE replay of the greedy next-fit fold, per shard: the
    pack boundary is a data-dependent recurrence (running fill that
    RESETS), so the oracle steps row-by-row in the same
    (shard, doc_id) order the engine packs in."""
    cnt = tx.sql_token_count("text")
    return f"""
    WITH RECURSIVE rows_in AS (
      SELECT doc_id, doc_id % {n_shards} AS shard,
             COALESCE({cnt}, 0) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id % {n_shards}
                                ORDER BY doc_id) AS rn
      FROM documents
    ), r AS (
      SELECT shard, rn, doc_id, cnt, 0 AS pack_idx, cnt AS fill, 0 AS pos
      FROM rows_in WHERE rn = 1
      UNION ALL
      SELECT i.shard, i.rn, i.doc_id, i.cnt,
             CASE WHEN r.fill + i.cnt > {budget}
                  THEN r.pack_idx + 1 ELSE r.pack_idx END,
             CASE WHEN r.fill + i.cnt > {budget}
                  THEN i.cnt ELSE r.fill + i.cnt END,
             CASE WHEN r.fill + i.cnt > {budget}
                  THEN 0 ELSE r.pos + 1 END
      FROM r JOIN rows_in i ON i.shard = r.shard AND i.rn = r.rn + 1
    )
    SELECT doc_id, cnt AS n_tokens,
           shard || '-' || pack_idx AS pack_id,
           CAST(pos AS INTEGER) AS pack_pos
    FROM r
    """


@register("pack_sequences_sharded", oracle=_pack_sharded_oracle())
def pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-sharded greedy packing, proven ROW-FOR-ROW: shards are
    ``doc_id % 4`` (a data property, not a partition id), so pack
    membership is a pure function of the corpus — retry- and
    cluster-size-stable — and the DuckDB oracle replays the exact
    greedy fold with a recursive CTE. The partition-id variant stays
    as the zero-requirements fast path (``pack_sequences`` gate,
    rows-only by design)."""
    from pandas_rust_algos_spark.operators.packing import pack_sequences

    tune(spark)
    docs = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 4).alias("shard"),
        tx.token_count("text").alias("n_tokens"))
    packed = pack_sequences(docs, "n_tokens", budget=512,
                            order_col="doc_id", shard_col="shard")
    return packed.select("doc_id", "n_tokens", "pack_id", "pack_pos")


@register(
    "fuzzy_join",
    oracle="""
    WITH p AS (
      SELECT doc_id, lang, SUBSTRING(text, 1, 16) AS s FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.s, b.s) AS dist
    FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 3
    """,
)
def fuzzy_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join on 16-char document prefixes (≤3 edits,
    same language): lossless length banding turns the theta join into
    an equi-join on (lang, length-bucket) — candidates only, never the
    cross product. The DuckDB oracle IS the cross product (feasible at
    sf0.01), so the hash match proves the banding loses no pairs."""
    from pandas_rust_algos_spark.operators.fuzzy_join import fuzzy_self_join

    tune(spark)
    p = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.substring("text", 1, 16).alias("s"))
    return fuzzy_self_join(p, "doc_id", "s", max_dist=3,
                           extra_keys=["lang"])


@register(
    "ann_index_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT qid, vec_id,
             ROUND(LIST_DOT_PRODUCT(qv, v) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))),
                   6) AS sim
      FROM q, c WHERE qid <> vec_id
    ), r AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s
    )
    SELECT qid AS query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN search through the PERSISTED IVF index
    (``operators/ann_index.py``): build once to storage (centroids
    parquet + cell-partitioned vectors), then query through the index
    read path. The gate probes ALL cells (``n_probe = n_cells``), so
    the index result is provably the exact brute-force top-k — a full
    value-hash oracle over the storage layout, cell routing, dedup,
    and rank window. The approximate path (n_probe < n_cells, true
    ``cell=`` partition pruning via PartitionFilters, recall vs brute
    force) is engine-specific by nature and pinned in
    tests/test_ann_index.py."""
    import tempfile

    from pandas_rust_algos_spark.operators.ann_index import (
        build_ivf_index, ivf_index_query,
    )

    emb = _emb(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="ivf_gate_")
    build_ivf_index(emb, idx, n_cells=16, seed=42)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_index_query(spark, idx, queries, n_probe=16, k=5)
    return out.select("query_id", F.col("id").alias("vec_id"), "sim",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "ann_ivfpq_index_read",
    oracle=__import__(
        "pandas_rust_algos_spark.operators.ann_portable",
        fromlist=["sql_ivfpq_topk_fixed"],
    ).sql_ivfpq_topk_fixed(k=5, n_cells=8, n_probe=3, m=4, k_codes=8,
                           iters=2, dims=64),
)
def ann_ivfpq_index_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED IVF+PQ retrieval through a PERSISTED index
    (``operators/ann_index.build_ivfpq_index_fixed``): the code table
    (m smallints per vector, ~700× smaller than the embeddings at
    production dims) is written partitioned by coarse cell, queries
    resolve their probe set driver-side from the KiB centroid table
    and read ONLY the probed ``cell=`` directories, and the residual
    ADC runs over the stored codes. Everything is fixed-point, so the
    persisted read path is BIT-IDENTICAL to the in-memory
    ``ann_ivfpq_topk_portable`` gate AND to the same DuckDB oracle —
    the storage layout, cell routing, and ADC math are value-proven,
    at partial probe (n_probe=3 of 8, real pruning — asserted via
    inputFiles in tests/test_ann_index.py)."""
    import tempfile

    from pandas_rust_algos_spark.operators.ann_index import (
        build_ivfpq_index_fixed,
        ivfpq_index_query_fixed,
    )

    emb = _emb(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="ivfpq_gate_")
    build_ivfpq_index_fixed(emb, idx, dims=64, n_cells=8, m=4, k_codes=8,
                            iters=2)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_index_query_fixed(spark, idx, queries, n_probe=3, k=5)
    return out.select("query_id", F.col("id").alias("vec_id"),
                      "approx_dist_sq", "rank")


@register(
    "ann_index_append_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT qid, vec_id,
             ROUND(LIST_DOT_PRODUCT(qv, v) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))),
                   6) AS sim
      FROM q, c WHERE qid <> vec_id
    ), r AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s
    )
    SELECT qid AS query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def ann_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE, value-proven end-to-end
    (``operators/ann_index.append_ivf_index``): build the index on the
    even-id half of the corpus only, then incrementally append the odd
    half — assigned to the FROZEN coarse quantizer, no retrain, no
    shuffle of the existing cells. Probing all cells must then
    reproduce the exact brute-force top-5 over the FULL corpus: the
    oracle is blind to the build/append split, so a dropped, doubled,
    or mis-routed appended vector breaks the hash. The partial-probe
    pruning contract after append is pinned in
    tests/test_ann_index.py."""
    import tempfile

    from pandas_rust_algos_spark.operators.ann_index import (
        append_ivf_index, build_ivf_index, ivf_index_query,
    )

    emb = _emb(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="ivf_append_gate_")
    build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    n_cells=16, seed=42)
    append_ivf_index(emb.where(F.col("vec_id") % 2 == 1), idx)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_index_query(spark, idx, queries, n_probe=16, k=5)
    return out.select("query_id", F.col("id").alias("vec_id"), "sim",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "ann_index_stream_append",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT qid, vec_id,
             ROUND(LIST_DOT_PRODUCT(qv, v) /
                   (SQRT(LIST_DOT_PRODUCT(qv, qv)) * SQRT(LIST_DOT_PRODUCT(v, v))),
                   6) AS sim
      FROM q, c WHERE qid <> vec_id
    ), r AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
      FROM s
    )
    SELECT qid AS query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 5
    """,
)
def ann_index_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest into the persisted IVF index, value-proven
    end-to-end (``operators/ann_index.stream_append_ivf_index``): the
    index is built on the even-id half of the corpus, the odd half
    arrives as a file stream and lands through foreachBatch —
    assigned to the FROZEN coarse quantizer, batch_id-partitioned
    idempotent writes (the signature-store recipe). Probing all cells
    through the unified read path must then reproduce the exact
    brute-force top-5 over the FULL corpus: the oracle is blind to
    the build/stream split, so a dropped, duplicated (replayed), or
    mis-routed streamed vector breaks the hash. Replay idempotence
    and partial-probe pruning over the union layout are pinned in
    tests/test_ann_index.py."""
    import tempfile

    from pandas_rust_algos_spark.operators.ann_index import (
        build_ivf_index, ivf_index_query, stream_append_ivf_index,
    )

    emb = _emb(spark, sf_dir)
    idx = tempfile.mkdtemp(prefix="ivf_stream_gate_")
    build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    n_cells=16, seed=42)
    landing = tempfile.mkdtemp(prefix="ivf_stream_landing_")
    odd = emb.where(F.col("vec_id") % 2 == 1)
    odd.coalesce(2).write.mode("overwrite").parquet(landing)
    stream = (spark.readStream.schema(odd.schema)
              .option("maxFilesPerTrigger", 1).parquet(landing))
    stream_append_ivf_index(
        idx, stream,
        checkpoint=tempfile.mkdtemp(prefix="ivf_stream_ckpt_"))
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_index_query(spark, idx, queries, n_probe=16, k=5)
    return out.select("query_id", F.col("id").alias("vec_id"), "sim",
                      F.col("rank").cast("long").alias("rank"))
