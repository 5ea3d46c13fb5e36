"""Persisted MinHash signature store + incremental near-dup ingest.

The 100 TB ingest shape for approximate dedup: a production corpus is
not re-shingled per batch. The signature table (``num_hashes`` longs
per doc, ~256 B — ~1000× smaller than the text it summarizes) is the
durable artifact; each new batch computes ONLY its own signatures,
bands them, and joins against the store's band projection:

- ``write_minhash_store``  — signatures → ``{path}/sigs.parquet`` +
  frozen hyper-parameters in ``{path}/meta.json``.
- ``append_minhash_store`` — signatures for a new batch under the
  STORED parameters (frozen-params contract, the ``append_ivf_index``
  recipe: mixing k/num_hashes/bands/hash_mode across ingests would
  silently break bucket agreement, so the store's meta wins and the
  call refuses overlapping ids).
- ``minhash_store_near_dupes`` — near-dup pairs TOUCHING the new
  batch: new×stored and new×new, estimated jaccard ≥ threshold.
  stored×stored pairs were already resolved when those docs were
  ingested — the whole point of incrementality is never re-paying
  them.

Cost per ingest: one shingle pass over the NEW batch only, one narrow
scan of the stored signature parquet (no text), one (band, bucket)
join whose left side is batch-sized — AQE broadcasts it when small.
Identical signatures to a from-scratch run (signatures are a pure
function of the text and the frozen params), so incremental results
equal the full-corpus pipeline filtered to new-touching pairs — the
property the gate's DuckDB oracle and the unit tests pin.

Reference scope: no persistence surface exists in the reference
(SURVEY §2.3) — driver-brief training-pipeline extension, mirroring
``ann_index``'s persisted-quantizer pattern for the dedup family.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_rust_algos_spark import cachelife

from pandas_rust_algos_spark.operators.dedup import (
    _band_bucket_expr,
    minhash_signatures,
)

__all__ = [
    "freeze_minhash_params",
    "write_minhash_store",
    "append_minhash_store",
    "stream_ingest_minhash_store",
    "read_store_sigs",
    "batch_band_table",
    "minhash_store_near_dupes",
    "minhash_store_pairs",
]


def _band_table(sigs: DataFrame, id_col: str, num_hashes: int,
                bands: int, hash_mode: str) -> DataFrame:
    """(id, sig, band, bucket) — the exploded band projection of a
    signature table (the near-dup pipeline's shape, sig carried so
    the estimate computes in place at the join)."""
    rpb = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    _band_bucket_expr(i, rpb, hash_mode).alias("bucket"))
                for i in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bucket")


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as fh:
        return json.load(fh)


def freeze_minhash_params(
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
) -> dict:
    """Freeze the store's hyper-parameters in ``{path}/meta.json``
    WITHOUT computing any signatures. Every ingest surface (batch
    append, streaming foreachBatch) reads only this file, so once the
    params are frozen the bootstrap signature write and a streaming
    ingest are INDEPENDENT Spark jobs over disjoint output paths —
    a caller can overlap them from a small thread pool (guide §2.6)
    instead of serializing bootstrap → drain."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide into bands ({bands})")
    meta = {"k": k, "num_hashes": num_hashes, "bands": bands,
            "hash_mode": hash_mode, "id_col": id_col,
            "text_col": text_col}
    os.makedirs(path, exist_ok=True)
    # temp + atomic rename: a re-freeze (write_minhash_store freezes
    # before its signature job) must never expose a truncated file to
    # a CONCURRENT reader — the overlapped bootstrap ∥ probe callers
    # read meta.json while the bootstrap may be rewriting it
    tmp = os.path.join(path, ".meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, "meta.json"))
    return meta


def write_minhash_store(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_mode: str = "fast",
) -> dict:
    """Create the store: one signature pass over ``df``, parameters
    frozen in ``meta.json``. The parquet is the index — one row of
    ``num_hashes`` longs per doc, repartitionable/compactable like
    any table; no text is retained.

    Params freeze FIRST (same bytes an explicit
    :func:`freeze_minhash_params` writes), so a concurrent streaming
    ingest can start as soon as the meta exists rather than after the
    bootstrap signature job finishes."""
    meta = freeze_minhash_params(
        path, id_col=id_col, text_col=text_col, k=k,
        num_hashes=num_hashes, bands=bands, hash_mode=hash_mode)
    sigs = minhash_signatures(
        df, id_col, text_col, k=k, num_hashes=num_hashes,
        hash_mode=hash_mode)
    sigs.write.mode("overwrite").parquet(os.path.join(path, "sigs.parquet"))
    return meta


def append_minhash_store(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
) -> dict:
    """Ingest a batch: signatures under the STORED parameters, parquet
    append. Refuses ids already present (the store is append-only and
    id-keyed; a re-ingest would double those docs' band rows)."""
    meta = _read_meta(path)
    sigs_path = os.path.join(path, "sigs.parquet")
    stored_ids = read_store_sigs(spark, path).select(meta["id_col"])
    dup = (new_docs.select(meta["id_col"]).join(
        stored_ids, meta["id_col"], "left_semi").limit(1).collect())
    if dup:
        raise ValueError(
            f"append_minhash_store: id {dup[0][0]!r} already in the "
            "store (append-only, id-keyed)")
    sigs = minhash_signatures(
        new_docs, meta["id_col"], meta["text_col"], k=meta["k"],
        num_hashes=meta["num_hashes"], hash_mode=meta["hash_mode"])
    sigs.write.mode("append").parquet(sigs_path)
    return meta


def read_store_sigs(spark: SparkSession, path: str) -> DataFrame:
    """All signatures in the store: the batch-written flat
    ``sigs.parquet`` plus (when present) the streaming-ingested
    ``sigs_stream.parquet`` — batch-id partition dirs whose extra
    column is dropped so both surfaces read as ONE signature table.
    Every probe goes through here, so streamed docs participate in
    later near-dup checks exactly like batch-appended ones."""
    sigs = spark.read.parquet(os.path.join(path, "sigs.parquet"))
    stream_path = os.path.join(path, "sigs_stream.parquet")
    if os.path.isdir(stream_path):
        streamed = spark.read.parquet(stream_path).drop("batch_id")
        sigs = sigs.unionByName(streamed)
    return sigs


def stream_ingest_minhash_store(
    path: str,
    stream_docs: DataFrame,
    *,
    checkpoint: str,
    guard_existing: bool = False,
):
    """Streaming ingest for the signature store — the Bloom store's
    ``docs_stream_bloom_screen`` twin for the OTHER persisted
    maintenance surface: documents arrive as a stream, each
    micro-batch computes signatures under the STORED parameters
    (frozen-params contract, same as :func:`append_minhash_store`)
    and lands in ``sigs_stream.parquet/batch_id=<id>`` via dynamic
    partition overwrite — the ``sinks.write_stream_partitioned``
    idempotence recipe: foreachBatch is at-least-once, so a replayed
    batch rewrites its own partition directory byte-for-byte instead
    of duplicating signatures. Signatures are a pure function of
    (text, frozen params), so a drained stream's store state is
    IDENTICAL to a batch :func:`append_minhash_store` of the same
    docs — which is what the gate's portable oracle replays.

    Idempotence contract — PER CHECKPOINT: replay-safety relies on the
    checkpoint assigning each source file the same ``batch_id``, so a
    replayed batch overwrites its own partition. A FRESH checkpoint
    over the same source (or after new files arrived) maps files to
    DIFFERENT batch ids, and dynamic partition overwrite leaves the
    old partitions in place — duplicating signatures. Re-ingesting
    from scratch therefore requires deleting ``sigs_stream.parquet``
    (and the old checkpoint) first; this function never does so
    itself, because at-least-once replay of batch 0 under the SAME
    checkpoint must not wipe sibling partitions.

    Id uniqueness is CALLER-OWNED by default: unlike
    :func:`append_minhash_store`'s eager check, the write-only fast
    path never reads the store, so streaming an id that already exists
    duplicates its signature (and hence its band rows in every later
    probe). Pass ``guard_existing=True`` to left-anti each micro-batch
    against the store's current ids — one narrow signature-parquet
    scan per batch, the probe-side cost this path otherwise avoids.

    Per micro-batch cost: one shingle pass over the batch only (plus
    the id scan iff ``guard_existing``); returns the query, drained."""
    from pandas_rust_algos_spark.streaming.sinks import (
        drain, overwrite_partitions,
    )

    meta = _read_meta(path)
    ingest_path = os.path.join(path, "sigs_stream.parquet")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if guard_existing:
            stored_ids = read_store_sigs(spark, path).select(
                meta["id_col"])
            batch_df = batch_df.join(
                stored_ids, meta["id_col"], "left_anti")
        sigs = minhash_signatures(
            batch_df, meta["id_col"], meta["text_col"], k=meta["k"],
            num_hashes=meta["num_hashes"], hash_mode=meta["hash_mode"])
        overwrite_partitions(sigs.withColumn("batch_id", F.lit(batch_id)),
                             ingest_path, ["batch_id"])

    return drain(stream_docs.writeStream.foreachBatch(sink), checkpoint)


def minhash_store_pairs(
    spark: SparkSession,
    path: str,
    new_ids: DataFrame,
    *,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs touching ``new_ids``, computed FROM THE STORE
    ALONE — no document text, no shingling: both join sides are the
    stored signature table (:func:`read_store_sigs`), the probe side
    restricted to the given ids by a semi join. This is the
    post-ingest audit shape ("which of the docs I just streamed in
    collide with anything?"): the stream already paid the signature
    pass, so the probe is a narrow parquet scan + band explode on
    both sides. Output/ordering contract identical to
    :func:`minhash_store_near_dupes`: ``(id_a, id_b, est_jaccard)``,
    ``id_a < id_b``, estimate ≥ threshold, at least one side in
    ``new_ids``."""
    meta = _read_meta(path)
    id_col, nh = meta["id_col"], meta["num_hashes"]
    sigs = read_store_sigs(spark, path)
    b_all = _band_table(
        sigs, id_col, nh, meta["bands"], meta["hash_mode"])
    b_new = b_all.join(new_ids.select(id_col), id_col, "left_semi")
    left = b_new.select(
        F.col(id_col).alias("id_n"), F.col("sig").alias("sig_n"),
        "band", "bucket")
    right = b_all.select(
        F.col(id_col).alias("id_o"), F.col("sig").alias("sig_o"),
        "band", "bucket")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_o", lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / nh
    )
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def batch_band_table(path: str, new_docs: DataFrame) -> DataFrame:
    """The NEW batch's band table ``(id, sig, band, bucket)`` under the
    store's FROZEN params — the probe side of
    :func:`minhash_store_near_dupes`, exposed separately because it
    reads only ``meta.json``: once the params are frozen it is
    INDEPENDENT of the store's signature files, so a caller can
    materialize it concurrently with the bootstrap signature write
    (guide §2.6, the ``minhash_store_stream_ingest`` recipe) and pass
    it through ``new_bands=``."""
    meta = _read_meta(path)
    sigs_new = minhash_signatures(
        new_docs, meta["id_col"], meta["text_col"], k=meta["k"],
        num_hashes=meta["num_hashes"], hash_mode=meta["hash_mode"])
    return _band_table(
        sigs_new, meta["id_col"], meta["num_hashes"], meta["bands"],
        meta["hash_mode"])


def minhash_store_near_dupes(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs touching the new batch: ``(id_a, id_b,
    est_jaccard)`` with ``id_a < id_b``, where at least one side is a
    new doc, estimated jaccard (fraction of agreeing minhashes) ≥
    ``threshold``.

    Plan: the NEW batch's band table is computed once and persisted
    (it is both the join's probe side and part of its build side —
    new×new pairs must surface too); the stored side is a narrow
    parquet scan of signatures plus the band explode — the corpus
    text is never touched. One (band, bucket) join, batch-sized on
    the left (AQE broadcasts it when small), then the in-place
    agreement estimate and one canonical-pair distinct. Equal to the
    full-corpus :func:`dedup.minhash_near_dupes` restricted to
    new-touching pairs — signatures are a pure function of (text,
    frozen params), which is what the gate's oracle replays.

    ``max_bucket`` is the incremental twin of the main pipeline's
    whale-bucket guard: a boilerplate bucket with millions of STORED
    members would multiply every new doc landing in it by the whole
    bucket (|batch∩bucket|·|bucket| pairs). Stored buckets larger
    than ``max_bucket`` contribute only their MIN-ID REPRESENTATIVE
    to the join, so each new doc links to the whale's component
    through one pair per band. Closure holds provided earlier ingests
    linked the whale's members among themselves (which the capped
    main pipeline's consecutive-id chain does); what it gives up —
    a representative whose estimate dips below ``threshold`` drops
    the link — is the chain's documented compromise, immaterial for
    true boilerplate whales. Unlike the main pipeline (where the lazy
    form re-ran the whole shingle pipeline per probe), the guard here
    stays LAZY: the bucket count re-derives from the signature
    PARQUET — a narrow scan with no text work — so the extra
    aggregate instantiation is cheap.

    ``new_bands`` (optional): a precomputed :func:`batch_band_table`
    of ``new_docs`` — callers that overlapped its materialization with
    the bootstrap pass it through so the batch is not re-shingled
    here. Contract: it must equal ``batch_band_table(path, new_docs)``
    (pure function of text + frozen params). The returned plan reads
    the band table twice, so a ``new_bands`` that is not cached yet is
    persisted here and tracked with :mod:`cachelife`, as the locally
    built one is; an already-cached one is used as it is, and its
    owner releases it."""
    meta = _read_meta(path)
    id_col, nh = meta["id_col"], meta["num_hashes"]
    b_new = batch_band_table(path, new_docs) if new_bands is None else new_bands
    if not b_new.is_cached:
        b_new = cachelife.track(b_new.persist())
    stored = read_store_sigs(spark, path)
    b_stored = _band_table(
        stored, id_col, nh, meta["bands"], meta["hash_mode"])
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
        whales = F.broadcast(
            b_stored.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .where(F.col("__bn") > max_bucket)
            .select("band", "bucket"))
        reps = (
            b_stored.join(whales, ["band", "bucket"], "left_semi")
            .groupBy("band", "bucket")
            .agg(F.min(F.struct(id_col, "sig")).alias("__rep"))
            .select("band", "bucket", f"__rep.{id_col}", "__rep.sig")
        )
        b_stored = (
            b_stored.join(whales, ["band", "bucket"], "left_anti")
            .unionByName(reps.select(id_col, "sig", "band", "bucket"))
        )
    b_all = b_stored.unionByName(b_new)
    left = b_new.select(
        F.col(id_col).alias("id_n"), F.col("sig").alias("sig_n"),
        "band", "bucket")
    right = b_all.select(
        F.col(id_col).alias("id_o"), F.col("sig").alias("sig_o"),
        "band", "bucket")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_o", lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / nh
    )
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )
