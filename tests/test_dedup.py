"""Semantics tests for the hash-based dedup family (MinHash/SimHash)
on synthetic documents with planted duplicates — these ops use
xxhash64, so no cross-engine oracle exists (the registry records them
rows-only); correctness is asserted here instead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_rust_algos_spark.operators import dedup as dd

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain in "
    "spain falls mainly on the plain and the cat sat on the mat "
    "watching clouds drift across a pale blue evening sky"
)


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, BASE, "en"),
        (2, BASE, "en"),                                   # exact dup of 1
        (3, BASE.replace("lazy", "sleepy"), "en"),         # near dup of 1
        (4, BASE.upper(), "en"),                           # case dup of 1
        (5, "completely different text about quantum chromodynamics "
            "and the strong nuclear force binding quarks together "
            "inside hadrons at femtometer scales", "en"),
        (6, "short unrelated snippet", "en"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string, lang string")


def test_exact_dedup_groups_normalized(spark, docs):
    out = dd.dedup_exact(docs).collect()
    # 1, 2, 4 normalize to the same content -> one group of 3
    by_rep = {r["rep_id"]: r["n_copies"] for r in out}
    assert by_rep[1] == 3
    assert by_rep[3] == 1 and by_rep[5] == 1 and by_rep[6] == 1


def test_minhash_finds_planted_near_dupes(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_near_dupes(docs, threshold=0.5).collect()
    }
    # the exact/case/near dups of doc 1 must all pair up
    assert (1, 2) in pairs
    assert (1, 3) in pairs and (2, 3) in pairs
    # unrelated docs must not appear in any pair
    flat = {i for p in pairs for i in p}
    assert 5 not in flat and 6 not in flat


def test_minhash_estimate_bounds(spark, docs):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dd.minhash_near_dupes(docs, threshold=0.0).collect()
    }
    assert est[(1, 2)] == 1.0  # identical docs agree on every minhash
    if (1, 3) in est:
        assert 0.5 <= est[(1, 3)] < 1.0


def _components(pairs, nodes):
    """Union-find closure — the partition dup_clusters resolves."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        parent[find(a)] = find(b)
    groups = {}
    for n in parent:
        groups.setdefault(find(n), set()).add(n)
    return {frozenset(g) for g in groups.values()}


def test_minhash_whale_bucket_cap_preserves_clusters(spark):
    """The whale-bucket guard (max_bucket): a planted whale of
    identical docs routes through the consecutive-id chain (n−1 pairs
    instead of n(n−1)/2) yet resolves to the SAME connected
    components as the uncapped all-pairs path — the closure
    dup_clusters computes is preserved (r7 VERDICT next-#6)."""
    whale = [(i, BASE) for i in range(12)]             # one whale bucket
    near = [(100, BASE.replace("lazy", "sleepy")),     # near-dupe of whale
            (200, "short unrelated snippet"),
            (201, "short unrelated snippet"),          # small exact pair
            (300, "completely different text about quantum "
                  "chromodynamics and the strong nuclear force")]
    docs = spark.createDataFrame(
        whale + near, "doc_id long, text string")
    ids = [i for i, _ in whale + near]

    uncapped = {(r["id_a"], r["id_b"]) for r in dd.minhash_near_dupes(
        docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in dd.minhash_near_dupes(
        docs, threshold=0.5, max_bucket=3).collect()}

    # the whale's quadratic pair set collapsed to a chain-sized one
    n_whale_uncapped = sum(1 for a, b in uncapped if a < 12 and b < 12)
    n_whale_capped = sum(1 for a, b in capped if a < 12 and b < 12)
    assert n_whale_uncapped == 12 * 11 // 2
    assert n_whale_capped < n_whale_uncapped
    assert n_whale_capped >= 11  # at least one chain linking all 12

    # ...but the connected components are identical
    assert _components(capped, ids) == _components(uncapped, ids)

    with pytest.raises(ValueError, match="max_bucket"):
        dd.minhash_near_dupes(docs, max_bucket=1)


def test_simhash_identical_and_near(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(fps[1], fps[3]) <= 6       # one-word edit stays close
    assert hamming(fps[1], fps[5]) > 10       # unrelated text is far


def test_simhash_near_dupes_banding(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dupes(docs, max_hamming=6).collect()
    }
    assert pairs.get((1, 2)) == 0
    flat = {i for p in pairs for i in p}
    assert 5 not in flat and 6 not in flat


def test_ngram_jaccard_exact_pairs(spark, docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert out[(1, 2)] == 1.0
    assert 0.5 < out[(1, 3)] < 1.0
    assert all(5 not in p and 6 not in p for p in out)


def test_embedding_near_dupes_blocked(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.01, 0.0], 0),   # near dup of 1
            (3, [0.0, 1.0, 0.0], 0),      # orthogonal
            (4, [1.0, 0.0, 0.0], 1),      # same vector, other block
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dd.embedding_near_dupes(emb, threshold=0.95).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs
    assert (1, 4) not in pairs  # blocking: different label never meets


def test_dup_clusters_transitive(spark):
    """A chain a~b~c must land in ONE cluster even when a!~c directly,
    isolated nodes keep their own id, and two separate components stay
    separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    out = {r["doc_id"]: r["cluster_id"]
           for r in dd.dup_clusters(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dup_clusters_long_chain_converges(spark):
    """Label propagation needs O(diameter) rounds — a 12-hop chain must
    still fully converge to the minimum id."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    out = {r["doc_id"]: r["cluster_id"]
           for r in dd.dup_clusters(pairs, ids).collect()}
    assert set(out.values()) == {0}


def test_jaccard_prefix_join_equals_gram_join(spark, docs):
    """Prefix filtering is lossless: at every threshold the PPJoin
    path returns exactly the gram-join pair set with identical
    jaccard values."""
    for t in (0.3, 0.6, 0.9):
        want = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.jaccard_prefix_pairs(docs, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"


def test_jaccard_prefix_join_common_gram_not_in_prefix(spark):
    """A shingle shared by EVERY doc must not mate unrelated docs: the
    common gram sorts last in the global (df, gram) order, so at a
    high threshold the unrelated pair never even becomes a candidate,
    while the true near-dup pair survives with its exact score."""
    common = " zzzzz "  # one shared 5-gram island in every doc
    data = [
        (1, "alpha beta gamma delta epsilon" + common, "en"),
        (2, "alpha beta gamma delta epsilo_" + common, "en"),
        (3, "totally different words here instead" + common, "en"),
    ]
    docs = spark.createDataFrame(data, "doc_id long, text string, lang string")
    got = {(r["id_a"], r["id_b"]) for r in
           dd.jaccard_prefix_pairs(docs, threshold=0.7).collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_jaccard_prefix_join_bad_threshold(spark, docs):
    with pytest.raises(ValueError):
        dd.jaccard_prefix_pairs(docs, threshold=0.0)


def test_duplicated_spans_planted(spark):
    """Planted verbatim spans: run lengths, span sizes, the flag
    threshold, and the shorter-than-k / clean-document edges."""
    boiler = ("all rights reserved redistribution permitted "
              "under license terms only")  # 9 tokens
    data = [
        # docs 1+2 share the 9-token boilerplate verbatim (k=4 ->
        # 6 windows, all consecutive: max_run=6, span=9 tokens)
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, "iota kappa lambda mu " + boiler),
        # doc 3 shares only a 4-token span with doc 4 (one window)
        (3, "unique opening words here red green blue yellow trailing text"),
        (4, "totally different frame red green blue yellow another ending"),
        # doc 5: clean, no cross-doc window
        (5, "quantum chromodynamics binds quarks inside hadrons firmly"),
        # doc 6: shorter than k tokens -> zero windows, clean
        (6, "tiny doc"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.duplicated_spans(df, k=4, min_run=2).collect()}
    assert len(got) == 6
    # the 9-token boilerplate: 6 consecutive duplicated windows
    for d in (1, 2):
        assert got[d]["max_run"] == 6
        assert got[d]["dup_span_tokens"] == 9
        assert got[d]["flagged"] is True
    # single shared window: run of 1, span of k=4, below min_run=2
    for d in (3, 4):
        assert got[d]["n_dup_windows"] == 1
        assert got[d]["max_run"] == 1
        assert got[d]["dup_span_tokens"] == 4
        assert got[d]["flagged"] is False
    assert got[5]["n_dup_windows"] == 0 and got[5]["flagged"] is False
    assert got[6]["n_windows"] == 0 and got[6]["dup_span_tokens"] == 0

    with pytest.raises(ValueError):
        dd.duplicated_spans(df, k=0)


def test_duplicated_spans_intra_doc_repeat_not_cross(spark):
    """A window repeated WITHIN one document only is not 'duplicated'
    (the rule is >= 2 DISTINCT documents), and two separate shared
    runs report the max, with n_dup_windows counting both."""
    rep = "spam spam spam spam spam spam"
    a = "one two three four END gap1x gap2x five six seven eight nine"
    b = "one two three four STOP filler five six seven eight nine tail"
    df = spark.createDataFrame(
        [(1, rep), (2, a), (3, b)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.duplicated_spans(df, k=4, min_run=2).collect()}
    # doc 1: all windows identical but only one doc holds them
    assert got[1]["n_dup_windows"] == 0 and got[1]["flagged"] is False
    # docs 2+3 share 'one two three four' (1 window) and
    # 'five six seven eight nine' (2 consecutive windows)
    for d in (2, 3):
        assert got[d]["n_dup_windows"] == 3
        assert got[d]["max_run"] == 2
        assert got[d]["dup_span_tokens"] == 5
        assert got[d]["flagged"] is True


def test_strip_duplicated_spans_planted(spark):
    """Stripping removes exactly the flagged spans, everywhere, and
    leaves clean docs byte-identical (modulo the single-space token
    re-join); sub-min_run shared windows survive."""
    boiler = ("all rights reserved redistribution permitted "
              "under license terms only")  # 9 tokens -> 6 windows at k=4
    data = [
        (1, boiler + " alpha beta gamma delta"),
        (2, "iota kappa lambda mu " + boiler),
        # single shared 4-token window (run of 1 < min_run=2): kept
        (3, "unique opening words here red green blue yellow trailing"),
        (4, "totally different frame red green blue yellow another end"),
        (5, "quantum chromodynamics binds quarks inside hadrons"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.strip_duplicated_spans(df, k=4, min_run=2).collect()}
    assert got[1]["clean_text"] == "alpha beta gamma delta"
    assert got[1]["n_removed"] == 9 and got[1]["n_tokens"] == 13
    assert got[2]["clean_text"] == "iota kappa lambda mu"
    assert got[2]["n_removed"] == 9
    # below min_run: untouched
    assert got[3]["clean_text"] == data[2][1]
    assert got[4]["n_removed"] == 0
    assert got[5]["clean_text"] == data[4][1]

    # a doc that is PURE boilerplate strips to empty, not a lost row
    df2 = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, "fresh unrelated words")],
        "doc_id long, text string")
    got2 = {r["doc_id"]: r for r in
            dd.strip_duplicated_spans(df2, k=4, min_run=2).collect()}
    assert len(got2) == 3
    assert got2[1]["clean_text"] == "" and got2[1]["n_removed"] == 9
    assert got2[3]["n_removed"] == 0


def test_duplicated_spans_null_text_matches_oracle(spark):
    """A NULL text deterministically reports zero windows/tokens on
    BOTH engines (ADVICE r6: the SQL twins used to emit NULL counts
    for NULL text while Spark reported 0)."""
    import duckdb

    data = [(1, "shared boiler plate words here exactly now yes"),
            (2, "prefix shared boiler plate words here exactly now yes"),
            (3, None)]
    df = spark.createDataFrame(data, "doc_id long, text string")

    got = {r["doc_id"]: r for r in
           dd.duplicated_spans(df, k=4, min_run=2).collect()}
    assert got[3]["n_windows"] == 0
    assert got[3]["n_dup_windows"] == 0
    assert got[3]["flagged"] is False

    stripped = {r["doc_id"]: r for r in
                dd.strip_duplicated_spans(df, k=4, min_run=2).collect()}
    assert stripped[3]["n_tokens"] == 0
    assert stripped[3]["n_removed"] == 0
    assert stripped[3]["clean_text"] == ""

    con = duckdb.connect()
    import pandas as pd
    con.register("documents", pd.DataFrame(data,
                                           columns=["doc_id", "text"]))
    ora = con.execute(
        dd.sql_duplicated_spans(k=4, min_run=2)).fetchdf()
    orow = ora.set_index("doc_id").loc[3]
    assert orow["n_windows"] == 0 and orow["n_dup_windows"] == 0
    ora2 = con.execute(
        dd.sql_strip_duplicated_spans(k=4, min_run=2)).fetchdf()
    orow2 = ora2.set_index("doc_id").loc[3]
    assert orow2["n_tokens"] == 0 and orow2["n_removed"] == 0
    assert orow2["clean_text"] == ""
    # full-frame parity (spark rows == oracle rows, all columns)
    sp = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["max_run"])
          for r in got.values()}
    od = {int(r.doc_id): (int(r.n_windows), int(r.n_dup_windows),
                          int(r.max_run))
          for r in ora.itertuples()}
    assert sp == od
    con.close()


def test_semantic_dedup_planted(spark):
    """Planted semantic dupes: a near-identical pair is reduced to its
    lowest id; the greedy chain rule drops every row with a smaller-id
    neighbor (documented non-closure semantics); singletons survive."""
    import duckdb
    import numpy as np
    import pandas as pd

    from pandas_rust_algos_spark.operators import semdedup as sd

    rng = np.random.default_rng(7)
    base_a = rng.normal(size=8)
    base_b = rng.normal(size=8) * 3  # far from a
    rows = [
        # 1 and 2: near-identical (cosine ~1) -> 2 dropped
        (1, list(base_a)),
        (2, list(base_a + 0.001)),
        # 3: a chain neighbor of 2 but not of 1 (tilted) — with the
        # greedy rule it is dropped too if cos(2,3) >= thr
        (3, list(base_a + 0.15 * rng.normal(size=8))),
        # 10: isolated
        (10, list(base_b)),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in
           sd.semantic_dedup(df, k=2, iters=2,
                             threshold=0.99).collect()}
    assert len(got) == 4
    assert got[1]["kept"] is True
    assert got[2]["kept"] is False  # has smaller-id neighbor 1
    assert got[10]["kept"] is True  # isolated

    # oracle parity on the same ad-hoc frame
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        columns=["vec_id", "embedding"]))
    ora = {int(r.vec_id): (int(r.cluster), bool(r.kept))
           for r in con.execute(sd.sql_semantic_dedup(
               k=2, iters=2, threshold=0.99)).fetchdf().itertuples()}
    con.close()
    assert ora == {i: (r["cluster"], r["kept"]) for i, r in got.items()}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sd.semantic_dedup(df, threshold=0.0)


def test_minhash_store_incremental(spark, tmp_path):
    """The persisted signature store: (1) incremental near-dupes
    through the store equal the full-corpus pipeline restricted to
    new-touching pairs (signatures are a pure function of text +
    frozen params); (2) append ingests under the STORED params and
    refuses id re-ingest; (3) a second batch sees dupes against both
    the original store and the first appended batch; (4) a precomputed
    ``new_bands`` gives the same pairs and, when it arrives unpersisted,
    leaves no cache after ``cachelife.release()``."""
    from pandas_rust_algos_spark.operators.minhash_store import (
        append_minhash_store,
        minhash_store_near_dupes,
        write_minhash_store,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = {i: base for i in (0, 3, 7)}             # a dupe cluster
    texts.update({i: base.replace("lazy", "sleepy")
                  for i in (4, 8)})                  # near-dupes of it
    texts.update({1: "completely different content about spark plans",
                  2: "unrelated words entirely " * 3,
                  5: "yet another standalone document body",
                  6: "numbers one two three four five six seven"})
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    old = docs.where(F.col("doc_id") < 6)
    new = docs.where(F.col("doc_id") >= 6)

    path = str(tmp_path / "mh")
    meta = write_minhash_store(old, path, num_hashes=16, bands=4,
                               hash_mode="portable")
    assert meta["num_hashes"] == 16
    inc = {(r["id_a"], r["id_b"], r["est_jaccard"])
           for r in minhash_store_near_dupes(
               spark, path, new, threshold=0.5).collect()}
    full = {(r["id_a"], r["id_b"], r["est_jaccard"])
            for r in dd.minhash_near_dupes(
                docs, threshold=0.5, num_hashes=16, bands=4,
                hash_mode="portable").collect()
            if r["id_a"] >= 6 or r["id_b"] >= 6}
    assert inc == full and len(inc) > 0     # (7,8) at least

    append_minhash_store(spark, path, new)
    with pytest.raises(ValueError, match="already in the store"):
        append_minhash_store(spark, path, new)

    batch2 = spark.createDataFrame(
        [(20, base), (21, "fresh singleton text body here")],
        "doc_id long, text string")
    inc2 = {(r["id_a"], r["id_b"]) for r in minhash_store_near_dupes(
        spark, path, batch2, threshold=0.5).collect()}
    # 20 duplicates the cluster {0,3,7}: 7 came in via APPEND — the
    # store must see both the original write and the appended batch
    assert {(0, 20), (3, 20), (7, 20)} <= inc2
    assert all(a == 20 or b == 20 or a == 21 or b == 21
               for a, b in inc2)

    with pytest.raises(ValueError, match="divide"):
        write_minhash_store(old, str(tmp_path / "bad"), num_hashes=16,
                            bands=5)

    # precomputed probe-side band table (the overlapped-bootstrap
    # path): passing batch_band_table() through new_bands= must be
    # result-identical to the default in-function derivation — the
    # band table is a pure function of (text, frozen params). An
    # unpersisted one is persisted and tracked by the call, so
    # cachelife.release() drops it from the cache.
    from pandas_rust_algos_spark import cachelife
    from pandas_rust_algos_spark.operators.minhash_store import (
        batch_band_table,
    )

    pre = batch_band_table(path, batch2)
    inc2_pre = {(r["id_a"], r["id_b"]) for r in minhash_store_near_dupes(
        spark, path, batch2, threshold=0.5, new_bands=pre).collect()}
    assert inc2_pre == inc2
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert pre.is_cached and cache.lookupCachedData(pre._jdf).isDefined()
    cachelife.release()
    assert not pre.is_cached and cache.lookupCachedData(pre._jdf).isEmpty()


def test_minhash_store_stream_ingest(spark, tmp_path):
    """Streaming ingest (foreachBatch → batch_id partition dirs):
    (1) a drained stream's store state equals a batch append of the
    same docs (signatures are a pure function of text + frozen
    params); (2) replaying the whole stream with a fresh checkpoint
    does not duplicate signatures (dynamic partition overwrite on
    batch_id — the at-least-once idempotence contract, which holds
    per batch→file mapping); (3) the
    store-only probe (``minhash_store_pairs``, no re-shingling)
    equals the full-corpus pipeline restricted to new-touching
    pairs."""
    from pandas_rust_algos_spark.operators.minhash_store import (
        append_minhash_store,
        minhash_store_pairs,
        read_store_sigs,
        stream_ingest_minhash_store,
        write_minhash_store,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = {i: base for i in (0, 3, 7)}
    texts.update({i: base.replace("lazy", "sleepy") for i in (4, 8)})
    texts.update({1: "completely different content about spark plans",
                  2: "unrelated words entirely " * 3,
                  5: "yet another standalone document body",
                  6: "numbers one two three four five six seven"})
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string")
    old = docs.where(F.col("doc_id") < 6)
    new = docs.where(F.col("doc_id") >= 6)

    landing = str(tmp_path / "landing")
    new.coalesce(1).write.parquet(landing)

    def drain(path, ckpt_name):
        stream = (spark.readStream.schema(new.schema)
                  .option("maxFilesPerTrigger", 1).parquet(landing))
        q = stream_ingest_minhash_store(
            path, stream, checkpoint=str(tmp_path / ckpt_name))
        assert len(q.recentProgress) <= 1

    path_s = str(tmp_path / "mh_stream")
    write_minhash_store(old, path_s, num_hashes=16, bands=4,
                        hash_mode="portable")
    drain(path_s, "ckpt1")

    # (1) drained state ≡ batch append state
    path_b = str(tmp_path / "mh_batch")
    write_minhash_store(old, path_b, num_hashes=16, bands=4,
                        hash_mode="portable")
    append_minhash_store(spark, path_b, new)
    sig_s = sorted(map(tuple, read_store_sigs(spark, path_s).collect()))
    sig_b = sorted(map(tuple, read_store_sigs(spark, path_b).collect()))
    assert sig_s == sig_b and len(sig_s) == 9

    # (2) full replay rewrites, not duplicates — because this fresh
    # checkpoint reproduces the SAME batch→file mapping (identical
    # source files + maxFilesPerTrigger); the documented contract is
    # per-checkpoint, a differently-batched replay needs a truncate
    drain(path_s, "ckpt2")
    assert read_store_sigs(spark, path_s).count() == 9

    # (2b) streamed ids now count as stored — batch append refuses them
    with pytest.raises(ValueError, match="already in the store"):
        append_minhash_store(spark, path_s, new)

    # (3) store-only probe ≡ full pipeline restricted to new-touching
    got = {(r["id_a"], r["id_b"], r["est_jaccard"])
           for r in minhash_store_pairs(
               spark, path_s, new.select("doc_id"),
               threshold=0.5).collect()}
    full = {(r["id_a"], r["id_b"], r["est_jaccard"])
            for r in dd.minhash_near_dupes(
                docs, threshold=0.5, num_hashes=16, bands=4,
                hash_mode="portable").collect()
            if r["id_a"] >= 6 or r["id_b"] >= 6}
    assert got == full and len(got) > 0

    # (4) guard_existing: re-streaming ids already stored is silently
    # skipped per batch (left_anti vs the store) instead of
    # duplicating their band rows in every later probe
    landing2 = str(tmp_path / "landing2")
    docs.where(F.col("doc_id").isin(6, 7)).coalesce(1).write.parquet(
        landing2)  # 6,7 already streamed in above
    stream2 = (spark.readStream.schema(new.schema).parquet(landing2))
    q2 = stream_ingest_minhash_store(
        path_s, stream2, checkpoint=str(tmp_path / "ckpt3"),
        guard_existing=True)
    assert len(q2.recentProgress) <= 1
    assert read_store_sigs(spark, path_s).count() == 9  # unchanged


def test_minhash_store_meta_only_stream_then_bootstrap(spark, tmp_path):
    """The bootstrap ∥ drain overlap contract: a streaming ingest needs
    ONLY the frozen ``meta.json`` — it must succeed against a store
    with no ``sigs.parquet`` yet, and a bootstrap signature write
    landing AFTERWARDS (the worst-case interleaving of the overlapped
    gate) must yield the identical store state as the old sequential
    bootstrap → drain order."""
    from pandas_rust_algos_spark.operators.minhash_store import (
        freeze_minhash_params,
        read_store_sigs,
        stream_ingest_minhash_store,
        write_minhash_store,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(0, base), (1, "some other words entirely " * 2),
         (6, base), (7, "yet another standalone document body")],
        "doc_id long, text string")
    old = docs.where(F.col("doc_id") < 6)
    new = docs.where(F.col("doc_id") >= 6)
    landing = str(tmp_path / "landing")
    new.coalesce(1).write.parquet(landing)

    # params frozen, NO signatures yet — drain the stream first
    path = str(tmp_path / "mh_meta_only")
    meta = freeze_minhash_params(path, num_hashes=16, bands=4,
                                 hash_mode="portable")
    assert meta["num_hashes"] == 16 and meta["bands"] == 4
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(landing))
    q = stream_ingest_minhash_store(
        path, stream, checkpoint=str(tmp_path / "ckpt"))
    assert len(q.recentProgress) <= 1
    # bootstrap lands after the drain — the overlapped gate's
    # worst-case ordering
    assert write_minhash_store(old, path, num_hashes=16, bands=4,
                               hash_mode="portable") == meta

    seq = str(tmp_path / "mh_sequential")
    write_minhash_store(old, seq, num_hashes=16, bands=4,
                        hash_mode="portable")
    stream2 = (spark.readStream.schema(new.schema)
               .option("maxFilesPerTrigger", 1).parquet(landing))
    q2 = stream_ingest_minhash_store(
        seq, stream2, checkpoint=str(tmp_path / "ckpt2"))
    assert len(q2.recentProgress) <= 1

    got = sorted(map(tuple, read_store_sigs(spark, path).collect()))
    want = sorted(map(tuple, read_store_sigs(spark, seq).collect()))
    assert got == want and len(got) == 4

    with pytest.raises(ValueError, match="must divide"):
        freeze_minhash_params(str(tmp_path / "bad"), num_hashes=16,
                              bands=5)


def test_minhash_store_whale_cap(spark, tmp_path):
    """The incremental guard: a planted whale bucket in the STORE
    contributes only its min-id representative to the batch join, so
    each new dupe links through one pair per band instead of one per
    whale member — pair count bounded, component connectivity kept."""
    from pandas_rust_algos_spark.operators.minhash_store import (
        minhash_store_near_dupes,
        write_minhash_store,
    )

    base = "the quick brown fox jumps over the lazy dog once more"
    whale = [(i, base) for i in range(12)]
    other = [(50, "entirely different text about catalyst exchanges")]
    store_docs = spark.createDataFrame(
        whale + other, "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, base), (101, "another unrelated fresh document")],
        "doc_id long, text string")
    path = str(tmp_path / "mhw")
    write_minhash_store(store_docs, path, num_hashes=16, bands=4,
                        hash_mode="portable")

    uncapped = {(r["id_a"], r["id_b"]) for r in minhash_store_near_dupes(
        spark, path, new, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]) for r in minhash_store_near_dupes(
        spark, path, new, threshold=0.5, max_bucket=4).collect()}
    # uncapped: doc 100 pairs with all 12 whale members
    assert {(i, 100) for i in range(12)} <= uncapped
    # capped: only the min-id representative (0) survives per bucket,
    # keeping doc 100 connected to the whale's component
    assert (0, 100) in capped
    assert not any(a in range(1, 12) or b in range(1, 12)
                   for a, b in capped)
    assert len(capped) < len(uncapped)

    with pytest.raises(ValueError, match="max_bucket"):
        minhash_store_near_dupes(spark, path, new, max_bucket=1)
