"""Unit tests for the non-SQL-expressible LLM-data operators: planted
near-duplicates for MinHash/SimHash, planted clusters for LSH ANN
recall, and the multimodal mapInPandas plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import multimodal as mm_ops
from lab3_lakehouse_spark.operators import similarity as sim_ops


WORDS = [f"w{i}" for i in range(50)]


def _doc(rng: np.random.RandomState, n: int = 60) -> str:
    return " ".join(rng.choice(WORDS, size=n))


@pytest.fixture(scope="module")
def planted_docs(spark):
    """40 random docs + 5 near-dup pairs (1-word edit) + 2 exact dups."""
    rng = np.random.RandomState(7)
    rows = [(i, _doc(rng)) for i in range(40)]
    near_pairs = []
    for j in range(5):
        base_id = 100 + 2 * j
        words = _doc(rng).split()
        edited = list(words)
        edited[3] = "zzz"
        rows.append((base_id, " ".join(words)))
        rows.append((base_id + 1, " ".join(edited)))
        near_pairs.append((base_id, base_id + 1))
    rows.append((200, rows[0][1]))  # exact dup of doc 0
    rows.append((201, rows[1][1]))  # exact dup of doc 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return df, near_pairs


def test_exact_dedup_keeps_smallest_id(spark, planted_docs):
    df, _ = planted_docs
    out = dedup_ops.exact_dedup(df, ["text"], ["doc_id"])
    kept = {r.doc_id for r in out.collect()}
    assert 200 not in kept and 201 not in kept
    assert 0 in kept and 1 in kept
    assert out.count() == df.count() - 2


def test_minhash_lsh_finds_planted_near_dups(spark, planted_docs):
    df, near_pairs = planted_docs
    hashed = df.select(
        F.col("doc_id").alias("__id"), dedup_ops.shingle_hashes("text", 3).alias("__h")
    )
    cands = dedup_ops.minhash_lsh_candidates_from_hashes(hashed, num_perm=64, bands=16)
    verified = dedup_ops.minhash_verify_hashed(cands, hashed, threshold=0.7)
    found = {(r.id_a, r.id_b) for r in verified.collect()}
    for pair in near_pairs:
        assert pair in found, f"missed planted near-dup {pair}"
    # exact dups are jaccard-1 candidates too
    assert (0, 200) in found and (1, 201) in found


def test_minhash_no_false_positives_after_verify(spark, planted_docs):
    df, near_pairs = planted_docs
    hashed = df.select(
        F.col("doc_id").alias("__id"), dedup_ops.shingle_hashes("text", 3).alias("__h")
    )
    cands = dedup_ops.minhash_lsh_candidates_from_hashes(hashed)
    verified = dedup_ops.minhash_verify_hashed(cands, hashed, threshold=0.7)
    expected = set(near_pairs) | {(0, 200), (1, 201)}
    found = {(r.id_a, r.id_b) for r in verified.collect()}
    # verification stage guarantees precision: every surviving pair is
    # genuinely >= threshold (random 60-word docs over 50 words do
    # collide sometimes; check the planted pairs dominate)
    assert expected <= found
    for r in verified.collect():
        assert r.jaccard >= 0.7


def test_wordlevel_minhash_recall_vs_exact(spark, sf_small):
    """MinHash-LSH over 1-shingle hashes approximates word-set Jaccard:
    recall vs the exact same-lang blocked pairs at threshold 0.8 must
    be high (S-curve: J=0.8, r=4, b=16 → collision prob ≈ 0.9998).
    Candidates and verification share one hash frame, so each doc is
    tokenized once rather than once per candidate pair."""
    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.queries import QUERIES

    docs = load_table(spark, sf_small, "documents")
    hashed = docs.select(
        F.col("doc_id").alias("__id"), dedup_ops.shingle_hashes("text", 1).alias("__h")
    ).localCheckpoint(eager=False)
    cands = dedup_ops.minhash_lsh_candidates_from_hashes(hashed, num_perm=64, bands=16)
    found = dedup_ops.minhash_verify_hashed(cands, hashed, threshold=0.8)
    lsh_pairs = {(r.id_a, r.id_b) for r in found.collect()}
    exact = QUERIES["word_jaccard_near_dups"](spark, sf_small).collect()
    exact_pairs = {(r.id_a, r.id_b) for r in exact}
    assert exact_pairs, "exact op found no pairs — test data changed?"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.95, f"word-level MinHash recall {recall}"


def test_simhash_planted_pairs(spark, planted_docs):
    df, near_pairs = planted_docs
    out = dedup_ops.simhash_pairs(df, "doc_id", "text", max_hamming=6)
    found = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 200) in found and (1, 201) in found  # exact dups: hamming 0
    hits = sum(1 for p in near_pairs if p in found)
    assert hits >= 3, f"simhash found only {hits}/5 planted near-dups"


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """10 cluster centers × 30 members with small noise: ANN-meaningful
    geometry (random Gaussians are adversarial for any LSH)."""
    rng = np.random.RandomState(11)
    centers = rng.normal(size=(10, 32))
    rows = []
    vid = 0
    for c in range(10):
        for _ in range(30):
            v = centers[c] + 0.15 * rng.normal(size=32)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_lsh_ann_recall_on_clusters(spark, clustered_vectors):
    emb = clustered_vectors
    queries = emb.filter(F.col("vec_id") % 30 == 0)  # one per cluster
    bf = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    lsh = sim_ops.rp_lsh_topk(
        emb, queries, "vec_id", "embedding", dim=32, k=5, n_bits=8, n_tables=8
    )
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    lsh_pairs = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    assert recall >= 0.8, f"LSH recall {recall} below floor on clustered data"


def test_brute_force_topk_self_exclusion_and_k(spark, clustered_vectors):
    emb = clustered_vectors
    queries = emb.filter(F.col("vec_id") < 3)
    out = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=4).toPandas()
    assert (out.groupby("query_id").size() == 4).all()
    assert not ((out.query_id == out.neighbor_id).any())
    assert (out.cosine <= 1.0 + 1e-9).all()


def test_media_decode_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "spark engine")], ["doc_id", "text"])
    with_bin = mm_ops.text_as_binary(df, "text", "content")
    a = mm_ops.decode_and_featurize_images(with_bin).toPandas().sort_values("doc_id")
    b = mm_ops.decode_and_featurize_images(with_bin).toPandas().sort_values("doc_id")
    assert a.width.tolist() == b.width.tolist()
    assert a.mean_intensity.tolist() == b.mean_intensity.tolist()
    assert all(len(v) == 8 for v in a.feature_vec)


def test_media_metadata_sha256_matches_hashlib(spark):
    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    out = mm_ops.attach_media_metadata(
        mm_ops.text_as_binary(df, "text", "content"), "content", "image"
    ).collect()[0]
    expected = hashlib.sha256(b"hello world").hexdigest()
    assert out.content_meta.sha256 == expected
    assert out.content_meta.n_bytes == len(b"hello world")
    assert out.content_meta.media_type == "image"


def test_frame_sample_expands_rows(spark):
    text = " ".join(["x"] * 200)  # 399 bytes → 7 chunks of 64 → 2 sampled
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = mm_ops.sample_frames(
        mm_ops.text_as_binary(df, "text", "content"), every_n=4
    ).toPandas()
    assert len(out) == 2
    assert out.frame_idx.tolist() == [0, 1]


def test_ivf_ann_recall_on_clusters(spark, clustered_vectors):
    emb = clustered_vectors
    queries = emb.filter(F.col("vec_id") % 30 == 0)
    bf = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    ivf = sim_ops.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_centroids=10, n_probe=3
    )
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(bf_pairs & ivf_pairs) / len(bf_pairs)
    assert recall >= 0.9, f"IVF recall {recall} below floor on clustered data"


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing guarantee: docs sharing a run of >= w+k-1 words share
    >= 1 fingerprint; disjoint-vocab docs share none."""
    from lab3_lakehouse_spark.operators import text as text_ops

    shared = " ".join(f"s{i}" for i in range(12))  # 12 shared words > w+k-1=8
    rows = [
        (1, "aa bb cc " + shared + " dd ee"),
        (2, "xx yy " + shared + " zz ww qq"),
        (3, " ".join(f"u{i}" for i in range(20))),  # disjoint vocab
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id", text_ops.winnowed_fingerprints("text", k=5, w=4).alias("fps")
    ).collect()
    fps = {r.doc_id: set(r.fps) for r in out}
    assert fps[1] & fps[2], "shared run must produce a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


# ---------------------------------------------- packing & sampling ----

def test_pack_concat_chop_straddle_and_determinism(spark):
    from lab3_lakehouse_spark.operators import packing as pack_ops

    # shard "a": tokens 3,4,5 with seq_len 6 → starts 0,3,7 → packs 0,0,1
    # (doc 2 straddles the 6-token boundary: it belongs to the pack its
    # FIRST token lands in). shard "b" independent: starts 0,5 → 0,0.
    rows = [("a", 1, 3), ("a", 2, 4), ("a", 3, 5), ("b", 1, 5), ("b", 2, 1)]
    df = spark.createDataFrame(rows, ["shard", "doc_id", "n_tok"])
    packed = pack_ops.pack_concat_chop(
        df, token_col="n_tok", order_col="doc_id", shard_col="shard", seq_len=6
    )
    got = {
        (r.shard, r.doc_id): (r.start_offset, r.pack_id)
        for r in packed.collect()
    }
    assert got == {
        ("a", 1): (0, 0), ("a", 2): (3, 0), ("a", 3): (7, 1),
        ("b", 1): (0, 0), ("b", 2): (5, 0),
    }
    # rerun on a reshuffled snapshot → byte-identical assignment
    again = pack_ops.pack_concat_chop(
        df.repartition(7), token_col="n_tok", order_col="doc_id",
        shard_col="shard", seq_len=6,
    )
    assert {(r.shard, r.doc_id): (r.start_offset, r.pack_id)
            for r in again.collect()} == got


def test_deterministic_stratified_sample_exact_membership(spark):
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = sample_ops.deterministic_stratified_sample(
        df, id_col="doc_id", stratum_col="lang",
        pct_by_stratum={"en": 50}, default_pct=10,
    )
    ids = {(r.lang, r.doc_id) for r in kept.collect()}
    expected = {
        ("en" if i % 2 == 0 else "de", i)
        for i in range(200)
        if i % 100 < (50 if i % 2 == 0 else 10)
    }
    assert ids == expected  # exact, rerun-stable membership


def test_bernoulli_stratified_sample_is_seed_stable(spark):
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(500)],
        ["doc_id", "lang"],
    )
    a = sample_ops.bernoulli_stratified_sample(
        df, stratum_col="lang", fractions={"en": 0.5, "de": 0.1}, seed=7
    )
    b = sample_ops.bernoulli_stratified_sample(
        df, stratum_col="lang", fractions={"en": 0.5, "de": 0.1}, seed=7
    )
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


# ------------------------------------------- connected components --------

def test_connected_components_planted_graph(spark):
    """Chain + triangle + isolated pair: labels converge to the min id
    of each component, and component diameter > 1 exercises multiple
    propagation rounds."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        ["id_a", "id_b"],
    )
    cc = dedup_ops.connected_components(edges)
    got = {r.vertex: r.component for r in cc.collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_direction_and_duplicate_insensitive(spark):
    """Edge direction and repeated pairs must not change the result."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (3, 1), (5, 3), (7, 9)], ["id_a", "id_b"]
    )
    cc = dedup_ops.connected_components(edges)
    got = {r.vertex: r.component for r in cc.collect()}
    assert got == {1: 1, 3: 1, 5: 1, 7: 7, 9: 7}


def test_connected_components_max_iter_caps_rounds(spark):
    """max_iter=1 on a long chain must return a PARTIALLY propagated
    labeling (correct per-round semantics), not loop forever."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"])
    cc = dedup_ops.connected_components(edges, max_iter=1)
    got = {r.vertex: r.component for r in cc.collect()}
    # one hash-min round: each vertex takes min(self, direct neighbors)
    assert got == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}


# ------------------------------------------------ decontamination --------

def test_ngram_overlap_planted_contamination(spark):
    """A corpus doc containing a verbatim benchmark sentence must show
    the full benchmark shingle set as overlap; unrelated docs none."""
    from lab3_lakehouse_spark.operators import text as text_ops

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words the quick brown fox jumps over the lazy dog suffix"),
            (2, "completely unrelated text about spark physical plans"),
        ],
        ["doc_id", "text"],
    )
    ov = text_ops.ngram_overlap(corpus, bench, shingle_n=3)
    rows = {r.doc_id: r for r in ov.collect()}
    assert set(rows) == {1}  # doc 2 shares no 3-shingle
    # the benchmark sentence has 9 tokens → 7 shingles, all present in doc 1
    assert rows[1].bench_id == 100
    assert rows[1].n_overlap == 7
    # doc 1 has 12 tokens → 10 distinct shingles
    assert rows[1].n_shingles == 10


def test_ngram_overlap_max_df_drops_boilerplate(spark):
    """Shingles indexed by more than max_df benchmark docs are stop-gram
    filtered before the join — boilerplate can't claim contamination."""
    from lab3_lakehouse_spark.operators import text as text_ops

    boiler = "all rights reserved do not redistribute"
    bench = spark.createDataFrame(
        [(100, f"alpha beta gamma {boiler}"), (101, f"delta epsilon zeta {boiler}")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, f"my own words here {boiler}")], ["doc_id", "text"]
    )
    with_boiler = text_ops.ngram_overlap(corpus, bench, shingle_n=3)
    assert with_boiler.count() == 2  # boilerplate matches both bench docs
    filtered = text_ops.ngram_overlap(corpus, bench, shingle_n=3, max_df=1)
    assert filtered.count() == 0  # every shared shingle sits in 2 bench docs


def test_linear_tfidf_top_terms_planted(spark):
    """A term unique to one doc must outscore corpus-wide terms; ties
    and ordering are deterministic."""
    from lab3_lakehouse_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "common common rare common"),
            (2, "common common common common"),
            (3, "common other other common"),
        ],
        ["doc_id", "text"],
    )
    top = text_ops.linear_tfidf_top_terms(docs, top_k=1)
    best = {r.doc_id: (r.term, r.tf, r.df) for r in top.collect()}
    # doc 1: 'rare' tf=1 df=1 → score 3.0 beats 'common' tf=3 df=3 → 3.0?
    # scores tie at 3.0; tf desc breaks the tie toward 'common' (tf=3)
    assert best[1] == ("common", 3, 3)
    assert best[2] == ("common", 4, 3)
    assert best[3] == ("other", 2, 1)  # 2*3/1=6 beats common 2*3/3=2


def test_alternating_cc_solves_long_chain_in_log_rounds(spark):
    """A 200-vertex path has diameter 199 — hash-min inside the same
    25-round budget CANNOT finish it, the alternating algorithm must
    (O(log n) rounds is the whole point at adversarial scale)."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    cc = dedup_ops.connected_components(edges, algorithm="alternating")
    got = {r.vertex: r.component for r in cc.collect()}
    assert got == {i: 0 for i in range(201)}


def test_alternating_cc_matches_hash_min_on_clustered_graph(spark):
    """On a small-diameter graph (the near-dup regime) both algorithms
    must agree exactly."""
    import random

    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    rng = random.Random(7)
    edges = []
    for base in range(0, 100, 10):  # 10 clusters of 10, random intra-edges
        members = list(range(base, base + 10))
        for v in members[1:]:
            edges.append((rng.choice(members[: members.index(v)]), v))
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = {
        (r.vertex, r.component)
        for r in dedup_ops.connected_components(df).collect()
    }
    b = {
        (r.vertex, r.component)
        for r in dedup_ops.connected_components(
            df, algorithm="alternating"
        ).collect()
    }
    assert a == b
    assert {c for _, c in a} == set(range(0, 100, 10))


def test_hot_bucket_cap_bounds_candidate_blowup(spark):
    """A planted pathological cluster (many mutually-identical-shingle
    docs) must stop generating quadratic candidates once max_bucket is
    set — while a small genuine near-dup pair elsewhere still surfaces
    (its buckets are below the cap)."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops
    from pyspark.sql import functions as F

    boiler = "terms of service apply to all users of this site without exception"
    pair = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{boiler} variant") for i in range(40)]   # hot cluster
    rows += [(100, pair), (101, pair)]                      # genuine pair
    hashed = spark.createDataFrame(rows, ["doc_id", "text"]).select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    ).localCheckpoint(eager=False)
    uncapped = dedup_ops.minhash_lsh_candidates_from_hashes(hashed).count()
    capped_df = dedup_ops.minhash_lsh_candidates_from_hashes(hashed, max_bucket=10)
    capped = capped_df.count()
    assert uncapped >= 40 * 39 / 2, "hot cluster must dominate uncapped pairs"
    assert capped < uncapped / 10, f"cap must collapse the blowup: {capped}"
    got = {(r["id_a"], r["id_b"]) for r in capped_df.collect()}
    assert (100, 101) in got, "small genuine pair must survive the cap"


def test_prefix_filtered_containment_matches_brute_force_and_prunes(spark, sf_small):
    """Losslessness + effectiveness on real data: the prefix-filtered
    path must emit exactly the brute-force pair set, while generating
    strictly fewer candidates than blocked-all-pairs would."""
    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.operators import dedup as dedup_ops
    from lab3_lakehouse_spark.queries import QUERIES

    docs = load_table(spark, sf_small, "documents")
    fast = dedup_ops.prefix_filtered_containment(docs)
    got = {(r["id_small"], r["id_big"]) for r in fast.collect()}
    brute = QUERIES["containment_near_dups"](spark, sf_small)
    want = {(r["id_small"], r["id_big"]) for r in brute.collect()}
    assert got == want


def test_prefix_filtered_containment_boundary_and_direction(spark):
    """Planted: exact-at-threshold pair kept (18/20 = 0.9), one-below
    dropped, orientation small->big, and a doc sharing only COMMON
    words with everything must not pair (its rare prefix misses)."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    common = [f"w{i}" for i in range(20)]
    big = " ".join(common + ["rareA", "rareB", "rareC", "rareD", "rareE"])
    hit = " ".join(common[:18] + ["x1", "x2"])          # 18/20 in big = 0.90
    miss = " ".join(common[:17] + ["y1", "y2", "y3"])   # 17/20 = 0.85
    docs = spark.createDataFrame(
        [(1, big, "en"), (2, hit, "en"), (3, miss, "en")],
        "doc_id long, text string, lang string",
    )
    out = dedup_ops.prefix_filtered_containment(docs)
    rows = [(r["id_small"], r["id_big"], r["containment"]) for r in out.collect()]
    assert rows == [(2, 1, 0.9)], rows


# ------------------------------------------ tokenizer & mixing ops ----


def test_adjacent_token_pairs_planted(spark):
    from lab3_lakehouse_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, "x y")], ["doc_id", "text"]
    )
    pairs = sorted(
        (r.tok_a, r.tok_b)
        for r in text_ops.adjacent_token_pairs(df, "text").collect()
    )
    # doc 2 (single token) contributes nothing; order within docs kept
    assert pairs == [("a", "b"), ("b", "c"), ("x", "y")]


def test_weighted_sample_topn_deterministic_and_weight_monotone(spark):
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    rows = [(i, 1000.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    pick = lambda d: sorted(
        r.doc_id
        for r in sample_ops.weighted_sample_topn(
            d, id_col="doc_id", weight_col="w", n=30
        ).collect()
    )
    first = pick(df)
    # partition-layout independence: same draw from any repartitioning
    assert pick(df.repartition(13)) == first
    # weight monotonicity: the 20 heavy rows (1000x weight) all make the
    # top-30 with overwhelming probability under ES sampling
    assert set(range(20)) <= set(first)
    # priorities are <= 0 (ln of u in (0,1] over positive weight) and the
    # emitted set is exactly n rows
    out = sample_ops.weighted_sample_topn(
        df, id_col="doc_id", weight_col="w", n=30
    ).collect()
    assert len(out) == 30 and all(r.priority <= 0 for r in out)


def test_materialize_rate_mix_copies_and_determinism(spark):
    """Rate semantics: boost 2.0 → exactly 2 copies of every doc;
    boost 0.0 → none; fractional boosts subsample/oversample by the
    deterministic per-doc hash draw (partition-layout independent);
    the copy index distinguishes repeats."""
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    rows = [(i, ["lo", "hi", "whole"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    rates = spark.createDataFrame(
        [("lo", 0.3), ("hi", 1.7), ("whole", 2.0)], ["source", "boost"]
    )
    mix = sample_ops.materialize_rate_mix(
        df, rates, id_col="doc_id", source_col="source"
    )
    out = mix.collect()
    per = {}
    for r in out:
        per.setdefault(r.source, {}).setdefault(r.doc_id, []).append(r.copy)
    # whole: every doc exactly twice, copies 0 and 1
    assert set(per["whole"]) == {i for i in range(300) if i % 3 == 2}
    assert all(sorted(c) == [0, 1] for c in per["whole"].values())
    # hi: every doc at least once, ~70% twice
    assert set(per["hi"]) == {i for i in range(300) if i % 3 == 1}
    n_twice = sum(len(c) == 2 for c in per["hi"].values())
    assert 50 <= n_twice <= 90, n_twice  # 100 docs at p=0.7
    # lo: strict subset, ~30% kept, all copy 0
    assert 15 <= len(per["lo"]) <= 45, len(per["lo"])
    assert all(c == [0] for c in per["lo"].values())
    # determinism under repartitioning
    key = lambda rs: sorted((r.doc_id, r.copy) for r in rs)
    again = sample_ops.materialize_rate_mix(
        df.repartition(17), rates, id_col="doc_id", source_col="source"
    ).collect()
    assert key(again) == key(out)


def test_weighted_sample_excludes_non_positive_weights(spark):
    """ADVICE r5: w=0 gives -Inf/NaN priorities (NaN sorts ABOVE all
    doubles under desc) and w<0 flips the sign — such rows must be
    excluded from the draw, not sampled first."""
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    rows = [(1, 0.0), (2, -5.0), (3, None), (4, 1.0), (5, 2.0), (6, 3.0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = sample_ops.weighted_sample_topn(
        df, id_col="doc_id", weight_col="w", n=10
    ).collect()
    assert sorted(r.doc_id for r in out) == [4, 5, 6]


def test_weighted_sample_plan_is_take_ordered(spark):
    from lab3_lakehouse_spark.operators import sampling as sample_ops

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") + 1).cast("double").alias("w")
    )
    plan = (
        sample_ops.weighted_sample_topn(df, id_col="doc_id", weight_col="w", n=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_unigram_surprisal_rare_tokens_score_higher(spark, tmp_path):
    """A doc of corpus-rare tokens must out-score a doc of the
    boilerplate token (the quality-filter semantics)."""
    import os

    from lab3_lakehouse_spark.queries import QUERIES

    docs = spark.createDataFrame(
        [(1, "common common common common", "en", "s", 27)]
        + [(i, "common common common rare%d" % i, "en", "s", 30) for i in (2, 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    out = {
        r.doc_id: r.mean_surprisal_bits
        for r in QUERIES["unigram_surprisal_scores"](spark, str(tmp_path)).collect()
    }
    assert out[2] > out[1] and out[3] > out[1]


def test_zipf_slope_negative_on_skewed_counts(spark, sf_small):
    from lab3_lakehouse_spark.queries import QUERIES

    row = QUERIES["zipf_fit_tokens"](spark, sf_small).collect()[0]
    assert row.vocab_size > 10
    assert row.zipf_slope < 0  # frequency decays with rank


def test_ivf_index_persists_and_reloads_identically(spark, clustered_vectors, tmp_path):
    """The IVF index lifecycle (ANN twin of the MinHash signature
    store): build → materialize both frames → reload → probe must
    reproduce the fused ivf_topk answer exactly (same seed, same
    index, same routing)."""
    from lab3_lakehouse_spark.operators import similarity as sim_ops

    corpus = clustered_vectors
    queries = corpus.filter(F.col("vec_id") < 4)
    direct = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in sim_ops.ivf_topk(
            corpus, queries, "vec_id", "embedding",
            k=5, n_centroids=8, n_probe=4,
        ).collect()
    )

    assigned, centroids = sim_ops.ivf_build(
        corpus, "vec_id", "embedding", n_centroids=8
    )
    assigned.write.parquet(str(tmp_path / "ivf_assigned"))
    centroids.write.parquet(str(tmp_path / "ivf_centroids"))
    re_assigned = spark.read.parquet(str(tmp_path / "ivf_assigned"))
    re_centroids = spark.read.parquet(str(tmp_path / "ivf_centroids"))
    reloaded = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in sim_ops.ivf_probe(
            re_assigned, re_centroids, queries, "vec_id", "embedding",
            k=5, n_probe=4,
        ).collect()
    )
    assert reloaded == direct and len(direct) > 0


def test_bigram_surprisal_flags_shuffled_sequences(spark, tmp_path):
    """The conditional scorer's reason to exist: docs whose tokens are
    individually common but incoherently SEQUENCED must out-score docs
    made of the corpus's dominant bigrams — the case the unigram scorer
    cannot see."""
    from lab3_lakehouse_spark.queries import QUERIES

    coherent = "the cat sat on the mat"
    rows = [(i, coherent, "en", "s", len(coherent)) for i in range(1, 9)]
    # doc 9: same unigrams as the corpus staple, novel adjacencies
    rows.append((9, "mat the on sat cat the", "en", "s", 22))
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.mean_bigram_surprisal_bits
        for r in QUERIES["bigram_surprisal_scores"](spark, str(tmp_path)).collect()
    }
    assert out[9] > out[1] + 1.0, out


def test_pmi_surfaces_planted_collocation(spark, tmp_path):
    """A pair that ALWAYS co-occurs ('hong kong') must out-rank a pair
    of independently frequent tokens."""
    from lab3_lakehouse_spark.queries import QUERIES

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{filler} hong kong", "en", "s", 50) for i in range(1, 9)]
    # 'alpha' and 'beta' are frequent but also appear apart:
    rows += [(10 + i, "beta alpha " + filler.split()[i % 8], "en", "s", 20)
             for i in range(8)]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["token_pmi_collocations"](spark, str(tmp_path)).collect()
    by_pair = {(r.tok_a, r.tok_b): r.pmi for r in out}
    assert ("hong", "kong") in by_pair
    assert by_pair[("hong", "kong")] >= max(
        v for k, v in by_pair.items() if k != ("hong", "kong")
    )


# ---------------------------------------------- BM25 postings store ----


def test_bm25_store_two_appends_equal_one_shot(spark, tmp_path):
    """Store probe == one-shot scorer, and the second append is
    delta-proportional: it only ADDS parquet files — every file the
    first append wrote is still byte-identical afterwards (the store
    is never read or rewritten by an append)."""
    import glob
    import os

    from lab3_lakehouse_spark.operators import text as text_ops

    rng = np.random.RandomState(11)
    rows = [(i, _doc(rng, n=30)) for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = F.split(F.lower(F.col("text")), r"\s+")
    q = (
        docs.filter(F.col("doc_id") < 4)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(toks, 1, 4)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    root = str(tmp_path / "bm25")
    text_ops.bm25_append_batch(root, docs.filter(F.col("doc_id") % 2 == 0))

    def snapshot():
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(f"{root}/**/*.parquet", recursive=True)
        }

    before = snapshot()
    text_ops.bm25_append_batch(root, docs.filter(F.col("doc_id") % 2 == 1))
    after = snapshot()
    # append-only: batch-1 files untouched, new files added
    for path, sig in before.items():
        assert after[path] == sig, f"append rewrote existing file {path}"
    assert len(after) > len(before)

    got = (
        text_ops.bm25_topk_from_store(spark, root, q, k=5)
        .orderBy("query_id", "rank")
        .collect()
    )
    want = (
        text_ops.bm25_topk(docs, q, k=5)
        .orderBy("query_id", "rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_bm25_store_probe_prunes_to_query_terms(spark, tmp_path):
    """The probe plan pushes the query vocabulary down as a parquet
    ``In(term, …)`` filter — the index-probe contract: row groups of
    non-query terms are never read."""
    from lab3_lakehouse_spark.operators import text as text_ops

    rng = np.random.RandomState(13)
    docs = spark.createDataFrame(
        [(i, _doc(rng, n=20)) for i in range(30)], ["doc_id", "text"]
    )
    root = str(tmp_path / "bm25")
    text_ops.bm25_append_batch(root, docs)
    q = spark.createDataFrame(
        [(0, "w1", 1), (0, "w2", 1)], ["query_id", "term", "qtf"]
    )
    # the probe path must still produce correct output…
    out = text_ops.bm25_topk_from_store(spark, root, q, k=3)
    assert out.count() > 0
    # …and its index read (the frame the operator checkpoints) must
    # carry the pushed In(term, …) filter
    pruned = text_ops._bm25_pruned_postings(spark, root, ["w1", "w2"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_bm25_store_probe_handles_unknown_terms(spark, tmp_path):
    """Query terms absent from the corpus must score with df=0 idf
    (not drop the query), matching the one-shot scorer exactly."""
    from lab3_lakehouse_spark.operators import text as text_ops

    rng = np.random.RandomState(17)
    docs = spark.createDataFrame(
        [(i, _doc(rng, n=25)) for i in range(40)], ["doc_id", "text"]
    )
    root = str(tmp_path / "bm25")
    text_ops.bm25_append_batch(root, docs)
    q = spark.createDataFrame(
        [(0, "w1", 1), (0, "zzz_not_in_corpus", 2), (1, "w2", 1)],
        ["query_id", "term", "qtf"],
    )
    got = (
        text_ops.bm25_topk_from_store(spark, root, q, k=5)
        .orderBy("query_id", "rank").collect()
    )
    want = (
        text_ops.bm25_topk(docs, q, k=5)
        .orderBy("query_id", "rank").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert {r["query_id"] for r in got} == {0, 1}


# ------------------------------------------------ IVF-PQ index store ----


def test_ivfpq_store_probe_equals_memory(
    spark, clustered_vectors, tmp_path
):
    """(a) The store probe equals, triple for triple, an in-memory
    probe of the same fitted index (parquet round-trip + ``__cell IN``
    pushdown change nothing); (b) recall vs brute force holds on
    clustered geometry. The append-never-reads-store file snapshot is
    the shared parameterized lifecycle test in tests/test_stores.py."""
    emb = clustered_vectors
    root = str(tmp_path / "ivfpq")
    sim_ops.ivfpq_store_init(
        root, emb, "vec_id", "embedding",
        n_centroids=8, dim=32, m=8, n_codes=16,
    )
    sim_ops.ivfpq_store_append(
        spark, root, emb.filter(F.col("vec_id") % 2 == 0),
        "vec_id", "embedding",
    )
    sim_ops.ivfpq_store_append(
        spark, root, emb.filter(F.col("vec_id") % 2 == 1),
        "vec_id", "embedding",
    )

    queries = emb.filter(F.col("vec_id") % 30 == 0)
    store = sim_ops.ivfpq_store_topk(
        spark, root, emb, queries, "vec_id", "embedding",
        k=5, n_probe=4, rerank=60,
    )
    cents, books = sim_ops.ivfpq_load_meta(spark, root)
    mem_index = sim_ops.pq_encode(
        sim_ops.assign_cells_literal(emb, "vec_id", "embedding", cents),
        "neighbor_id", "__cvec", books, keep=("__cell",),
    ).select("neighbor_id", "__cell", "__codes")
    rerank_vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
    )
    mem = sim_ops.ivfpq_probe_index(
        mem_index, books, cents, queries, "vec_id", "embedding",
        rerank_vecs, k=5, n_probe=4, rerank=60,
    )
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in store.collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in mem.collect()
    )
    assert got == want

    bf = sim_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    st_pairs = set((q, n) for q, n, _ in got)
    recall = len(bf_pairs & st_pairs) / len(bf_pairs)
    assert recall >= 0.8, f"store-probe recall {recall} below floor"


def test_ivfpq_store_probe_prunes_to_routed_cells(
    spark, clustered_vectors, tmp_path
):
    """The probe plan pushes the routed cell ids down as a parquet
    ``In(__cell, …)`` filter — the index-probe contract: row groups of
    unrouted cells are never read (the _bm25_pruned_postings pin)."""
    emb = clustered_vectors
    root = str(tmp_path / "ivfpq")
    sim_ops.ivfpq_store_init(
        root, emb, "vec_id", "embedding",
        n_centroids=8, dim=32, m=8, n_codes=16,
    )
    sim_ops.ivfpq_store_append(spark, root, emb, "vec_id", "embedding")
    pruned = sim_ops._ivfpq_pruned_codes(spark, root, [0, 3], T.LongType())
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(__cell" in plan, plan
    # and the probe itself produces rows through that path
    queries = emb.filter(F.col("vec_id") < 2)
    out = sim_ops.ivfpq_store_topk(
        spark, root, emb, queries, "vec_id", "embedding",
        k=3, n_probe=2, rerank=30,
    )
    assert out.count() == 6


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM: the sample count of
    Spark's ``CodegenMetrics`` compile-time histogram (one sample per
    generated class compiled, i.e. per codegen cache miss)."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def test_ivfpq_store_probe_reuses_compiled_code_across_cell_sets(
    spark, clustered_vectors, tmp_path
):
    """A second probe of one store, routed to a different cell set,
    compiles no new class: the routed ``__cell IN (…)`` list is planned
    as ``InSet`` and compiled to a lookup in a referenced hash set
    (``spark.sql.optimizer.inSetConversionThreshold`` /
    ``inSetSwitchThreshold`` = 0 in ``session.RUNTIME_CONF``), so the
    probe's generated code does not depend on its values. Both confs
    are internal to Spark 4.1; an upgrade that drops either makes the
    values part of the code again and fails here. Assumes the lists
    have 2+ values: a one-value list is planned as ``=`` and still
    compiles once per value. The second probe still pushes
    ``In(__cell, …)`` to the parquet scan."""
    emb = clustered_vectors
    root = str(tmp_path / "ivfpq")
    sim_ops.ivfpq_store_init(
        root, emb, "vec_id", "embedding",
        n_centroids=8, dim=32, m=8, n_codes=16,
    )
    sim_ops.ivfpq_store_append(spark, root, emb, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 2)

    def probe(n_probe):
        return sim_ops.ivfpq_store_topk(
            spark, root, emb, queries, "vec_id", "embedding",
            k=3, n_probe=n_probe, rerank=30,
        )

    assert len(probe(2).collect()) == 6
    second = probe(3)
    before = _compiles(spark)
    assert len(second.collect()) == 6
    assert _compiles(spark) == before
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(__cell" in plan, plan


def test_pruned_read_reuses_compiled_code_across_value_sets(
    spark, tmp_path
):
    """``stores.pruned_read`` of one int-keyed tier with two different
    value sets: the second read compiles nothing, because the
    membership list compiles to a referenced hash set, not to code
    holding the values (same confs and Spark 4.1 assumption as the
    IVF-PQ pin above; the lists have 2+ values, since a one-value list
    is planned as ``=`` and compiles once per value)."""
    from lab3_lakehouse_spark import stores

    root = str(tmp_path / "store")
    stores.append_rows(
        spark.range(200).select(
            (F.col("id") % 20).cast("int").alias("k"), "id"
        ),
        root, "data", cluster_expr=F.col("k"), buckets=2, sort_cols=("k",),
    )
    first = stores.pruned_read(spark, root, "data", "k", [1, 2])
    assert sorted(r.k for r in first.collect()) == [1] * 10 + [2] * 10
    second = stores.pruned_read(spark, root, "data", "k", [3, 5, 7])
    before = _compiles(spark)
    assert sorted({r.k for r in second.collect()}) == [3, 5, 7]
    assert _compiles(spark) == before


def test_tune_session_plans_literal_in_lists_as_referenced_sets(spark):
    """``tune_session`` applies both InSet confs to a session that has
    neither: a fresh ``newSession()`` with the two keys unset reads
    Spark's defaults (10 and 400) and plans a 2-value literal IN as
    ``In``; after ``tune_session`` it reads 0 and 0 and plans the same
    list as ``InSet``. Spark 4.1 assumption: an upgrade that drops
    ``inSetConversionThreshold`` leaves the plan at ``In`` and fails
    here."""
    from lab3_lakehouse_spark.session import tune_session

    keys = (
        "spark.sql.optimizer.inSetConversionThreshold",
        "spark.sql.optimizer.inSetSwitchThreshold",
    )
    vanilla = spark.newSession()
    for k in keys:
        vanilla.conf.unset(k)

    def optimized(s):
        df = s.range(5).filter(F.col("id").isin(1, 3))
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert [vanilla.conf.get(k) for k in keys] == ["10", "400"]
    assert "INSET" not in optimized(vanilla)
    tune_session(vanilla)
    assert [vanilla.conf.get(k) for k in keys] == ["0", "0"]
    assert "INSET" in optimized(vanilla)


# ---------------------------------------------- media signature store ----


def test_phash_store_probe_equals_direct(spark, tmp_path):
    """The store probe's pair set equals the decode-per-call path's
    exactly (decode-once contract). The append-never-reads-store file
    snapshot is the shared parameterized lifecycle test in
    tests/test_stores.py."""
    docs = spark.createDataFrame(
        [(i, f"site{i % 5}") for i in range(30)], ["doc_id", "source"]
    )
    with_bin = mm_ops.text_as_binary(docs, "source", "content")
    root = str(tmp_path / "phash")
    mm_ops.phash_store_append(
        root, with_bin.filter(F.col("doc_id") % 2 == 0)
    )
    mm_ops.phash_store_append(
        root, with_bin.filter(F.col("doc_id") % 2 == 1)
    )

    got = sorted(
        (r.id_a, r.id_b)
        for r in mm_ops.phash_pairs_from_store(
            spark, root, max_hamming=6
        ).collect()
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in mm_ops.media_phash_pairs(
            with_bin, id_col="doc_id", binary_col="content", max_hamming=6
        ).collect()
    )
    assert got == want and len(got) > 0


# ------------------------------------------- cross-encoder rerank UDF ----


def test_crossencoder_udf_sees_only_bounded_pair_frame(spark):
    """The pandas-UDF rerank slot (the seam a neural cross-encoder
    drops into, rerank_fused_candidates docstring): the scorer must see
    EXACTLY the bounded candidate pairs — never the corpus — and its
    ranking must equal the JVM coverage-expression twin on the same
    frame."""
    from lab3_lakehouse_spark.operators import text as text_ops

    rng = np.random.RandomState(23)
    corpus = spark.createDataFrame(
        [(i, _doc(rng, n=12)) for i in range(120)], ["doc_id", "text"]
    )
    # first-stage candidates: 4 queries x 10 docs (any first-stage
    # ranker produces this shape; boundedness is the property under
    # test, not candidate quality)
    cands = spark.createDataFrame(
        [
            (q, q * 13 + 3 * r + 1, r + 1)
            for q in range(4)
            for r in range(10)
        ],
        ["query_id", "doc_id", "rrf_rank"],
    )
    qtexts = corpus.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("__qtext")
    )
    dtexts = corpus.select("doc_id", F.col("text").alias("__dtext"))
    paired = cands.join(F.broadcast(qtexts), "query_id").join(
        F.broadcast(dtexts), "doc_id"
    )

    counter = spark.sparkContext.accumulator(0)
    out = text_ops.crossencoder_rerank(
        paired, scorer=text_ops.coverage_crossencoder_udf(counter)
    )
    got = {
        (r.query_id, r.doc_id): (r.rerank, r.ce_score) for r in out.collect()
    }
    assert counter.value == 40, (
        f"scorer saw {counter.value} rows — must see exactly the 40 "
        "candidate pairs, never the 120-doc corpus"
    )

    # expression twin on the same frame: set-coverage via array_distinct
    qset = F.array_distinct(F.split(F.lower(F.col("__qtext")), r"\s+"))
    dset = F.array_distinct(F.split(F.lower(F.col("__dtext")), r"\s+"))
    cov = F.size(F.array_intersect(qset, dset)).cast("double") / F.size(
        qset
    ).cast("double")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("ce_score").desc(), F.col("rrf_rank").asc(), F.col("doc_id").asc()
    )
    want = {
        (r.query_id, r.doc_id): (r.rerank, r.ce_score)
        for r in paired.withColumn("ce_score", cov)
        .withColumn("rerank", F.row_number().over(w).cast("long"))
        .collect()
    }
    assert got == want


def test_bm25_compact_store_probe_identical_and_defragmented(spark, tmp_path):
    """Compaction contract: probe scores from the compacted tier are
    identical to the fragmented store's, the meta sidecar folds to one
    row, and the postings tier has fewer files (the point of the GC)."""
    import glob

    from lab3_lakehouse_spark.operators import text as text_ops

    rng = np.random.RandomState(41)
    docs = spark.createDataFrame(
        [(i, _doc(rng, n=25)) for i in range(40)], ["doc_id", "text"]
    )
    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    for residue in range(4):
        text_ops.bm25_append_batch(src, docs.filter(F.col("doc_id") % 4 == residue))
    text_ops.bm25_compact_store(spark, src, dst, buckets=4)

    n_src = len(glob.glob(f"{src}/postings/**/*.parquet", recursive=True))
    n_dst = len(glob.glob(f"{dst}/postings/**/*.parquet", recursive=True))
    assert n_dst < n_src, (n_src, n_dst)
    assert spark.read.parquet(f"{dst}/meta").count() == 1

    toks = F.split(F.lower(F.col("text")), r"\s+")
    q = (
        docs.filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"),
                F.explode(F.slice(toks, 1, 4)).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    got = (
        text_ops.bm25_topk_from_store(spark, dst, q, k=5)
        .orderBy("query_id", "rank").collect()
    )
    want = (
        text_ops.bm25_topk_from_store(spark, src, q, k=5)
        .orderBy("query_id", "rank").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_phash_store_probe_plan_is_decode_free(spark, tmp_path):
    """The signature-tier economics, pinned in the PLAN: the store
    probe must contain NO Python evaluation node (the Arrow decode ran
    once at append time), while the decode-per-call twin's plan does —
    the positive control that the pin actually detects decode."""
    docs = spark.createDataFrame(
        [(i, f"site{i % 3}") for i in range(12)], ["doc_id", "source"]
    )
    with_bin = mm_ops.text_as_binary(docs, "source", "content")
    root = str(tmp_path / "phash")
    mm_ops.phash_store_append(root, with_bin)

    python_nodes = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                    "mapInPandas", "PythonUDF")

    probe = mm_ops.phash_pairs_from_store(spark, root, max_hamming=6)
    probe_plan = probe._jdf.queryExecution().executedPlan().toString()
    assert not any(n in probe_plan for n in python_nodes), probe_plan

    # positive control on the UNcheckpointed hash frame
    # (media_phash_pairs localCheckpoints sims, which hides the decode
    # node from executedPlan — the r9 plan-pin lesson)
    direct = mm_ops.perceptual_hash_images(with_bin)
    direct_plan = direct._jdf.queryExecution().executedPlan().toString()
    assert any(n in direct_plan for n in python_nodes), (
        "positive control failed: the decode plan shows no Python "
        "node — the pin would be vacuous"
    )


# -------------------------------------- store-backed rerank compose ----


def test_rerank_store_candidates_contract(spark, sf_small):
    """The composed retrieval pipeline (IVF-PQ store probe → bounded
    pair frame → pandas-UDF rerank): the accumulator-pinned boundedness
    and UDF-equals-JVM-twin booleans must hold, and the pair count is
    exactly queries × depth — the scorer never saw anything else."""
    from lab3_lakehouse_spark.queries import QUERIES

    row = QUERIES["rerank_store_candidates"](spark, sf_small).collect()[0]
    assert row.n_queries == 8
    assert row.n_pairs == 80 and row.udf_rows == 80
    assert row.udf_saw_only_candidates and row.rerank_matches_twin


# ------------------------------------- corpus mixture diagnostics ----


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, ["doc_id", "source", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )


def test_jsd_zero_when_sources_share_the_distribution(spark, tmp_path):
    """Identical per-source token distributions == the pooled blend →
    JSD exactly 0 for every source."""
    from lab3_lakehouse_spark.queries import QUERIES

    rows = [
        (i * 2 + s, f"src{s}", "a a b c")
        for i in range(10)
        for s in range(2)
    ]
    _write_docs(spark, tmp_path, rows)
    out = QUERIES["source_token_jsd"](spark, str(tmp_path)).collect()
    assert len(out) == 2
    for r in out:
        assert r.jsd_bits == 0.0, r


def test_jsd_matches_numpy_reference_on_skewed_sources(spark, tmp_path):
    """Cross-check the closed-form absent-token fold against a dense
    numpy JSD over the full vocabulary (disjoint + overlapping mix)."""
    import numpy as np

    from lab3_lakehouse_spark.queries import QUERIES

    rows = (
        [(i, "srcA", "x x y z") for i in range(10)]
        + [(100 + i, "srcB", "y z z w") for i in range(10)]
    )
    _write_docs(spark, tmp_path, rows)
    out = {
        r.source: r.jsd_bits
        for r in QUERIES["source_token_jsd"](spark, str(tmp_path)).collect()
    }
    # dense reference over vocab {x, y, z, w}
    counts = {"srcA": {"x": 20, "y": 10, "z": 10, "w": 0},
              "srcB": {"x": 0, "y": 10, "z": 20, "w": 10}}
    vocab = ["x", "y", "z", "w"]
    pooled = np.array([sum(counts[s][t] for s in counts) for t in vocab],
                      dtype=float)
    q = pooled / pooled.sum()
    for s, want_src in counts.items():
        p = np.array([want_src[t] for t in vocab], dtype=float)
        p = p / p.sum()
        m = (p + q) / 2
        terms = np.where(p > 0, 0.5 * p * np.log(p / m), 0.0) + np.where(
            q > 0, 0.5 * q * np.log(q / m), 0.0
        )
        want = terms.sum() / np.log(2)
        assert out[s] == pytest.approx(want, abs=2e-4), (s, out[s], want)


def test_good_turing_counts_hand_built(spark, tmp_path):
    """Hand-built source: 2 hapax, 1 doubleton, 1 frequent type —
    N1/N exact."""
    from lab3_lakehouse_spark.queries import QUERIES

    rows = [(1, "srcA", "rare1 rare2 twice twice common common common")]
    _write_docs(spark, tmp_path, rows)
    r = QUERIES["good_turing_oov_estimate"](spark, str(tmp_path)).collect()[0]
    assert r.n_tokens == 7 and r.vocab_size == 4
    assert r.n_singletons == 2 and r.n_doubletons == 1
    assert r.gt_unseen_mass == pytest.approx(2 / 7, abs=1e-4)


def test_embedding_centroid_drift_planted_geometry(spark, tmp_path):
    """Planted drift geometry: identical halves → cosine 1 ratio 1;
    a doubled candidate → cosine 1 ratio 2; an orthogonal candidate →
    cosine 0 — the three regimes the monitor separates (direction vs
    scale drift)."""
    import numpy as np

    from lab3_lakehouse_spark.queries import QUERIES

    def vec(axis, scale=1.0, dim=64):
        v = [0.0] * dim
        v[axis] = float(scale)
        return v

    rows = []
    vid = 0
    for _ in range(4):  # label 0: ref == cand (axis 0)
        rows.append((vid, vec(0), 0)); vid += 1
    for _ in range(4):  # label 1: cand = 2x ref (axis 1)
        scale = 1.0 if vid % 2 == 0 else 2.0
        rows.append((vid, vec(1, scale), 1)); vid += 1
    for _ in range(4):  # label 2: cand orthogonal to ref
        axis = 2 if vid % 2 == 0 else 3
        rows.append((vid, vec(axis), 2)); vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {
        r.label: r
        for r in QUERIES["embedding_centroid_drift"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0].centroid_cosine == 1.0
    assert out[0].centroid_norm_ratio == 1.0
    assert out[1].centroid_cosine == 1.0
    assert out[1].centroid_norm_ratio == 2.0
    assert out[2].centroid_cosine == 0.0
    assert out[2].n_ref == 2 and out[2].n_cand == 2


def test_ivfpq_refit_swap_serves_new_index(
    spark, clustered_vectors, tmp_path
):
    """The drift→reindex loop's swap step (ann_store_reindex_swap):
    a live store fitted on HALF the corpus is refit on the full corpus
    into a NEW root, swap_root promotes it, and a probe of the OLD
    (live) path must equal the in-memory twin of the REFIT index —
    proving the swap switched real bits — while the stale fit's
    centroids differ from the refit's (the swap wasn't a no-op)."""
    from lab3_lakehouse_spark import stores

    emb = clustered_vectors
    live = str(tmp_path / "ivfpq")
    refit = str(tmp_path / "ivfpq.refit")
    # stale fit: trained on the even half only
    sim_ops.ivfpq_store_init(
        live, emb.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        n_centroids=8, dim=32, m=8, n_codes=16,
    )
    sim_ops.ivfpq_store_append(spark, live, emb, "vec_id", "embedding")
    old_cents, _ = sim_ops.ivfpq_load_meta(spark, live)

    # refit on the full corpus into the NEW root; live never written
    sim_ops.ivfpq_store_init(
        refit, emb, "vec_id", "embedding",
        n_centroids=8, dim=32, m=8, n_codes=16,
    )
    sim_ops.ivfpq_store_append(spark, refit, emb, "vec_id", "embedding")
    new_cents, new_books = sim_ops.ivfpq_load_meta(spark, refit)
    assert old_cents != new_cents  # the refit moved real bits

    retired = stores.swap_root(spark, live, refit)
    queries = emb.filter(F.col("vec_id") % 30 == 0)
    store = sim_ops.ivfpq_store_topk(
        spark, live, emb, queries, "vec_id", "embedding",
        k=5, n_probe=4, rerank=60,
    )
    mem_index = sim_ops.pq_encode(
        sim_ops.assign_cells_literal(emb, "vec_id", "embedding", new_cents),
        "neighbor_id", "__cvec", new_books, keep=("__cell",),
    ).select("neighbor_id", "__cell", "__codes")
    mem = sim_ops.ivfpq_probe_index(
        mem_index, new_books, new_cents, queries, "vec_id", "embedding",
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cvec"),
        ),
        k=5, n_probe=4, rerank=60,
    )
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in store.collect())
    want = sorted((r.query_id, r.neighbor_id, r.rank) for r in mem.collect())
    assert got == want  # the live path serves the refit index
    # the retired root still holds the stale index (swap is reversible)
    import os

    assert os.path.isdir(retired)


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_banded_pair_tier_equals_unbanded(spark, seed):
    """The r13 length-band blocking's LOSSLESS claim, executed: on a
    randomized corpus (skewed lengths, planted near-dups, exact
    copies, empty docs), banded_word_jaccard_pairs must equal the
    naive lang-blocked all-pairs tier pair for pair, jaccard for
    jaccard — the banding may only change the PLAN, never the rows."""
    import random

    from pyspark.sql import Row

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.choice([0, 1, 3, 7, 20, 50, 120, 300])
        words = [rng.choice(vocab) for _ in range(n)]
        rows.append(
            Row(doc_id=i, lang=rng.choice(["en", "de"]), text=" ".join(words))
        )
        if rng.random() < 0.3 and words:  # planted near-copy
            mutated = list(words)
            if len(mutated) > 4:
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            rows.append(
                Row(
                    doc_id=1000 + i,
                    lang=rows[-1].lang,
                    text=" ".join(mutated),
                )
            )
    docs = spark.createDataFrame(rows)
    banded = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup_ops.banded_word_jaccard_pairs(docs).collect()
    }
    # naive twin: lang-only blocking, no bands, no size guard
    t = docs.select(
        "doc_id", "lang",
        F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("w"),
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.w"), F.col("b.w"))).cast(
        "double"
    )
    union = (
        F.size(F.col("a.w")) + F.size(F.col("b.w"))
    ).cast("double") - inter
    naive = {
        (r.id_a, r.id_b, r.jaccard)
        for r in a.join(
            b,
            on=[
                F.col("a.lang") == F.col("b.lang"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert banded == naive
    assert naive  # the corpus must actually contain qualifying pairs


# ------------------------------------------ r14: BPE train + apply ----


def test_bpe_train_apply_hand_trajectory(spark, tmp_path):
    """Hand-computable corpus: the full merge trajectory, the two-pass
    delimiter-bounded replace on a repeated-pair word, and the
    early-stop when no pairs remain."""
    from pyspark.sql import Row

    from lab3_lakehouse_spark.queries.llmdata import bpe_train_apply

    rows = [
        Row(doc_id=0, text="abab abab ab"),
        Row(doc_id=1, text="abab cd"),
    ]
    spark.createDataFrame(rows).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = [
        (r.step, r.sym_a, r.sym_b, r.merged, r.pair_weight,
         r.corpus_tokens_after)
        for r in bpe_train_apply(spark, str(tmp_path))
        .orderBy("step")
        .collect()
    ]
    # step 1: (a,b) weight 7 (3 copies of abab contribute 2 each + ab);
    #   'abab' = |a|b|a|b| -> two-pass replace -> |ab|ab| (the second
    #   pass catches the pair the consumed delimiter skipped)
    # step 2: (ab,ab) weight 3; corpus = ab*3(1 sym) + ab(1) + cd(2) = 6
    # step 3: (c,d) weight 1 -> everything is a single symbol: 5 tokens
    # steps 4-6: no adjacent pairs left -> loop stops early at 3 rows
    assert out == [
        (1, "a", "b", "ab", 7, 9),
        (2, "ab", "ab", "abab", 3, 6),
        (3, "c", "d", "cd", 1, 5),
    ]


def test_bpe_merge_weights_monotone_on_corpus(spark, sf_small):
    """On the real corpus: weights non-increasing across steps (BPE
    invariant: a merge can only create pair counts that were already
    bounded by its own frequency... not strictly, but the ARGMAX
    sequence must be non-increasing), token counts strictly falling,
    and each step removes exactly pair_weight tokens."""
    from lab3_lakehouse_spark.queries.llmdata import bpe_train_apply

    rows = bpe_train_apply(spark, sf_small).orderBy("step").collect()
    assert len(rows) == 6
    weights = [r.pair_weight for r in rows]
    assert weights == sorted(weights, reverse=True)
    toks = [r.corpus_tokens_after for r in rows]
    assert all(t2 < t1 for t1, t2 in zip(toks, toks[1:]))
    # each merge of weight w collapses exactly w adjacent pairs -> w
    # fewer symbols than the previous step's corpus
    for prev, cur in zip(rows, rows[1:]):
        assert prev.corpus_tokens_after - cur.corpus_tokens_after == (
            cur.pair_weight
        )


# ------------------------------------- r14: margin bitext mining ----


def test_xlingual_margin_suppresses_hub(spark, tmp_path):
    """Planted geometry: a 'hub' fr vector moderately close to EVERY en
    vector vs an exclusive near-translation pair. Cosine alone ranks
    the hub first for most queries; the ratio margin must rank the
    exclusive pair's margin strictly above every hub-matched margin."""
    import math as _m

    from pyspark.sql import Row

    from lab3_lakehouse_spark.queries.llmdata import xlingual_mined_pairs

    def unit(v):
        n = _m.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    en = {
        0: unit([1.0, 0.0, 0.0, 0.8]),
        1: unit([0.0, 1.0, 0.0, 0.8]),
        2: unit([0.0, 0.0, 1.0, 0.8]),
        3: unit([0.3, 0.3, 0.3, 0.8]),
    }
    # fr side: 10 = exclusive translation of en 0; 15 = hub pointed at
    # the shared 4th axis every en vector leans on (wins raw cosine
    # for en 2 and en 3); 11..14 = noise
    fr = {
        10: unit([1.0, 0.0, 0.0, 0.8]),
        11: unit([0.1, 0.3, -0.2, 0.05]),
        12: unit([-0.3, 0.1, 0.25, 0.0]),
        13: unit([0.2, -0.4, 0.1, 0.1]),
        14: unit([-0.1, -0.1, -0.3, 0.2]),
        15: unit([0.0, 0.0, 0.0, 1.0]),
    }
    docs = [Row(doc_id=i, lang="en", text="x") for i in en] + [
        Row(doc_id=i, lang="fr", text="y") for i in fr
    ]
    emb = [
        Row(vec_id=i, embedding=[float(x) for x in v], label=0)
        for i, v in {**en, **fr}.items()
    ]
    spark.createDataFrame(docs).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(emb).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {
        r.src_id: r for r in xlingual_mined_pairs(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(en)
    # en 0's best candidate is its exclusive translation, not the hub
    assert out[0].tgt_id == 10
    # hub-matched queries exist (the hub wins raw cosine somewhere)...
    hub_matched = [r for r in out.values() if r.tgt_id == 15]
    assert hub_matched
    # ...but the exclusive pair's margin dominates every hub margin
    assert all(out[0].margin > r.margin for r in hub_matched)


def test_xlingual_margin_matches_numpy(spark, sf_small):
    """Margin arithmetic replayed in numpy on the real corpus (k-NN
    means over the same bipartite cosine matrix, fixed-k division)."""
    import numpy as np

    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.queries.llmdata import (
        _XLING_K,
        xlingual_mined_pairs,
    )

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_small, "embeddings").collect()
    }
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_small, "documents").collect()
    }
    src = sorted(i for i in emb if langs.get(i) == "en")
    tgt = sorted(i for i in emb if langs.get(i) == "fr")
    A = np.stack([emb[i] / np.linalg.norm(emb[i]) for i in src])
    B = np.stack([emb[i] / np.linalg.norm(emb[i]) for i in tgt])
    C = A @ B.T
    ka = -np.sort(-C, axis=1)[:, :_XLING_K].sum(axis=1) / _XLING_K
    kb = -np.sort(-C.T, axis=1)[:, :_XLING_K].sum(axis=1) / _XLING_K
    out = xlingual_mined_pairs(spark, sf_small).collect()
    assert len(out) == len(src)
    for r in out[:25]:
        i, j = src.index(r.src_id), tgt.index(r.tgt_id)
        # best candidate: argmax cosine (ties broken by id upstream)
        assert C[i].max() == C[i, j]
        expect = C[i, j] / ((ka[i] + kb[j]) / 2.0)
        assert abs(r.margin - expect) < 5e-4


# ------------------------------------ r14: LSH banding frontier ----


def test_lsh_frontier_scurve_shape(spark, sf_small):
    """S-curve sanity on the emitted table: P rises with the band count
    at fixed s (finer banding catches more), rises with s at fixed
    banding, and the expected misses fall as bands grow; the pinned
    literals match the closed form."""
    import math as _m

    from lab3_lakehouse_spark.queries.llmdata import (
        _lsh_detect_prob,
        lsh_banding_frontier,
    )

    rows = lsh_banding_frontier(spark, sf_small).collect()
    assert len(rows) == 16
    by = {(r.bands, r.bucket): r for r in rows}
    for r in rows:
        # literal matches the closed form 1 - (1 - s^r)^b
        closed = 1.0 - (1.0 - r.s_mid**r.rows_per_band) ** r.bands
        assert abs(r.detect_prob - closed) < 1e-12
        assert r.bands * r.rows_per_band == 64
        assert r.expected_missed <= r.n_pairs
    for bucket in range(4):
        probs = [by[(b, bucket)].detect_prob for b in (8, 16, 32, 64)]
        assert probs == sorted(probs)  # more bands -> earlier curve
        missed = [by[(b, bucket)].expected_missed for b in (8, 16, 32, 64)]
        assert missed == sorted(missed, reverse=True)
    for b in (8, 16, 32, 64):
        probs = [by[(b, k)].detect_prob for k in range(4)]
        assert probs == sorted(probs)  # higher similarity -> higher P
    # the observed histogram partitions the >=0.8 exact pair tier
    from lab3_lakehouse_spark.catalog import fan_out, load_table
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    n_pairs_total = dedup_ops.banded_word_jaccard_pairs(
        fan_out(load_table(spark, sf_small, "documents"))
    ).count()
    assert sum(r.n_pairs for r in rows if r.bands == 8) == n_pairs_total


# -------------------------------------- r14: FFD packing report ----


def test_ffd_hand_trajectory_with_exact_fit(spark, tmp_path):
    """Hand-computable FFD: first-fit order, a new-bin open, and an
    exact capacity fit (100+28 = 128)."""
    from pyspark.sql import Row

    from lab3_lakehouse_spark.queries.llmdata import packing_ffd_report

    lengths = {0: 100, 1: 80, 2: 60, 3: 50, 4: 28, 5: 20}
    rows = [
        Row(doc_id=i, text=" ".join(["w"] * n)) for i, n in lengths.items()
    ]
    spark.createDataFrame(rows).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.doc_id: r for r in packing_ffd_report(spark, str(tmp_path)).collect()
    }
    # FFD on [100, 80, 60, 50, 28, 20] at W=128:
    #   100 -> bin1; 80 -> bin2; 60 -> bin3 (80+60 > 128);
    #   50 -> bin3 (110); 28 -> bin1 (exact 128); 20 -> bin2 (100)
    assert {i: out[i].bin for i in lengths} == {
        0: 1, 1: 2, 2: 3, 3: 3, 4: 1, 5: 2
    }
    assert out[0].bin_used == 128 and out[0].fill_ratio == 1.0
    assert out[1].bin_used == 100
    assert out[2].bin_used == 110


def test_ffd_invariants_on_corpus(spark, sf_small):
    """Every document lands intact in exactly one bin, no bin exceeds
    capacity, and the realized bin count respects the fractional lower
    bound (the packer is a real packer, not a partitioner)."""
    import math as _m

    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.queries.llmdata import (
        _FFD_W,
        packing_ffd_report,
    )

    out = packing_ffd_report(spark, sf_small).collect()
    n_docs = load_table(spark, sf_small, "documents").count()
    assert len(out) == n_docs  # one row per doc: documents never split
    assert len({r.doc_id for r in out}) == n_docs
    from collections import defaultdict

    loads = defaultdict(int)
    for r in out:
        assert 1 <= r.len_eff <= _FFD_W
        loads[(r.pack_window, r.bin)] += r.len_eff
    assert all(v <= _FFD_W for v in loads.values())
    for r in out:
        assert r.bin_used == loads[(r.pack_window, r.bin)]
    total_eff = sum(r.len_eff for r in out)
    assert len(loads) >= _m.ceil(total_eff / _FFD_W)  # >= OPT lower bound
    # SOUND first-fit invariant (checkable without solving OPT): two
    # final bins in the same window always sum past the capacity — if
    # load_a + load_b <= W, bin b's opening item would have fit bin a
    # when b opened (loads only grow), contradiction. Corollary: at
    # most one bin per window at or below half capacity.
    from itertools import combinations

    per_window = defaultdict(list)
    for (w, _), v in loads.items():
        per_window[w].append(v)
    for w, ls in per_window.items():
        assert sum(1 for v in ls if v <= _FFD_W // 2) <= 1, (w, sorted(ls))
        if len(ls) <= 200:  # exhaustive pairwise on small windows
            assert all(a + b > _FFD_W for a, b in combinations(ls, 2))
        else:
            two_smallest = sorted(ls)[:2]
            assert sum(two_smallest) > _FFD_W, (w, two_smallest)
