"""Shared lifecycle tests for the persisted-store families
(lab3_lakehouse_spark/stores.py — one per entry in stores.FAMILIES;
the parameterized tests iterate the registry, so they cover every
family without re-counting here): ONE parameterized
append-never-reads-store file-snapshot test covering every family,
plus randomized-append GC property tests for the families with
nontrivial merge/compaction logic — probe results must be identical
before and after compaction under ANY batch split/order history."""
from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from lab3_lakehouse_spark import stores
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import multimodal as mm_ops
from lab3_lakehouse_spark.operators import sampling as samp_ops
from lab3_lakehouse_spark.operators import similarity as sim_ops
from lab3_lakehouse_spark.operators import sketches
from lab3_lakehouse_spark.operators import text as text_ops
from lab3_lakehouse_spark.streaming import monitor as mon

_KLL_QS = [0.1, 0.5, 0.9]


def _docs(spark, n=60):
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab, size=12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _vectors(spark, n=80, dim=16):
    rng = np.random.RandomState(3)
    centers = rng.normal(size=(4, dim))
    rows = [
        (
            i,
            [float(x) for x in centers[i % 4] + 0.1 * rng.normal(size=dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _family_actions(spark, tmp_path):
    """Per family: (root, init, append(part) for part in {0,1},
    data-tier names). Each closure calls the SAME product entry points
    the registry queries use."""
    docs = _docs(spark)
    vecs = _vectors(spark)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(200)], ["sh"])
    events = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(300)], ["eid", "value"]
    )

    def ivfpq_init(root):
        sim_ops.ivfpq_store_init(
            root, vecs, "vec_id", "embedding",
            n_centroids=4, dim=16, m=4, n_codes=8,
        )

    return {
        "bm25": (
            None,
            lambda root, p: text_ops.bm25_append_batch(
                root, docs.filter(F.col("doc_id") % 2 == p)
            ),
        ),
        "ivfpq": (
            ivfpq_init,
            lambda root, p: sim_ops.ivfpq_store_append(
                spark, root, vecs.filter(F.col("vec_id") % 2 == p),
                "vec_id", "embedding",
            ),
        ),
        "bloom": (
            None,
            lambda root, p: sketches.bloom_store_append(
                root,
                keys.filter(F.pmod(F.xxhash64("sh"), F.lit(2)) == p),
                "sh",
                n_bits=4096,
                n_hashes=3,
            ),
        ),
        "phash": (
            None,
            lambda root, p: mm_ops.phash_store_append(
                root,
                mm_ops.text_as_binary(
                    docs.filter(F.col("doc_id") % 2 == p), "text", "content"
                ),
            ),
        ),
        "kll": (
            None,
            lambda root, p: mon.kll_append_batch(
                root,
                events.filter(F.col("eid") % 2 == p),
                p,
                k=64,
                shards=2,
            ),
        ),
        "minhash": (
            None,
            lambda root, p: dedup_ops.minhash_store_append(
                root,
                docs.filter(F.col("doc_id") % 2 == p).select(
                    F.col("doc_id").alias("__id"),
                    dedup_ops.shingle_hashes("text", 3).alias("__h"),
                ),
            ),
        ),
        "sample": (
            None,
            lambda root, p: (
                samp_ops.sample_store_append(
                    root,
                    docs.filter(F.col("doc_id") % 2 == p),
                    "doc_id",
                    k=16,
                ),
                samp_ops.weighted_sample_store_append(
                    root,
                    docs.filter(F.col("doc_id") % 2 == p).withColumn(
                        "n_chars", F.length("text")
                    ),
                    "doc_id",
                    "n_chars",
                    k=16,
                ),
            ),
        ),
    }


@pytest.mark.parametrize("family", sorted(stores.FAMILIES))
def test_append_never_reads_or_rewrites_store(spark, tmp_path, family):
    """The lifecycle invariant every family signs up for by being in
    stores.FAMILIES: a second append only ADDS parquet files to every
    data tier — each file the first append wrote is byte-identical
    afterwards (size+mtime), proving appends neither read nor rewrite
    the store. A family added to FAMILIES without wiring an action
    here fails loudly (KeyError) rather than silently escaping the
    contract."""
    actions = _family_actions(spark, tmp_path)
    init, append = actions[family]
    spec = stores.FAMILIES[family]
    root = str(tmp_path / family)
    if init is not None:
        init(root)
    append(root, 0)
    before = {
        t: stores.snapshot_files(root, t) for t in spec.data_tiers
    }
    append(root, 1)
    for tier in spec.data_tiers:
        after = stores.snapshot_files(root, tier)
        for path, sig in before[tier].items():
            assert after[path] == sig, (
                f"{family}: append rewrote existing file {path}"
            )
        assert len(after) > len(before[tier]), (
            f"{family}: second append added no files to {tier}/"
        )


def test_families_registry_matches_known_layouts():
    """The registry is the contract's source of truth — pin the tier
    names probes and GC paths hard-code."""
    assert stores.FAMILIES["bm25"].data_tiers == ("postings",)
    assert stores.FAMILIES["bm25"].sidecar_tiers == ("meta",)
    assert stores.FAMILIES["ivfpq"].init_tiers == ("centroids", "codebooks")
    assert stores.FAMILIES["bloom"].sidecar_tiers == ("meta",)
    assert stores.FAMILIES["phash"].data_tiers == ("signatures",)
    assert stores.FAMILIES["kll"].data_tiers == ("kll",)
    assert stores.FAMILIES["minhash"].data_tiers == ("bands", "hashes")
    assert stores.FAMILIES["minhash"].sidecar_tiers == ("params",)


def _random_batches(ids: list[int], rng: random.Random) -> list[list[int]]:
    """Split ids into 1–4 non-empty batches in shuffled order — the
    adversarial append history: GC must be invariant to it."""
    ids = ids[:]
    rng.shuffle(ids)
    n_batches = rng.randint(1, 4)
    cuts = sorted(rng.sample(range(1, len(ids)), n_batches - 1))
    return [
        ids[a:b] for a, b in zip([0, *cuts], [*cuts, len(ids)])
    ]


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_bm25_gc_probe_identical_under_random_append_history(
    spark, tmp_path, seed
):
    """GC property (hypothesis-style, seeded): append the corpus in a
    RANDOM batch split and order, compact, and the store probe must
    return row-identical top-k from the compacted root — compaction
    moves postings rows, never merges or drops them, regardless of how
    fragmented the append history was."""
    rng = random.Random(seed)
    docs = _docs(spark)
    src = str(tmp_path / f"bm25_src_{seed}")
    dst = str(tmp_path / f"bm25_dst_{seed}")
    for batch_ids in _random_batches(list(range(60)), rng):
        text_ops.bm25_append_batch(
            src, docs.filter(F.col("doc_id").isin(batch_ids))
        )
    text_ops.bm25_compact_store(spark, src, dst, buckets=4)
    q = spark.createDataFrame(
        [(0, "w1", 1), (0, "w7", 1), (1, "w2", 2)],
        ["query_id", "term", "qtf"],
    )
    pre = text_ops.bm25_topk_from_store(spark, src, q, k=5)
    post = text_ops.bm25_topk_from_store(spark, dst, q, k=5)
    got = sorted(tuple(r) for r in pre.collect())
    want = sorted(tuple(r) for r in post.collect())
    assert got == want and len(got) > 0


@pytest.mark.parametrize("seed", [5, 31])
def test_kll_gc_estimates_identical_under_random_append_history(
    spark, tmp_path, seed
):
    """GC property for the quantile tier: append events in a RANDOM
    batch split/order (distinct batch_ids, shuffled), compact to a new
    root, and every quantile estimate read from the compacted tier is
    BIT-IDENTICAL — the same deterministic shard-ordered fold the
    reader runs, so GC can run on any maintenance cadence without a
    consumer noticing."""
    rng = random.Random(seed)
    events = spark.createDataFrame(
        [(i, float((i * 37) % 211)) for i in range(400)], ["eid", "value"]
    )
    src = str(tmp_path / f"kll_src_{seed}")
    dst = str(tmp_path / f"kll_dst_{seed}")
    batches = _random_batches(list(range(400)), rng)
    batch_ids = list(range(len(batches)))
    rng.shuffle(batch_ids)
    for bid, ids in zip(batch_ids, batches):
        mon.kll_append_batch(
            src, events.filter(F.col("eid").isin(ids)), bid,
            k=64, shards=3,
        )
    mon.kll_compact_store(spark, src, dst, k=64, shards=3)
    pre = {
        (r["q"],): r["est"]
        for r in mon.kll_store_quantiles(
            spark, src, _KLL_QS, k=64, shards=3
        ).collect()
    }
    post = {
        (r["q"],): r["est"]
        for r in mon.kll_store_quantiles(
            spark, dst, _KLL_QS, k=64, shards=3
        ).collect()
    }
    assert pre == post and len(pre) == len(_KLL_QS)
    # and the compacted tier is no larger than the fragmented one
    n_pre = stores.read_tier(spark, src, "kll").count()
    n_post = stores.read_tier(spark, dst, "kll").count()
    assert n_post <= n_pre


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_swap_root_promotes_gc_root_with_identical_probes(
    spark, tmp_path, scheme
):
    """r11 verdict task #4: the GC contract's swap-in step is now an
    executable primitive, not prose. Compact a BM25 store to a new
    root, swap it over the live path, and the probe against the LIVE
    path (the one consumers keep configured) returns exactly the
    pre-swap results; the retired root keeps the fragmented tiers
    intact so the swap is reversible. A file:// root swaps like a
    plain path (snapshot_files is a local glob, so it gets the plain
    path)."""
    import os

    from lab3_lakehouse_spark.operators import text as text_ops

    docs = _docs(spark)
    live_dir, gc_dir = str(tmp_path / "bm25_live"), str(tmp_path / "bm25_gc")
    live, gc = scheme + live_dir, scheme + gc_dir
    for part in (0, 1):
        text_ops.bm25_append_batch(
            live, docs.filter(F.col("doc_id") % 2 == part)
        )
    q = spark.createDataFrame(
        [(0, "w1", 1), (0, "w7", 1), (1, "w2", 2)],
        ["query_id", "term", "qtf"],
    )
    pre = sorted(
        tuple(r)
        for r in text_ops.bm25_topk_from_store(spark, live, q, k=5).collect()
    )
    n_live_files = len(stores.snapshot_files(live_dir))
    text_ops.bm25_compact_store(spark, live, gc, buckets=4)
    retired = stores.swap_root(spark, live, gc)
    assert retired == live + ".retired"
    # probe the LIVE path — consumers never re-point anything
    post = sorted(
        tuple(r)
        for r in text_ops.bm25_topk_from_store(spark, live, q, k=5).collect()
    )
    assert post == pre and len(post) > 0
    # the fragmented store is intact under the retired path (reversible)
    assert len(stores.snapshot_files(live_dir + ".retired")) == n_live_files
    assert not os.path.exists(gc_dir)


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_swap_root_refuses_unsafe_states(spark, tmp_path, scheme):
    """swap_root's guard rails: a stacked retired root (a previous
    swap never cleaned up) and a missing new root both refuse before
    ANY rename happens — the live store is untouched."""
    import os

    live = tmp_path / "store"
    live.mkdir()
    (live / "marker").write_text("live")
    # missing new root: refuse, live untouched
    with pytest.raises(FileNotFoundError):
        stores.swap_root(spark, f"{scheme}{live}", f"{scheme}{tmp_path}/nope")
    assert (live / "marker").read_text() == "live"
    # stacked retired root: refuse, live untouched
    new = tmp_path / "new"
    new.mkdir()
    os.mkdir(str(live) + ".retired")
    with pytest.raises(FileExistsError):
        stores.swap_root(spark, f"{scheme}{live}", f"{scheme}{new}")
    assert (live / "marker").read_text() == "live"
    assert new.is_dir()


def test_swap_root_rolls_back_when_second_rename_fails(
    spark, tmp_path, monkeypatch
):
    """The new root vanishes after swap_root's checks, so rename (2)
    fails after rename (1) retired the live root: swap_root must rename
    the retired root back and re-raise — never a half-swap."""
    import os
    import shutil

    from py4j.protocol import Py4JJavaError

    from lab3_lakehouse_spark import fs

    live, new = tmp_path / "store", tmp_path / "new"
    live.mkdir()
    (live / "marker").write_text("live")
    new.mkdir()
    is_dir = fs.is_dir

    def vanishes_after_check(spark, path):
        ok = is_dir(spark, path)
        shutil.rmtree(path)
        return ok

    monkeypatch.setattr(fs, "is_dir", vanishes_after_check)
    with pytest.raises((OSError, Py4JJavaError)):
        stores.swap_root(spark, str(live), str(new))
    assert (live / "marker").read_text() == "live"
    assert not os.path.exists(str(live) + ".retired")


def test_fs_rename_never_overwrites_and_raises_on_failure(
    spark, tmp_path, monkeypatch
):
    """fs.rename refuses an existing destination and leaves it
    unchanged: Hadoop's local FileSystem would instead move the source
    directory INTO it and return True. A rename the FileSystem reports
    as failed (HDFS returns False) raises instead of passing silently."""
    import os

    from lab3_lakehouse_spark import fs

    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    (src / "a").write_text("src")
    dst.mkdir()
    (dst / "z").write_text("dst")
    for scheme in ("", "file://"):
        with pytest.raises(FileExistsError):
            fs.rename(spark, f"{scheme}{src}", f"{scheme}{dst}")
        assert sorted(os.listdir(dst)) == ["z"]
        assert (dst / "z").read_text() == "dst"
        assert (src / "a").read_text() == "src"

    class RenameReturnsFalse:
        def exists(self, path):
            return False

        def rename(self, src, dst):
            return False

    monkeypatch.setattr(fs, "handle", lambda spark, p: (RenameReturnsFalse(), p))
    with pytest.raises(OSError, match="failed"):
        fs.rename(spark, str(src), str(tmp_path / "elsewhere"))


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_ivfpq_store_lifecycle_on_uri_root(spark, tmp_path, scheme):
    """A store's whole lifecycle on one root: init, batch append, one
    streaming batch against the existing tier, probe, refit to a new
    root, swap_root, and a probe of the live path. Every probe must
    equal the in-memory index over the same vectors and metadata, so a
    file:// root answers exactly as a plain path does."""
    import json
    import os

    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    vecs = _vectors(spark)
    rows = [(r.vec_id, list(r.embedding)) for r in vecs.collect()]
    live = f"{scheme}{tmp_path}/ivfpq"
    refit = f"{scheme}{tmp_path}/ivfpq_refit"
    queries = vecs.filter(F.col("vec_id") % 20 == 0)
    fit = dict(n_centroids=4, dim=16, m=4, n_codes=8)
    probe_args = dict(k=5, n_probe=2, rerank=40)

    def probe(root):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in sim_ops.ivfpq_store_topk(
                spark, root, vecs, queries, "vec_id", "embedding",
                **probe_args,
            ).collect()
        )

    def in_memory(root):
        cents, books = sim_ops.ivfpq_load_meta(spark, root)
        index = sim_ops.pq_encode(
            sim_ops.assign_cells_literal(vecs, "vec_id", "embedding", cents),
            "neighbor_id", "__cvec", books, keep=("__cell",),
        ).select("neighbor_id", "__cell", "__codes")
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in sim_ops.ivfpq_probe_index(
                index, books, cents, queries, "vec_id", "embedding",
                vecs.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("__cvec"),
                ),
                **probe_args,
            ).collect()
        )

    # stale fit on the even half; the corpus arrives as a batch + a stream
    sim_ops.ivfpq_store_init(
        live, vecs.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding",
        **fit,
    )
    sim_ops.ivfpq_store_append(
        spark, live, vecs.filter(F.col("vec_id") < 60), "vec_id", "embedding"
    )
    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.json").write_text("\n".join(
        json.dumps({"vec_id": vid, "embedding": vec})
        for vid, vec in rows if vid >= 60
    ))
    stream = st_ingest.stream_ivfpq_append(spark, str(src), live)
    try:
        stream.processAllAvailable()
    finally:
        stream.stop()
    assert stores.read_tier(spark, live, "codes").count() == len(rows)
    stale = probe(live)
    assert stale == in_memory(live) and len(stale) == 5 * 4

    # refit on the full corpus into a NEW root, then swap it in
    sim_ops.ivfpq_store_init(refit, vecs, "vec_id", "embedding", **fit)
    sim_ops.ivfpq_store_append(spark, refit, vecs, "vec_id", "embedding")
    want = in_memory(refit)
    retired = stores.swap_root(spark, live, refit)
    assert retired == live + ".retired"
    assert not os.path.exists(f"{tmp_path}/ivfpq_refit")
    assert probe(live) == want


def test_kll_compacted_tier_survives_fresh_checkpoint_restart(
    spark, tmp_path
):
    """ADVICE-r11 collision pin: compacted rows are stamped with the
    reserved sentinel batch_id=-1, so a stream that restarts from a
    FRESH checkpoint (its first micro-batch is batch_id 0) can append
    into the swapped-in compacted root without colliding with the
    compacted row-set — under the old batch_id=0 stamp, the reader's
    per-composite {level: items} dict silently dropped one sketch's
    items at every shared (shard 0, level) key."""
    events = spark.createDataFrame(
        [(i, float((i * 37) % 211)) for i in range(400)], ["eid", "value"]
    )
    src = str(tmp_path / "kll_restart_src")
    dst = str(tmp_path / "kll_restart_dst")
    for bid in range(3):
        mon.kll_append_batch(
            src,
            events.filter(F.col("eid") % 3 == bid),
            bid,
            k=64,
            shards=3,
        )
    mon.kll_compact_store(spark, src, dst, k=64, shards=3)
    # fresh-checkpoint restart: the stream's first micro-batch is
    # batch_id 0 again, carrying values far above the old range
    fresh = spark.createDataFrame(
        [(10_000 + i, 999.0) for i in range(400)], ["eid", "value"]
    )
    mon.kll_append_batch(dst, fresh, 0, k=64, shards=3)
    # 1) the reader's composite key never collides: every
    # (batch_id*shards + __shard, level) pair maps to exactly one row
    tier = stores.read_tier(spark, dst, "kll")
    dupes = (
        tier.groupBy(
            (F.col("batch_id") * F.lit(3) + F.col("__shard")).alias("c"),
            "level",
        )
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0
    # 2) the merged estimate sees BOTH tiers: half the mass is 999.0,
    # so p90 of the union must be 999.0 exactly (every top-rank item
    # is 999.0; a dropped fresh-batch sketch would pull it into the
    # old [0, 211) range)
    est = {
        r["q"]: r["est"]
        for r in mon.kll_store_quantiles(
            spark, dst, [0.1, 0.9], k=64, shards=3
        ).collect()
    }
    assert est[0.9] == 999.0
    assert 0.0 <= est[0.1] < 211.0


@pytest.mark.parametrize("seed", [7, 19])
def test_minhash_gc_probe_identical_under_random_append_history(
    spark, tmp_path, seed
):
    """GC property for the LSH signature store (r11 verdict task #5):
    append the corpus in a RANDOM batch split/order, replay one batch
    (at-least-once duplicates), compact, and the full store probe —
    band-candidate generation + exact-Jaccard verify, both against the
    stored tiers — returns the identical pair set from the compacted
    root, with strictly fewer rows on disk (the replay dedups away)."""
    rng = random.Random(seed)
    docs = _docs(spark, n=80)
    hashed_all = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    ).localCheckpoint(eager=True)
    src = str(tmp_path / f"mh_src_{seed}")
    dst = str(tmp_path / f"mh_dst_{seed}")
    batches = _random_batches(list(range(80)), rng)
    for ids in batches:
        dedup_ops.minhash_store_append(
            src, hashed_all.filter(F.col("__id").isin(ids))
        )
    # at-least-once replay: re-append one batch verbatim
    dedup_ops.minhash_store_append(
        src, hashed_all.filter(F.col("__id").isin(rng.choice(batches)))
    )

    def probe(root):
        cands = dedup_ops.minhash_candidates_vs_bands(
            hashed_all.filter(F.col("__id") % 4 == 0),
            stores.read_tier(spark, root, "bands"),
        )
        verified = dedup_ops.minhash_verify_hashed(
            cands, stores.read_tier(spark, root, "hashes"), threshold=0.5
        )
        return {tuple(r) for r in verified.collect()}

    pre = probe(src)
    stats = dedup_ops.compact_signature_store(spark, src, dst)
    assert probe(dst) == pre
    assert stats["bands_after"] < stats["bands_before"]
    assert stats["hashes_after"] < stats["hashes_before"]


@pytest.mark.parametrize("seed", [13, 29])
def test_phash_gc_probe_identical_under_random_append_history(
    spark, tmp_path, seed
):
    """GC property for the media signature tier (r11 verdict task #5):
    random batch split/order plus one replayed batch, compact, and the
    banded-Hamming pair probe from the compacted root is identical —
    signatures are a pure function of the payload, so the replay's
    bit-identical duplicate rows dedup away without touching results."""
    rng = random.Random(seed)
    base = _docs(spark, n=40)
    # guarantee near-dup pairs regardless of seed: docs 40..79 are
    # byte-identical twins of 0..39 (phash hamming 0)
    docs = base.unionByName(
        base.select((F.col("doc_id") + 40).alias("doc_id"), "text")
    )
    media = mm_ops.text_as_binary(docs, "text", "content").localCheckpoint(
        eager=True
    )
    src = str(tmp_path / f"ph_src_{seed}")
    dst = str(tmp_path / f"ph_dst_{seed}")
    batches = _random_batches(list(range(80)), rng)
    for ids in batches:
        mm_ops.phash_store_append(
            src, media.filter(F.col("doc_id").isin(ids)), buckets=2
        )
    mm_ops.phash_store_append(
        src,
        media.filter(F.col("doc_id").isin(rng.choice(batches))),
        buckets=2,
    )

    def probe(root):
        pairs = mm_ops.phash_pairs_from_store(spark, root, max_hamming=16)
        return {tuple(r) for r in pairs.collect()}

    pre = probe(src)
    assert pre, "degenerate probe: no near-dup pairs to compare"
    stats = mm_ops.phash_compact_store(spark, src, dst, buckets=2)
    assert probe(dst) == pre
    assert stats["signatures_after"] < stats["signatures_before"]


@pytest.mark.parametrize("seed", [3, 41])
def test_sample_gc_draw_identical_under_random_append_history(
    spark, tmp_path, seed
):
    """GC + merge property for the bottom-k sample tier: ANY batch
    split/order (plus one at-least-once replay) must draw exactly the
    global bottom-k of all appended ids, and the compacted tier draws
    the identical sample from fewer rows — the mergeability claim
    (bottom-k of per-batch bottom-ks == global bottom-k) under an
    adversarial history."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    rng = random.Random(seed)
    ids = list(range(500))
    docs = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    src = str(tmp_path / f"sample_src_{seed}")
    dst = str(tmp_path / f"sample_dst_{seed}")
    batches = _random_batches(ids, rng)
    for b in batches:
        samp_ops.sample_store_append(
            src, docs.filter(F.col("doc_id").isin(b)), "doc_id", k=32
        )
    samp_ops.sample_store_append(  # at-least-once replay
        src, docs.filter(F.col("doc_id").isin(rng.choice(batches))),
        "doc_id", k=32,
    )
    got = [
        tuple(r)
        for r in samp_ops.sample_store_draw(spark, src, k=32).collect()
    ]
    want = [
        tuple(r)
        for r in docs.select(
            "doc_id", portable_hash60(F.col("doc_id"), 131).alias("h")
        )
        .orderBy("h", "doc_id")
        .limit(32)
        .collect()
    ]
    assert got == want and len(got) == 32
    samp_ops.sample_store_compact(spark, src, dst, k=32)
    post = [
        tuple(r)
        for r in samp_ops.sample_store_draw(spark, dst, k=32).collect()
    ]
    assert post == want
    n_src = stores.read_tier(spark, src, "mins").count()
    n_dst = stores.read_tier(spark, dst, "mins").count()
    assert n_dst == 32 <= n_src


@pytest.mark.parametrize("seed", [17, 53])
def test_weighted_sample_gc_draw_identical_under_random_history(
    spark, tmp_path, seed
):
    """GC + merge property for the WEIGHTED sample tier: any batch
    split/order plus a replay must draw exactly the global top-k by
    the deterministic Efraimidis–Spirakis priority — inclusion ∝
    weight — and the compacted tier draws the identical sample."""
    from lab3_lakehouse_spark.operators.sampling import weighted_priority

    rng = random.Random(seed)
    ids = list(range(400))
    docs = spark.createDataFrame(
        [(i, 10 + (i * 13) % 90) for i in ids], ["doc_id", "n_chars"]
    )
    src = str(tmp_path / f"wsample_src_{seed}")
    dst = str(tmp_path / f"wsample_dst_{seed}")
    batches = _random_batches(ids, rng)
    for b in batches:
        samp_ops.weighted_sample_store_append(
            src, docs.filter(F.col("doc_id").isin(b)), "doc_id",
            "n_chars", k=24,
        )
    samp_ops.weighted_sample_store_append(  # at-least-once replay
        src, docs.filter(F.col("doc_id").isin(rng.choice(batches))),
        "doc_id", "n_chars", k=24,
    )
    got = [
        tuple(r)
        for r in samp_ops.weighted_sample_store_draw(
            spark, src, k=24
        ).collect()
    ]
    want = [
        tuple(r)
        for r in docs.select(
            "doc_id",
            weighted_priority("doc_id", "n_chars", 7).alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(24)
        .collect()
    ]
    assert got == want and len(got) == 24
    samp_ops.weighted_sample_store_compact(spark, src, dst, k=24)
    post = [
        tuple(r)
        for r in samp_ops.weighted_sample_store_draw(
            spark, dst, k=24
        ).collect()
    ]
    assert post == want
    assert stores.read_tier(spark, dst, "priorities").count() == 24


def test_bloom_store_meta_collapses_replayed_tagged_batches(spark, tmp_path):
    """The ADVICE-r10 meta contract: a replayed (same batch_id) append
    re-adds an identical meta row; bloom_store_meta de-dups tagged rows
    on batch_id while keeping untagged one-shot appends verbatim."""
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], ["sh"])
    root = str(tmp_path / "bloom_meta")
    # streaming-style tagged append, delivered twice (at-least-once)
    for _ in range(2):
        sketches.bloom_store_append(
            root, keys, "sh", n_bits=4096, n_hashes=3, batch_id=7
        )
    # one-shot untagged append
    sketches.bloom_store_append(root, keys, "sh", n_bits=4096, n_hashes=3)
    raw = stores.read_tier(spark, root, "meta").collect()
    assert len(raw) == 3
    deduped = sketches.bloom_store_meta(spark, root).collect()
    assert len(deduped) == 2
    tagged = [r for r in deduped if r.batch_id == 7]
    assert len(tagged) == 1 and tagged[0].n_keys == 50


def test_bloom_store_meta_reads_pre_batchid_files(spark, tmp_path):
    """ADVICE-r11 mixed-age pin: a meta tier holding files written
    BEFORE the batch_id column existed (pre-r11 stores) plus tagged
    post-r11 appends must read cleanly — the explicit read schema
    surfaces the missing column as NULL (untagged), no rebuild."""
    root = str(tmp_path / "bloom_mixed_age")
    # simulate a pre-r11 append: meta file with only n_keys
    spark.createDataFrame([(40,)], "n_keys long").coalesce(1).write.mode(
        "append"
    ).parquet(f"{root}/meta")
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], ["sh"])
    sketches.bloom_store_append(
        root, keys, "sh", n_bits=4096, n_hashes=3, batch_id=3
    )
    rows = sketches.bloom_store_meta(spark, root).collect()
    assert len(rows) == 2
    legacy = [r for r in rows if r.batch_id is None]
    assert len(legacy) == 1 and legacy[0].n_keys == 40
    tagged = [r for r in rows if r.batch_id == 3]
    assert len(tagged) == 1 and tagged[0].n_keys == 50


@pytest.mark.parametrize("seed", [7, 31])
def test_minhash_rebalance_equals_direct_and_preserves_candidates(
    spark, tmp_path, seed
):
    """Threshold retargeting on the signature store (r13): rebuild the
    bands tier at DOUBLE the band count from the persisted hashes tier
    alone and (a) the result must equal a direct re-band of the
    corpus-derived hash frame, (b) the old candidate set must be a
    subset of the new one (num_perm fixed + bands doubled splits every
    old row block in two — monotone recall), (c) the live store's
    pre-existing files are untouched (gc_write to a NEW root), and
    (d) at-least-once replay in the append history changes nothing
    (the rebalance dedups the hashes tier)."""
    rng = random.Random(seed)
    docs = _docs(spark, n=80)
    hashed_all = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    ).localCheckpoint(eager=True)
    src = str(tmp_path / f"mh_rb_src_{seed}")
    dst = str(tmp_path / f"mh_rb_dst_{seed}")
    batches = _random_batches(list(range(80)), rng)
    for ids in batches:
        dedup_ops.minhash_store_append(
            src, hashed_all.filter(F.col("__id").isin(ids))
        )
    dedup_ops.minhash_store_append(  # at-least-once replay
        src, hashed_all.filter(F.col("__id").isin(rng.choice(batches)))
    )
    old_cands = {
        tuple(r)
        for r in dedup_ops.minhash_lsh_candidates_from_bands(
            stores.read_tier(spark, src, "bands")
        ).collect()
    }

    before = stores.snapshot_files(src)
    dedup_ops.rebalance_signature_store(spark, src, dst, bands=32)
    assert stores.snapshot_files(src) == before  # live store untouched

    key = ["__id", "band", "bh"]
    got = sorted(
        tuple(r)
        for r in stores.read_tier(spark, dst, "bands").select(*key).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup_ops.banded_signatures(hashed_all, 64, 32)
        .select(*key)
        .collect()
    )
    assert got == want  # store path == corpus-recompute path

    new_cands = {
        tuple(r)
        for r in dedup_ops.minhash_lsh_candidates_from_bands(
            stores.read_tier(spark, dst, "bands")
        ).collect()
    }
    assert old_cands <= new_cands  # monotone recall on band doubling


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_minhash_params_sidecar_guards_maintenance(spark, tmp_path, scheme):
    """The params sidecar (r14, from r13 advice): every append records
    (num_perm, bands, seed); maintenance validates them BEFORE
    rewriting anything, because a mismatched rebalance would produce a
    plausible-looking yet incompatible bands tier. (a) replayed appends
    still read back as ONE distinct params row; (b) a rebalance with
    the wrong seed / wrong num_perm / a non-multiple band count raises
    ValueError and leaves the destination root unwritten; (c) a valid
    rebalance stamps the NEW banding into the destination's params
    tier; (d) compaction refuses a mixed-parameter store. A file:// URI
    root must validate exactly like a plain path, not skip validation."""
    import os

    docs = _docs(spark, n=40)
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    ).localCheckpoint(eager=True)
    src = f"{scheme}{tmp_path}/mh_params_src"
    dedup_ops.minhash_store_append(src, hashed.filter(F.col("__id") < 20))
    dedup_ops.minhash_store_append(src, hashed.filter(F.col("__id") >= 20))
    dedup_ops.minhash_store_append(  # at-least-once replay
        src, hashed.filter(F.col("__id") >= 20)
    )
    assert dedup_ops.minhash_store_params(spark, src) == (64, 16, 42)

    for bad in (
        dict(seed=7),          # wrong permutations
        dict(num_perm=128),    # wrong signature width
        dict(bands=24),        # 24 % 16 != 0: superset guarantee gone
    ):
        dst = f"{scheme}{tmp_path}/mh_params_bad_{sorted(bad)[0]}_{list(bad.values())[0]}"
        with pytest.raises(ValueError):
            dedup_ops.rebalance_signature_store(spark, src, dst, **bad)
        # validation ran before any write
        assert not os.path.exists(dst.removeprefix(scheme))

    dst_ok = f"{scheme}{tmp_path}/mh_params_ok"
    dedup_ops.rebalance_signature_store(spark, src, dst_ok, bands=32)
    assert dedup_ops.minhash_store_params(spark, dst_ok) == (64, 32, 42)

    # (d) a store whose appends disagree on parameters is corrupt:
    # params surfaces it and compaction refuses to launder it
    dedup_ops.minhash_store_append(src, hashed, bands=32)
    with pytest.raises(ValueError):
        dedup_ops.minhash_store_params(spark, src)
    with pytest.raises(ValueError):
        dedup_ops.compact_signature_store(
            spark, src, f"{scheme}{tmp_path}/mh_params_gc"
        )


def test_banded_jaccard_threshold_guard_is_a_hard_error(spark):
    """r13 advice: the 4/5 integer band guard is only lossless at
    threshold 0.8 — any other threshold must raise in ALL interpreter
    modes (an assert would vanish under python -O and silently drop
    qualifying pairs)."""
    docs = _docs(spark, n=4)
    with pytest.raises(ValueError, match="0.8"):
        dedup_ops.banded_word_jaccard_pairs(docs, threshold=0.7)
