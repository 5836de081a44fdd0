"""Continuous-indexing pipeline: ONE crawl stream feeding every
persisted-store family, probe-ready at any stream age — the composed
showcase of the unified store lifecycle (lab3_lakehouse_spark/stores.py).

    one-time (production order: quantizers are trained before
    ingestion begins)
        IVF-PQ metadata fit            → centroids + codebooks tiers

    continuous (six Structured-Streaming writers, each micro-batch
    cost ∝ the batch — no writer ever reads its store)
        documents stream  → BM25 postings store   (lexical retrieval)
                          → pHash signature tier  (media dedup)
                          → bottom-k sample tier  (always-fresh sample)
        benchmark stream  → Bloom bit tier        (decontamination)
        events stream     → KLL compactor tier    (quantile monitoring)
        embeddings stream → IVF-PQ codes tier     (dense retrieval)

    probes (index reads, never corpus scans)
        BM25 top-k        == the one-shot scorer (bit-identical)
        pHash pair set    == the decode-per-call path
        Bloom probe       no false negatives vs the exact join
        KLL estimates     rank error within ε·n + 1 of exact
        IVF-PQ top-k      recall vs brute force over the same vectors
        sample draw       == the exact global bottom-k (bit-identical)

    maintenance (GC to NEW roots; live probes never disturbed)
        bm25_compact_store / kll_compact_store
        → probe results identical pre/post (asserted)
        stores.swap_root promotes each compacted root over the live
        path (two atomic renames) → probes re-run against the LIVE
        paths, still identical (asserted); retired roots deleted

The point at 100 TB: after the one-time fit, every byte of state the
retrieval/dedup/monitoring stack needs is maintained by batch-cost
appends, probed through pushed-down index sliver reads, and garbage-
collected without a consumer noticing. Run:
``python examples/continuous_index_pipeline.py [sf_dir] [out_root]``.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lab3_lakehouse_spark.catalog import load_table
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import multimodal as mm_ops
from lab3_lakehouse_spark.operators import similarity as sim_ops
from lab3_lakehouse_spark.operators import sketches
from lab3_lakehouse_spark.operators import text as text_ops
from lab3_lakehouse_spark.streaming import ingest as st_ingest
from lab3_lakehouse_spark.streaming import monitor as st_mon

_QS = [0.1, 0.5, 0.9]
_KLL_K, _KLL_SHARDS = 256, 4
_DECON_BITS, _DECON_K = 1 << 16, 3
_SAMPLE_K = 32


def run_continuous_index(
    spark: SparkSession, sf_dir: str, out_root: str
) -> dict:
    """Drive the six-store pipeline end-to-end; returns the probe
    metrics dict (counts + the GC-identity booleans)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )

    src_docs = f"{out_root}/src/docs"
    src_bench = f"{out_root}/src/bench"
    src_emb = f"{out_root}/src/emb"
    src_events = f"{out_root}/src/events"
    roots = {f: f"{out_root}/{f}" for f in
             ("bm25", "phash", "bloom", "kll", "ivfpq", "sample")}

    # ---- crawl sources: JSON file slices (2 slices → ≥2 micro-batches)
    docs.select("doc_id", "text", "source").repartition(2).write.mode(
        "overwrite"
    ).json(src_docs)
    docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text", "source"
    ).repartition(2).write.mode("overwrite").json(src_bench)
    emb.select("vec_id", "embedding").repartition(2).write.mode(
        "overwrite"
    ).json(src_emb)
    events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).repartition(2).write.mode("overwrite").json(src_events)

    # ---- one-time index fit (before ingestion, the production order)
    sim_ops.ivfpq_store_init(
        roots["ivfpq"], emb, "vec_id", "embedding",
        n_centroids=16, dim=64, m=8, n_codes=32,
    )

    # ---- six continuous writers over one drained crawl
    streams = [
        st_ingest.stream_bm25_append(spark, src_docs, roots["bm25"]),
        st_ingest.stream_phash_append(spark, src_docs, roots["phash"]),
        st_ingest.stream_bloom_append(
            spark, src_bench, roots["bloom"],
            n_bits=_DECON_BITS, n_hashes=_DECON_K,
        ),
        st_mon.stream_kll_quantiles(
            spark, src_events, roots["kll"], k=_KLL_K, shards=_KLL_SHARDS
        ),
        st_ingest.stream_ivfpq_append(spark, src_emb, roots["ivfpq"]),
        st_ingest.stream_sample_append(
            spark, src_docs, roots["sample"], k=_SAMPLE_K
        ),
    ]
    try:
        for q in streams:
            q.processAllAvailable()
    finally:
        for q in streams:
            q.stop()

    out: dict = {}

    # ---- BM25 probe: bit-identical to the one-shot scorer
    toks = F.split(F.lower(F.col("text")), r"\s+")
    queries = (
        docs.filter(F.col("doc_id") < 8)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(toks, 1, 4)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    store_topk = text_ops.bm25_topk_from_store(
        spark, roots["bm25"], queries, k=10
    )
    oneshot = text_ops.bm25_topk(docs, queries, k=10)
    got = sorted(tuple(r) for r in store_topk.collect())
    want = sorted(tuple(r) for r in oneshot.collect())
    assert got == want, "streamed BM25 store diverged from one-shot scorer"
    out["bm25_topk_rows"] = len(got)

    # ---- pHash probe: pair set equals the decode-per-call path
    store_pairs = {
        (r.id_a, r.id_b)
        for r in mm_ops.phash_pairs_from_store(
            spark, roots["phash"], max_hamming=6
        ).collect()
    }
    direct_pairs = {
        (r.id_a, r.id_b)
        for r in mm_ops.media_phash_pairs(
            mm_ops.text_as_binary(docs, "text", "content"),
            id_col="doc_id", binary_col="content", max_hamming=6,
        ).collect()
    }
    assert store_pairs == direct_pairs
    out["phash_pairs"] = len(store_pairs)

    # ---- Bloom probe: membership with no false negatives
    shingled = docs.select(
        "doc_id", F.explode(dedup_ops.word_shingles("text", 3)).alias("sh")
    )
    bits = sketches.bloom_store_bits(spark, roots["bloom"])
    probed = sketches.bloom_probe(
        shingled.filter(F.col("doc_id") % 10 != 0),
        F.col("sh"), bits, _DECON_BITS, _DECON_K,
    )
    bench_sh = (
        shingled.filter(F.col("doc_id") % 10 == 0).select("sh").distinct()
    )
    checked = probed.join(
        F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "sh", "left"
    ).agg(
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_pass"),
        F.count(F.when(F.col("__hit").isNotNull(), 1)).alias("n_exact"),
        F.min(
            F.when(F.col("__hit").isNotNull(), F.col("bloom_pass"))
        ).alias("no_false_negatives"),
    ).collect()[0]
    assert checked.no_false_negatives
    out["bloom_pass"] = int(checked.n_pass)
    out["bloom_exact"] = int(checked.n_exact)

    # ---- KLL probe: estimates rank-checked against the exact data
    ests = {
        r["q"]: r["est"]
        for r in st_mon.kll_store_quantiles(
            spark, roots["kll"], _QS, k=_KLL_K, shards=_KLL_SHARDS
        ).collect()
    }
    n = events.count()
    for qv, est in ests.items():
        rank = events.filter(F.col("value") <= est).count()
        assert abs(rank - qv * n) <= 0.015 * n + 1, (qv, est)
    out["kll_estimates"] = len(ests)

    # ---- IVF-PQ probe: recall vs brute force
    q8 = emb.filter(F.col("vec_id") < 8)
    ann = sim_ops.ivfpq_store_topk(
        spark, roots["ivfpq"], emb, q8, "vec_id", "embedding",
        k=5, n_probe=8, rerank=400,
    )
    bf = sim_ops.brute_force_topk(emb, q8, "vec_id", "embedding", k=5)
    ann_pairs = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    recall = len(ann_pairs & bf_pairs) / len(bf_pairs)
    assert recall >= 0.7, f"streamed IVF-PQ recall {recall}"
    out["ann_recall"] = round(recall, 4)

    # ---- sample probe: the streamed tier draws the EXACT global
    # bottom-k of every doc that flowed through the crawl
    from lab3_lakehouse_spark.operators import sampling
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    got_sample = [
        tuple(r)
        for r in sampling.sample_store_draw(
            spark, roots["sample"], k=_SAMPLE_K
        ).collect()
    ]
    want_sample = [
        tuple(r)
        for r in docs.select(
            "doc_id", portable_hash60(F.col("doc_id"), 131).alias("h")
        )
        .orderBy("h", "doc_id")
        .limit(_SAMPLE_K)
        .collect()
    ]
    assert got_sample == want_sample, "streamed sample diverged"
    out["sample_k"] = len(got_sample)

    # ---- GC: compact the two merge-bearing tiers to NEW roots; probes
    # must not notice
    bm25_gc = f"{out_root}/bm25_gc"
    kll_gc = f"{out_root}/kll_gc"
    text_ops.bm25_compact_store(spark, roots["bm25"], bm25_gc)
    st_mon.kll_compact_store(
        spark, roots["kll"], kll_gc, k=_KLL_K, shards=_KLL_SHARDS
    )
    post = sorted(
        tuple(r)
        for r in text_ops.bm25_topk_from_store(
            spark, bm25_gc, queries, k=10
        ).collect()
    )
    out["bm25_gc_identical"] = post == got
    ests_gc = {
        r["q"]: r["est"]
        for r in st_mon.kll_store_quantiles(
            spark, kll_gc, _QS, k=_KLL_K, shards=_KLL_SHARDS
        ).collect()
    }
    out["kll_gc_identical"] = ests_gc == ests
    assert out["bm25_gc_identical"] and out["kll_gc_identical"]

    # ---- swap-in: promote the compacted roots over the live paths
    # (stores.swap_root — two atomic renames, crash recovery
    # documented there) and re-probe the LIVE paths: consumers keep
    # their configured root and see identical results; the retired
    # fragmented roots are deleted once the probes agree.
    from lab3_lakehouse_spark import stores

    retired = [
        stores.swap_root(spark, roots["bm25"], bm25_gc),
        stores.swap_root(spark, roots["kll"], kll_gc),
    ]
    swapped_bm25 = sorted(
        tuple(r)
        for r in text_ops.bm25_topk_from_store(
            spark, roots["bm25"], queries, k=10
        ).collect()
    )
    swapped_ests = {
        r["q"]: r["est"]
        for r in st_mon.kll_store_quantiles(
            spark, roots["kll"], _QS, k=_KLL_K, shards=_KLL_SHARDS
        ).collect()
    }
    out["swap_identical"] = swapped_bm25 == got and swapped_ests == ests
    assert out["swap_identical"]
    for r in retired:
        shutil.rmtree(r)

    # ---- drift→reindex→swap (the ann_store_reindex_swap registry
    # entry's production shape): when the centroid-drift monitor fires
    # on the live IVF-PQ store, refit centroids/codebooks on the
    # CURRENT corpus, re-encode into a NEW root (the live store is
    # never written), swap_root it in, and prove the post-swap probe
    # serves the refit index before deleting the retired root.
    ref_cent = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim").agg(F.avg("v").alias("a"))
    )
    cand_cent = (
        emb.filter(F.col("vec_id") % 2 != 0)
        .select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim").agg(F.avg("v").alias("b"))
    )
    d = ref_cent.join(cand_cent, "dim").agg(
        (
            F.sum(F.col("a") * F.col("b"))
            / (
                F.sqrt(F.sum(F.col("a") * F.col("a")))
                * F.sqrt(F.sum(F.col("b") * F.col("b")))
            )
        ).alias("cos")
    ).collect()[0]["cos"]
    out["drift_cosine"] = round(float(d), 4)
    if d < 0.99:  # the monitor fired: refit + re-encode + swap
        refit_root = f"{out_root}/ivfpq_refit"
        sim_ops.ivfpq_store_init(
            refit_root, emb, "vec_id", "embedding",
            n_centroids=16, dim=64, m=8, n_codes=32,
        )
        sim_ops.ivfpq_store_append(
            spark, refit_root, emb, "vec_id", "embedding"
        )
        new_cents, new_books = sim_ops.ivfpq_load_meta(spark, refit_root)
        retired_ivfpq = stores.swap_root(spark, roots["ivfpq"], refit_root)
        post_ann = sim_ops.ivfpq_store_topk(
            spark, roots["ivfpq"], emb, q8, "vec_id", "embedding",
            k=5, n_probe=8, rerank=400,
        )
        mem_index = sim_ops.pq_encode(
            sim_ops.assign_cells_literal(
                emb, "vec_id", "embedding", new_cents
            ),
            "neighbor_id", "__cvec", new_books, keep=("__cell",),
        ).select("neighbor_id", "__cell", "__codes")
        mem_ann = sim_ops.ivfpq_probe_index(
            mem_index, new_books, new_cents, q8, "vec_id", "embedding",
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cvec"),
            ),
            k=5, n_probe=8, rerank=400,
        )
        got_post = sorted(
            (r.query_id, r.neighbor_id, r.rank) for r in post_ann.collect()
        )
        want_post = sorted(
            (r.query_id, r.neighbor_id, r.rank) for r in mem_ann.collect()
        )
        out["reindex_swap_serves_refit"] = got_post == want_post
        assert out["reindex_swap_serves_refit"]
        shutil.rmtree(retired_ivfpq)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_root = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="continuous_index_")
    )
    from lab3_lakehouse_spark.session import build_session

    spark = build_session(app_name="continuous-index-pipeline")
    try:
        metrics = run_continuous_index(spark, sf_dir, out_root)
        print(metrics)
    finally:
        spark.stop()
        if len(sys.argv) <= 2:
            shutil.rmtree(out_root, ignore_errors=True)


if __name__ == "__main__":
    main()
