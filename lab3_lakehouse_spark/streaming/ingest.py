"""Continuous corpus ingestion: Structured Streaming → near-dup gate →
append-only corpus tier.

This is the STREAMING lid on the persisted-signature-store cycle the
batch example (`examples/incremental_ingest_pipeline.py`) established:
documents arrive as files, each micro-batch is exact-deduped against
the corpus fingerprints, LSH-probed against the persisted band store
(operators/dedup.py `minhash_candidates_vs_bands` — the corpus text is
never re-read), and only survivors append to the corpus AND extend the
store. Dedup cost per batch is therefore proportional to the BATCH,
not the corpus (measured: SCALE_r05.json probe alpha 0.09).

Delivery semantics: file sources are exactly-once on the READ side
(the checkpoint tracks consumed files); the foreachBatch body performs
three appends (bands, hashes, then corpus — STORE FIRST) that are not
atomic together, so a crash between them can leave a batch partially
applied — on restart the batch REPLAYS. Store-first ordering is what
makes replay converge: a crash after the store appends but before the
corpus append leaves signatures without corpus rows, and on replay the
fingerprint gate does NOT drop those rows (they never reached the
corpus), the store probe skips self-matches
(``minhash_candidates_vs_bands`` excludes ``id_a == id_b``), and the
corpus append completes; the duplicate store re-appends are the
harmless case (candidate generation is distinct-ed and the verify
input is deduped per id). The REVERSE order (corpus first) would be a
real bug: replay's fp gate would drop the rows before their signatures
were ever written, so the store would permanently miss them and future
near-dups of those docs would pass undetected. This is the standard
at-least-once + idempotent-sink contract of foreachBatch — same class
as streaming/windows.to_tier, documented rather than hidden.

Intra-batch near-dups ARE deduped: alongside the store probe, each
micro-batch runs a banded self-join over its own (post-fp-gate) rows,
and the unified drop rule keeps the LOWEST doc_id of each candidate
pair whose both sides are in the batch (store-side matches always drop
the probe row). The rule is greedy on verified pairs — in a chain
A~B~C where A~C is below threshold, B and C both drop — deterministic
and the standard LSH-dedup resolution. Doc ids are assumed globally
unique across arrivals (the signature-store contract).

The micro-batch body is the EXACT batch-pipeline composition — one
code path, two drivers (the reference's batch-vs-stream split kept two
engines in sync by hand; here the stream IS the batch operator chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark import fs
from lab3_lakehouse_spark.operators import dedup as dedup_ops

#: Arriving-document schema for the file stream (one JSON doc per line).
DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def _hashed(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )


def _read_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Bootstrap-safe tier read: before the first batch lands, the
    corpus/store paths don't exist yet — an empty frame with the right
    schema keeps every join in the batch body uniform."""
    if fs.exists(spark, path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


_FP_SCHEMA = T.StructType([T.StructField("fp", T.StringType())])
_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("__id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bh", T.LongType()),
    ]
)
_HASHES_SCHEMA = T.StructType(
    [
        T.StructField("__id", T.LongType()),
        T.StructField("__h", T.ArrayType(T.LongType())),
    ]
)


def stream_ingest_with_dedup(
    spark: SparkSession,
    src_dir: str,
    out_root: str,
    *,
    threshold: float = 0.8,
    max_band_bucket: int = 1000,
    max_files_per_trigger: int = 1,
):
    """Start the continuous-ingestion stream; returns the
    StreamingQuery (caller owns stop/awaitTermination).

    ``max_files_per_trigger=1`` processes arrival files one batch at a
    time, so every file is deduped against everything that arrived
    before it — the semantics a daily-drop ingest wants. Raise it when
    intra-batch dedup granularity is file-group-level anyway.
    """
    corpus_path = f"{out_root}/corpus"
    bands_path = f"{out_root}/store/bands"
    hashes_path = f"{out_root}/store/hashes"
    checkpoint = f"{out_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = dedup_ops.exact_dedup(batch_df, ["text"], ["doc_id"]).withColumn(
            "fp", dedup_ops.fingerprint("text")
        )
        known_fp = _read_or_empty(spark, corpus_path, _FP_SCHEMA).select("fp")
        fresh = batch.join(known_fp, "fp", "left_anti").localCheckpoint(eager=False)

        fresh_hashed = _hashed(fresh).localCheckpoint(eager=False)
        stored_bands = _read_or_empty(spark, bands_path, _BANDS_SCHEMA)
        stored_hashes = _read_or_empty(spark, hashes_path, _HASHES_SCHEMA)
        store_cands = dedup_ops.minhash_candidates_vs_bands(
            fresh_hashed, stored_bands, max_bucket=max_band_bucket
        )
        # Intra-batch pass: near-dup pairs ARRIVING TOGETHER never meet
        # the store probe (neither side is persisted yet) — band the
        # batch against itself and symmetrize the (id_a < id_b) pairs so
        # one drop rule below covers both candidate sources.
        intra = dedup_ops.minhash_lsh_candidates_from_hashes(
            fresh_hashed, max_bucket=max_band_bucket
        )
        cands = store_cands.unionByName(
            intra.unionByName(
                intra.select(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                )
            )
        ).distinct()
        # dropDuplicates: on replay the store already holds this batch's
        # hashes, so fresh ∪ stored carries the same id twice (identical
        # rows) — dedup before verify or pair rows multiply.
        verified = dedup_ops.minhash_verify_hashed(
            cands,
            fresh_hashed.unionByName(stored_hashes).dropDuplicates(["__id"]),
            threshold=threshold,
        )
        # Drop rule: a match against a genuine store doc always drops the
        # probe row; when BOTH sides are in the batch (intra pair, or a
        # replayed batch matching its own stored bands) keep the lowest id.
        fresh_ids = fresh_hashed.select(F.col("__id").alias("id_b")).withColumn(
            "__b_fresh", F.lit(True)
        )
        dup_ids = (
            verified.join(fresh_ids, "id_b", "left")
            .filter(F.col("__b_fresh").isNull() | (F.col("id_a") > F.col("id_b")))
            .select(F.col("id_a").alias("doc_id"))
            .distinct()
        )
        survivors = fresh.join(dup_ids, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )

        # STORE FIRST, corpus last — the crash-replay contract (module
        # docstring): signatures must exist before their corpus rows, or
        # a replay's fp gate strands corpus docs without signatures.
        surv_hashed = _hashed(survivors).localCheckpoint(eager=False)
        dedup_ops.minhash_store_append(f"{out_root}/store", surv_hashed)
        survivors.select("doc_id", "text", "source", "fp").write.mode(
            "append"
        ).parquet(corpus_path)

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_rate_mix(
    spark: SparkSession,
    src_dir: str,
    out_root: str,
    rates: DataFrame,
    *,
    rate_col: str = "boost",
    max_files_per_trigger: int = 1,
):
    """Streaming mixture materialization — the continuous lid on
    operators/sampling.materialize_rate_mix: documents arrive as files,
    every micro-batch joins the broadcast per-source rate frame
    (``rates``: round4-pinned boosts, fitted offline by
    domain_temperature_mix / source_mix_weights) and appends
    ``floor(boost)`` copies + the hash-drawn fractional copy per doc to
    the mixture tier. Because the draw is a PURE FUNCTION of doc_id
    (portable md5), the streamed mixture over any set of arrivals is
    row-identical to the batch operator over the same rows — pinned by
    test — and a replayed batch re-appends IDENTICAL rows, so
    latest-wins/distinct consumers see idempotent output (the standard
    foreachBatch at-least-once contract, same class as to_tier).

    Scale shape per batch: rates broadcast, one scan of the BATCH with
    a scan-side explode — cost tracks the batch, never the corpus or
    the stream age.
    """
    from lab3_lakehouse_spark.operators import sampling as sampling_ops

    mix_path = f"{out_root}/mixture"
    checkpoint = f"{out_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        mixed = sampling_ops.materialize_rate_mix(
            batch_df, rates, id_col="doc_id", source_col="source",
            rate_col=rate_col,
        )
        mixed.write.mode("append").parquet(mix_path)

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_bloom_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    shingle_n: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
    max_files_per_trigger: int = 1,
):
    """Continuous decontamination-tier ingestion: every micro-batch of
    arriving BENCHMARK documents folds its distinct shingles into the
    persisted Bloom tier via operators/sketches.bloom_store_append —
    which never reads the store (bit sets union), so per-batch cost is
    ∝ the batch at any store age. Probes see every committed batch'
    bits immediately (the reader distinct-s the union).

    Replay semantics are the BEST case of the store family: a replayed
    batch re-appends the IDENTICAL bit rows, and since the reader
    de-duplicates bits, the BIT table is fully idempotent — no df/tf
    double-count analog exists for a Bloom filter. The meta side
    (per-batch key counts for FP-saturation accounting) is made
    replay-safe by stamping the streaming batch_id into each meta row
    so sketches.bloom_store_meta collapses re-delivered duplicates.
    Returns the started StreamingQuery (caller owns
    stop/awaitTermination)."""
    from lab3_lakehouse_spark.operators import sketches

    checkpoint = f"{store_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        keys = batch_df.select(
            F.explode(dedup_ops.word_shingles("text", shingle_n)).alias("sh")
        ).distinct()
        sketches.bloom_store_append(
            store_root,
            keys,
            "sh",
            n_bits=n_bits,
            n_hashes=n_hashes,
            batch_id=batch_id,
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_bm25_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    max_files_per_trigger: int = 1,
):
    """Continuous BM25 index ingestion: every micro-batch of arriving
    documents appends its postings (term-hash-clustered parquet) and
    one ``(n_docs, dl_sum)`` meta row to the persisted store via
    operators/text.bm25_append_batch — which NEVER reads the store, so
    per-batch cost is ∝ the batch at any index size: the property that
    makes a 100 TB lexical index maintainable from a stream at all.
    Probes (bm25_topk_from_store) see every fully-committed batch and
    need no coordination with the writer — postings and the meta row
    land per batch, and a probe's N/avgdl/df are consistent once the
    batch's files are visible.

    At-least-once note: exactly-once here comes from the streaming
    CHECKPOINT (a committed batch is never re-delivered); a manual
    replay without the checkpoint re-appends postings and double-counts
    df/tf — the documented bm25_append_batch contract. Returns the
    started StreamingQuery (caller owns stop/awaitTermination)."""
    from lab3_lakehouse_spark.operators import text as text_ops

    checkpoint = f"{store_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        text_ops.bm25_append_batch(
            store_root, batch_df, id_col="doc_id", text_col="text"
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


#: Arriving-embedding schema (one JSON vector per line) for the dense
#: index stream — JSON arrays parse directly into array<double>.
EMBEDDING_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def stream_phash_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    payload_from: str = "text",
    buckets: int = 2,
    max_files_per_trigger: int = 1,
):
    """Continuous media-signature ingestion — the streaming lid on the
    perceptual-hash tier (operators/multimodal.phash_store_append):
    every micro-batch of arriving documents runs its Arrow decode pass
    ONCE and appends 16-byte ``(doc_id, phash)`` rows; later dedup
    probes read signatures, never payloads. With this writer every
    persisted-store family has a streaming lid (BM25, Bloom, KLL,
    pHash, IVF-PQ). The stream carries text (the documented
    FakeCodec-class stand-in: ``payload_from`` is wrapped to binary
    in-batch exactly like the batch entry's text_as_binary); a real
    crawl would stream binary payloads through the same seam.

    Replay: a re-delivered batch re-appends IDENTICAL signature rows
    (the hash is deterministic in the payload) — duplicate rows are
    harmless for pair generation (the store contract) and offline GC
    can drop them by doc_id. ``buckets`` caps files per micro-batch so
    a long-lived tier doesn't fragment into one file per batch.
    Returns the started StreamingQuery."""
    from lab3_lakehouse_spark.operators import multimodal as mm_ops

    checkpoint = f"{store_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        with_bin = mm_ops.text_as_binary(batch_df, payload_from, "content")
        mm_ops.phash_store_append(
            store_root, with_bin, "doc_id", "content", buckets=buckets
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_ivfpq_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    buckets: int = 8,
    max_files_per_trigger: int = 1,
):
    """Continuous dense-index ingestion — the streaming lid on the
    persisted IVF-PQ store: the index metadata (centroids + codebooks)
    must already exist (operators/similarity.ivfpq_store_init — the
    one-time fit, exactly as in production where the quantizer is
    trained before ingestion begins); each micro-batch of arriving
    vectors is then cell-assigned and PQ-encoded map-side against the
    stored metadata and its code rows land cell-clustered in the codes
    tier (ivfpq_store_append — reads ONLY the kilobyte metadata tiers,
    never the codes). Probes (ivfpq_store_topk) see every committed
    batch immediately; per-batch cost ∝ the batch at any index size.

    ORDERING CONTRACT (r14 snapshot semantics): call
    ``ivfpq_store_init`` BEFORE this factory — the quantizer metadata
    is snapshotted here, once, at stream-construction time, and every
    micro-batch encodes against that snapshot. A store that is
    re-initialized or re-fitted while the returned stream lives keeps
    being encoded with the SNAPSHOTTED codebooks (re-index flows must
    stop the stream, swap roots, and start a new one — the
    ann_store_reindex_swap pattern). A missing/uninitialized store
    raises here, at setup, with the ordering stated.

    Replay: a re-delivered batch re-appends identical code rows —
    duplicate (id, cell, codes) rows inflate ADC candidate lists but
    cannot change which TRUE neighbors exist; the globally-unique-id
    store contract applies, and offline GC can dedup by id. Returns
    the started StreamingQuery."""
    from lab3_lakehouse_spark import stores
    from lab3_lakehouse_spark.operators import similarity as sim_ops

    checkpoint = f"{store_root}/_checkpoint"
    # the quantizer metadata is FROZEN during ingestion by contract
    # (init happens before the stream starts; only re-index swaps it),
    # so load the kilobyte tiers ONCE per stream instead of twice per
    # micro-batch (r14 — two bounded collects per trigger removed).
    # Explicit existence check (r14 advice): fail at setup with the
    # ordering requirement, not with a parquet path error mid-load.
    for tier in ("centroids", "codebooks"):
        if not fs.exists(spark, stores.tier_path(store_root, tier)):
            raise ValueError(
                f"stream_ivfpq_append: store {store_root!r} has no "
                f"'{tier}' tier — run ivfpq_store_init BEFORE creating "
                "the ingestion stream (the quantizer metadata is "
                "snapshotted at stream-construction time)"
            )
    meta = sim_ops.ivfpq_load_meta(spark, store_root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sim_ops.ivfpq_store_append(
            spark, store_root, batch_df, "vec_id", "embedding",
            buckets=buckets, meta=meta,
        )

    stream = (
        spark.readStream.schema(EMBEDDING_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_sample_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    k: int = 64,
    seed: int = 131,
    max_files_per_trigger: int = 1,
):
    """Continuous maintenance of the persisted uniform-sample tier:
    every micro-batch of arriving documents appends ITS bottom-k ids by
    the portable hash (operators/sampling.sample_store_append — never
    reads the store), and sample_store_draw reconstructs the exact
    global k-sample of everything ever streamed from batches·k stored
    rows. The always-fresh uniform sample is the monitoring primitive
    quality dashboards want ("show me 64 random docs from the whole
    crawl so far") at metadata cost.

    Replay semantics are the Bloom-tier best case: the per-batch
    bottom-k is a deterministic function of the batch's ids, so a
    re-delivered batch appends byte-identical rows and the draw's
    id-dedup collapses them — fully idempotent, no batch_id accounting.
    Returns the started StreamingQuery (caller owns stop)."""
    from lab3_lakehouse_spark.operators import sampling

    checkpoint = f"{store_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sampling.sample_store_append(
            store_root, batch_df, "doc_id", k=k, seed=seed
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_split_assignment(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    threshold: float = 0.8,
    split_seed: int = 71,
    train_of_10: int = 8,
    max_files_per_trigger: int = 1,
):
    """Continuous leakage-safe split assignment against a FROZEN
    corpus index — the streaming face of
    queries/advstats.incremental_split_maintenance: every micro-batch
    of arriving documents probes the persisted MinHash signature store
    (band candidates vs ``{root}/bands``, exact shingle-hash-Jaccard
    verify vs ``{root}/hashes`` — the store contract: corpus text is
    never re-read), joins the matched docs' components from the
    ``{root}/assign`` tier, and appends one assignment row per arriving
    doc to ``{root}/stream_assign``: inherit the matched component's
    split, or hash fresh, with bridged/conflict flagged exactly as in
    the batch op.

    FROZEN index by design: the writer never appends the batch's own
    signatures, so (a) every batch's result is independent of
    micro-batch boundaries and arrival ORDER (the batch-op's
    contracted-CC handles intra-stream near-dup clusters on the
    periodic re-index cadence), and (b) replay is fully idempotent —
    a re-delivered batch recomputes byte-identical rows and the reader
    de-duplicates by doc_id. split = hash60(component) in every case,
    so assignments reproduce without storing them; the tier exists so
    downstream loaders join one table instead of re-probing."""
    from lab3_lakehouse_spark import stores
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    checkpoint = f"{store_root}/_checkpoint"

    def split_of(c):
        return F.when(
            portable_hash60(c, split_seed) % 10 < train_of_10,
            F.lit("train"),
        ).otherwise(F.lit("val"))

    # the index is FROZEN while the stream runs (re-banding happens on
    # the re-index cadence, never mid-stream), so the three tier
    # frames are constructed ONCE (r14) — each micro-batch reuses the
    # same DataFrames, keeping one cached parquet FileIndex per tier
    # instead of re-listing and re-planning three tier reads per
    # trigger; the probe itself still scans the tiers per batch, which
    # is the production shape (keyed joins against parquet, no
    # corpus-sized state pinned in memory)
    bands_tier = stores.read_tier(spark, store_root, "bands")
    hashes_tier = stores.read_tier(spark, store_root, "hashes")
    assign_tier = stores.read_tier(spark, store_root, "assign").select(
        F.col("doc_id").alias("id_b"), "component"
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hashed = _hashed(batch_df)
        cands = dedup_ops.minhash_candidates_vs_bands(hashed, bands_tier)
        pairs = dedup_ops.minhash_verify_hashed(
            cands,
            hashed.unionByName(hashes_tier),
            threshold=threshold,
        )
        comps = assign_tier
        agg = (
            pairs.join(comps, "id_b")
            .groupBy("id_a")
            .agg(
                F.countDistinct("component").alias("__n_comps"),
                F.min("component").alias("__min_comp"),
                F.countDistinct(split_of(F.col("component"))).alias(
                    "__n_splits"
                ),
            )
        )
        rows = (
            batch_df.select("doc_id")
            .join(agg, F.col("doc_id") == F.col("id_a"), "left")
            .select(
                "doc_id",
                F.coalesce("__min_comp", "doc_id").alias("component"),
                F.coalesce("__n_comps", F.lit(0))
                .cast("long")
                .alias("n_matched_components"),
                F.coalesce("__n_splits", F.lit(0))
                .cast("long")
                .alias("__n_splits"),
            )
            .select(
                "doc_id",
                "component",
                "n_matched_components",
                split_of(F.col("component")).alias("split"),
                F.when(F.col("n_matched_components") == 0, F.lit("fresh"))
                .when(F.col("n_matched_components") == 1, F.lit("inherited"))
                .when(F.col("__n_splits") == 1, F.lit("bridged"))
                .otherwise(F.lit("conflict"))
                .alias("status"),
            )
        )
        stores.append_rows(rows, store_root, "stream_assign", buckets=1)

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_weighted_sample_append(
    spark: SparkSession,
    src_dir: str,
    store_root: str,
    *,
    weight_expr: str = "length(text)",
    k: int = 64,
    seed: int = 7,
    max_files_per_trigger: int = 1,
):
    """Continuous maintenance of the WEIGHTED sample tier — the
    priorities twin of :func:`stream_sample_append`: every micro-batch
    appends its top-k ids by the deterministic Efraimidis–Spirakis
    priority (inclusion ∝ ``weight_expr``), and
    sampling.weighted_sample_store_draw reconstructs the exact global
    weighted k-sample of everything ever streamed. Same replay story
    as the uniform tier: rows are a deterministic function of the
    batch's (id, weight) pairs, so re-delivery appends byte-identical
    rows and the draw's id-dedup collapses them — fully idempotent."""
    from lab3_lakehouse_spark.operators import sampling

    checkpoint = f"{store_root}/_checkpoint"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sampling.weighted_sample_store_append(
            store_root,
            batch_df.withColumn("__w", F.expr(weight_expr)),
            "doc_id",
            "__w",
            k=k,
            seed=seed,
        )

    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
