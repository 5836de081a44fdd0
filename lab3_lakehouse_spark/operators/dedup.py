"""Deduplication operators — exact and near-duplicate — for
large-scale training-data pipelines (north-star surface; the reference
has only implicit dedup-by-filter, SURVEY §2.7).

Five tiers, cheapest first:

- ``exact_dedup``            — deterministic keep-first-by-tiebreak on a
                               content key (hash-groupBy; one shuffle).
- ``fingerprint``            — md5 content fingerprint column.
- ``banded_word_jaccard_pairs`` — lang- and length-blocked exact
                               word-set Jaccard (threshold 0.8 only).
- ``shingle_hashes`` → ``minhash_lsh_candidates_from_hashes`` →
  ``minhash_verify_hashed`` — MinHash + banded LSH over shingle hashes
                               computed once per document: the 100 TB
                               near-dup path (shuffle on band keys only,
                               candidates ≪ n²).
- ``simhash64``              + ``simhash_pairs`` — 64-bit SimHash with
                               chunk-banded Hamming candidate generation.

All hashing is JVM-side Catalyst expressions (``xxhash64``, higher-order
functions) — no Python in the hot path, and no arithmetic that could
trip ANSI-mode overflow (Spark 4 default): MinHash permutations are
independent seeded rehashes, not modular-arithmetic maps (see
``minhash_from_hashes`` for why that matters).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(
    df: DataFrame, key_cols: list[str], tie_break: list[str]
) -> DataFrame:
    """Keep exactly one row per key, deterministically (smallest
    tie_break wins). Unlike ``dropDuplicates`` — which keeps an
    arbitrary first-encountered row and is therefore not reproducible
    across runs/cluster layouts — this is stable, which matters for
    training-data lineage."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in tie_break])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint(col: Column | str) -> Column:
    """128-bit content fingerprint (md5 hex) — engine-portable."""
    return F.md5(F.col(col) if isinstance(col, str) else col)


def tokens(text: Column | str, lowercase: bool = True) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    if lowercase:
        t = F.lower(t)
    return F.split(t, r"\s+")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column (pure Catalyst: split +
    sequence + transform + slice)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def positional_word_shingles(text: Column | str, n: int = 10) -> Column:
    """n-word shingles WITH their 1-based token position, as an array
    of ``struct(pos, span)`` — the positional variant of
    :func:`word_shingles` (which distinct-s) that maximal-run span
    coalescing needs: consecutive shared windows merge into one maximal
    duplicated segment only if their positions are known. Same slice
    formulation as word_shingles (the corpus' docs are short; for
    long-document corpora use the shifted-zip trick of
    shingle_hashes_from_token_hashes to stay O(len) per doc)."""
    toks = tokens(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"), F.concat_ws(" ", F.slice(toks, i, n)).alias("span")
        ),
    )


def token_hashes(text: Column | str) -> Column:
    """xxhash64 of each whitespace token, in order (array<long>) — the
    shared base every shingle width derives from. Compute it once per
    document and reuse across widths (see doc_fingerprint_matches)."""
    return F.transform(tokens(text), lambda t: F.xxhash64(t))


def shingle_hashes_from_token_hashes(th: Column, shingle_n: int = 3) -> Column:
    """Distinct n-shingle hashes from a precomputed token-hash array.

    Formulation matters: zip the hash array with its n-1 shifted copies
    (one O(len) slice each) and hash the n-tuples — every step O(len)
    per document. The obvious
    ``transform(idx, i -> hash(concat_ws(slice(tokens, i, n))))`` is
    O(len) *per element* (slice copies from i), i.e. O(len²) per doc —
    measured 25× slower on 5k docs (29 s → 1.2 s)."""
    n_shingles = F.greatest(F.size(th) - (shingle_n - 1), F.lit(1))
    shifted = [F.slice(th, 1 + j, n_shingles) for j in range(shingle_n)]
    return F.array_distinct(
        F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.xxhash64(*[s[str(j)] for j in range(shingle_n)]),
        )
    )


def shingle_hashes(text: Column | str, shingle_n: int = 3) -> Column:
    """xxhash64 of each distinct word n-shingle (array<long>):
    tokenize → hash each token once → hash the n-tuples."""
    return shingle_hashes_from_token_hashes(token_hashes(text), shingle_n)


def minhash_from_hashes(hashes: Column, num_perm: int = 64, seed: int = 42) -> Column:
    """MinHash signature from a *materialized* shingle-hash column.

    Permutation i is an independent seeded rehash
    ``xxhash64(seed·2⁶+i, h)`` — NOT a linear ``(a·h+b) mod p`` map:
    with 31-bit h and a 61-bit modulus the linear map almost never
    wraps, making it order-preserving, which correlates all
    "permutations" (every one picks the same argmin shingle) and
    silently destroys LSH recall. Found empirically: recall vs exact
    Jaccard was 0.89 where the S-curve predicts 0.9998.

    Keep the hash array in its own projection (withColumn) before
    calling this: the signature references it num_perm times, and
    materializing it guarantees single evaluation instead of trusting
    expression CSE — a 64× difference on the hot path.
    """

    def perm_hash(i: int):
        # closure factory: a plain 1-arg lambda (extra default args would
        # be mistaken for higher-order-function arity by PySpark)
        return lambda h: F.xxhash64(F.lit(seed * 64 + i), h)

    return F.array(
        *[F.array_min(F.transform(hashes, perm_hash(i))) for i in range(num_perm)]
    )


def minhash_lsh_candidates_from_hashes(
    hashed: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH over a
    precomputed ``(__id, __h)`` frame (``__h`` = distinct shingle
    hashes from :func:`shingle_hashes`, array<long>). Returns distinct
    ``(id_a, id_b)`` with ``id_a < id_b``.

    rows × bands exploded rows, shuffled once on (band, band_hash);
    pairs are generated only within buckets. With r = num_perm/bands
    rows per band, the usual S-curve applies (collision prob ≈
    1-(1-s^r)^b for Jaccard s). Verify the candidates with
    :func:`minhash_verify_hashed` against the SAME frame, so each
    document is tokenized and hashed ONCE and verification measures
    the shingle width the banding approximated; share the frame via
    ``localCheckpoint`` (same pattern as ``simhash_pairs_from_sims``).

    ``max_bucket`` is the hot-bucket guard: a band bucket with n
    members emits n(n-1)/2 pairs, so ONE pathological bucket (mass-
    produced boilerplate that survived exact dedup) can reintroduce the
    quadratic blowup banding exists to avoid. With the cap set,
    buckets larger than ``max_bucket`` are dropped from candidate
    generation (see :func:`cap_band_buckets` for the accounting
    variant). Recall is preserved in practice because members of a
    pathological bucket collide in MANY bands — the pair only needs
    one surviving co-occurrence — and near-identical docs are caught
    by the cheaper exact/fingerprint tier first. Default None keeps
    the historical exact behavior."""
    banded = _banded(hashed, num_perm, bands, seed)
    if max_bucket is not None:
        banded = cap_band_buckets(banded, max_bucket)
    return minhash_lsh_candidates_from_bands(banded)


def minhash_lsh_candidates_from_bands(banded: DataFrame) -> DataFrame:
    """Self-join a ``(__id, band, bh)`` band table into distinct
    candidate pairs (``id_a < id_b``) — the final step of
    :func:`minhash_lsh_candidates_from_hashes`, public so pipelines
    that need the band table for accounting (hot-bucket reports) or
    persistence (the signature store) band ONCE and reuse the frame."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bh") == F.col("r.bh"),
                F.col("l.__id") < F.col("r.__id"),
            ],
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def hot_band_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """The accounting twin of :func:`cap_band_buckets`: the band
    buckets a cap of ``max_bucket`` would DROP, as
    ``(band, bh, n_members)`` — one grouped count, rows only for the
    pathological buckets. Surface this next to any capped dedup run:
    hot buckets are exactly the mass-duplication clusters (boilerplate,
    templated spam) that should be routed to the exact-dedup /
    template-mining tier instead of the quadratic pair generator."""
    return (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def cap_band_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop band buckets with more than ``max_bucket`` members from a
    ``(__id, band, bh)`` table — the quadratic-blowup guard for banded
    self-joins. One window count over the (band, bh) key; at scale the
    dropped buckets should be logged/inspected (they are exactly the
    mass-duplication hot spots worth routing to the exact-dedup tier).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bh")
    return (
        banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def _banded(
    hashed: DataFrame, num_perm: int, bands: int, seed: int
) -> DataFrame:
    """``(__id, band, bh)`` band-bucket table from a ``(__id, __h)``
    shingle-hash frame — the shared banding step of the self-join and
    bipartite candidate generators. In a production incremental-dedup
    deployment this table IS the persisted signature store: build it
    once per corpus snapshot, then each new batch joins its own (tiny)
    band table against it.

    Note: an explode + groupBy-with-64-min-aggs formulation (as in
    simhash64) was measured 2× SLOWER here — the per-row cost of 64
    aggregate-update expressions exceeds interpreted array_min over a
    materialized hash array; keep the array formulation."""
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    return (
        hashed
        .select("__id", minhash_from_hashes(F.col("__h"), num_perm, seed).alias("__sig"))
        .select(
            "__id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.xxhash64(F.slice(F.col("__sig"), j * r + 1, r)).alias("bh"),
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("b"),
        )
        .select("__id", "b.band", "b.bh")
    )


def minhash_lsh_candidates_bipartite(
    probe_hashed: DataFrame,
    index_hashed: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Banded-LSH candidates BETWEEN two corpora — the incremental-
    ingestion shape: ``probe`` is today's new batch, ``index`` is the
    existing corpus. Returns distinct ``(id_a, id_b)`` with ``id_a``
    from the probe side and ``id_b`` from the index.

    Scale: the index's band table is buildable once and persisted (see
    :func:`_banded`); each ingestion run then shuffles only the NEW
    batch's bands — cost proportional to the delta, not the corpus,
    which is what makes daily dedup against a 100 TB corpus affordable.
    Within-batch duplicates are a separate (much smaller) self-join via
    :func:`minhash_lsh_candidates_from_hashes`."""
    return minhash_candidates_vs_bands(
        probe_hashed, banded_signatures(index_hashed, num_perm, bands, seed),
        num_perm, bands, seed,
    )


def banded_signatures(
    hashed: DataFrame, num_perm: int = 64, bands: int = 16, seed: int = 42
) -> DataFrame:
    """Public band-bucket table ``(__id, band, bh)`` — the persistable
    MinHash signature store (see :func:`_banded`). Write it next to the
    corpus tier; subsequent ingestion runs probe it via
    :func:`minhash_candidates_vs_bands` without touching corpus text.
    Pair it with the ``(__id, __h)`` shingle-hash frame if exact
    verification is needed (``minhash_verify_hashed``)."""
    return _banded(hashed, num_perm, bands, seed)


def minhash_store_append(
    store_root: str,
    hashed: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    banded: DataFrame | None = None,
    banded_params: tuple[int, int, int] | None = None,
) -> None:
    """Append one batch's MinHash signatures to the persisted LSH
    signature store — the ``minhash`` family of the stores.py
    lifecycle: ``{root}/bands`` gets the batch's ``(__id, band, bh)``
    band-bucket rows (:func:`banded_signatures`), ``{root}/hashes`` the
    ``(__id, __h)`` verify rows. Append cost ∝ the batch; the existing
    store is never read (probes go through
    :func:`minhash_candidates_vs_bands` + :func:`minhash_verify_hashed`
    — the corpus text is never re-tokenized). Parameters must match
    across appends and probes. At-least-once replay re-appends
    identical rows — harmless (candidates are distinct-ed, verify
    dedups per id); :func:`compact_signature_store` is the GC.

    Every append also records ``(num_perm, bands, seed)`` in the
    ``params`` sidecar tier (one tiny row per batch; replay-idempotent
    since validation reads it ``distinct``-ed): the banding layout is
    meaningless without these, and a later maintenance call with
    mismatched parameters would silently produce an incompatible bands
    tier — :func:`minhash_store_params` lets
    :func:`rebalance_signature_store` / :func:`compact_signature_store`
    fail loudly instead.

    ``banded`` (r14): a caller that ALSO needs the band table (e.g. to
    self-join it into the corpus candidate pairs right after indexing)
    can band once — ideally behind a lazy localCheckpoint — and pass
    the frame in; it must be ``banded_signatures(hashed, num_perm,
    bands, seed)`` of the same batch, or the store and the caller's
    candidates silently disagree. ``banded_params`` (r15, r14 advice):
    the passthrough is REQUIRED to state the ``(num_perm, bands,
    seed)`` the frame was built with — a mismatch with the append
    kwargs would write band rows the params sidecar misdescribes,
    exactly the silent incompatibility the sidecar exists to prevent,
    so it raises here instead (zero-job guard: callers thread one
    shared tuple through banding and append)."""
    from lab3_lakehouse_spark import stores

    if banded is not None:
        if banded_params is None:
            raise ValueError(
                "minhash_store_append: banded= requires banded_params="
                "(num_perm, bands, seed) — the parameters the band frame"
                " was built with"
            )
        if tuple(banded_params) != (num_perm, bands, seed):
            raise ValueError(
                f"minhash_store_append: banded frame was built with "
                f"(num_perm, bands, seed)={tuple(banded_params)} but the "
                f"append records ({num_perm}, {bands}, {seed}) in the "
                "params sidecar — pass one shared tuple to both"
            )
    stores.append_rows(
        banded if banded is not None
        else banded_signatures(hashed, num_perm, bands, seed),
        store_root,
        "bands",
    )
    stores.append_rows(hashed, store_root, "hashes")
    stores.append_sidecar(
        hashed.sparkSession.createDataFrame(
            [(num_perm, bands, seed)], "num_perm int, bands int, seed int"
        ),
        store_root,
        "params",
    )


def minhash_store_params(spark, store_root: str) -> tuple[int, int, int] | None:
    """The persisted ``(num_perm, bands, seed)`` of a signature store,
    or ``None`` for a store written before the params tier existed
    (pre-r14 stores — validation is skipped for them, the documented
    migration-free path). A store whose appends disagree on parameters
    is corrupt (its bands tier mixes incompatible bucketings) and
    raises. Driver cost is bounded: the distinct of a 3-int sidecar."""
    from lab3_lakehouse_spark import fs, stores

    if not fs.exists(spark, stores.tier_path(store_root, "params")):
        return None
    rows = (
        stores.read_tier(spark, store_root, "params").distinct().collect()
    )
    if len(rows) != 1:
        raise ValueError(
            f"signature store {store_root} has {len(rows)} distinct "
            "(num_perm, bands, seed) parameter rows — appends were made "
            "with mismatched parameters; the bands tier is incompatible"
        )
    r = rows[0]
    return (r.num_perm, r.bands, r.seed)


def compact_signature_store(spark, src_root: str, dst_root: str) -> dict:
    """Offline maintenance for the persisted LSH signature store
    (``{root}/bands`` + ``{root}/hashes``): the streaming ingest's
    at-least-once appends accumulate duplicate rows on every
    crash-replay (harmless for correctness — candidate generation is
    distinct-ed and verify dedups per id — but they inflate every
    future probe's scan), and thousands of small appended files erode
    scan efficiency. Compaction rewrites both tables exactly-deduped,
    with the band table REPARTITIONED ON ``band`` and sorted by
    ``(band, bh)`` inside partitions so a probe's (band, bh) join reads
    clustered row groups (min/max pruning actually bites).

    Writes to ``dst_root`` per the stores.gc_write contract (a NEW
    tier, ``mode("error")``): probes against ``src_root`` are never
    disturbed mid-compaction and a crash leaves the live store intact
    — swap-in is :func:`lab3_lakehouse_spark.stores.swap_root`.
    Returns ``{"bands_before": n, "bands_after": n, "hashes_before":
    n, "hashes_after": n}``.
    """
    from lab3_lakehouse_spark import stores

    # raises on a mixed-parameter store (appends that disagree on
    # (num_perm, bands, seed) — compacting one would launder the
    # corruption into a clean-looking tier); None = pre-params store
    params = minhash_store_params(spark, src_root)
    stats: dict[str, int] = {}
    for name, key_cols, clustered in (
        ("bands", ["__id", "band", "bh"], True),
        ("hashes", ["__id"], False),
    ):
        df = stores.read_tier(spark, src_root, name)
        stats[f"{name}_before"] = df.count()
        deduped = df.dropDuplicates(key_cols)
        stores.gc_write(
            deduped,
            dst_root,
            name,
            cluster_expr=F.col("band") if clustered else None,
            sort_cols=("band", "bh") if clustered else (),
        )
        stats[f"{name}_after"] = stores.read_tier(
            spark, dst_root, name
        ).count()
    if params is not None:  # carry the validated params forward deduped
        stores.append_sidecar(
            spark.createDataFrame(
                [params], "num_perm int, bands int, seed int"
            ),
            dst_root,
            "params",
        )
    return stats


def minhash_candidates_vs_bands(
    probe_hashed: DataFrame,
    index_bands: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidates between a probe batch and a PRE-BUILT band table
    (the reload half of the signature-store cycle): bands only the
    probe side, joins the stored bands. Parameters must match the ones
    the store was built with.

    ``max_bucket`` caps the INDEX side's bucket sizes before the join
    (see :func:`cap_band_buckets`): a hot bucket in a 100 TB signature
    store would multiply EVERY future probe batch by its membership —
    the incremental pipeline's blowup mode — so the probe path carries
    the same guard as the self-join path. Use
    :func:`hot_band_buckets` on the store for the dropped-bucket
    report.

    Self-pairs (``l.__id == r.__id``) are excluded: when a probe batch
    is REPLAYED against a store that already holds its own signatures
    (the at-least-once crash-replay case in ``streaming/ingest.py``,
    where the store appends land before the corpus append), a document
    must not match itself and be dropped forever. Ids are assumed
    globally unique across probe and index — the documented contract
    of the signature store."""
    pb = _banded(probe_hashed, num_perm, bands, seed).alias("l")
    if max_bucket is not None:
        index_bands = cap_band_buckets(index_bands, max_bucket)
    ib = index_bands.alias("r")
    return (
        pb.join(
            ib,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bh") == F.col("r.bh"),
                F.col("l.__id") != F.col("r.__id"),
            ],
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


def jaccard_arrays(a: Column, b: Column) -> Column:
    """Jaccard similarity of two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def minhash_verify_hashed(
    pairs: DataFrame, hashed: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact-Jaccard verification against the SAME ``(__id, __h)``
    shingle-hash frame the candidates were banded from — no re-tokenize,
    no second text scan. Jaccard over distinct 64-bit shingle hashes is
    exact shingle-Jaccard up to hash collisions (negligible and
    deterministic at these set sizes)."""
    a = hashed.select(F.col("__id").alias("id_a"), F.col("__h").alias("__ha"))
    b = hashed.select(F.col("__id").alias("id_b"), F.col("__h").alias("__hb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard_arrays(F.col("__ha"), F.col("__hb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------- duplicate-group resolution --

def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "hash-min",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS: connected
    components of the pair graph, by iterative hash-min label
    propagation. Returns ``(vertex, component)`` where ``component`` is
    the smallest vertex id in the component — the canonical "keep this
    one" representative for keep-smallest-id dedup lineage.

    This is the standard post-LSH collapse step in training-data dedup
    (candidate pairs → verified pairs → components → keep one per
    component): without it, a cluster of k mutual near-dups yields
    k·(k-1)/2 pairs but no decision about which k-1 rows to drop.

    Scale design: each iteration is ONE shuffle — ``groupBy(vertex)``
    over |V|+|E| constant-width (long, long) rows — and the frame is
    eagerly ``localCheckpoint``-ed per round, so lineage (and therefore
    plan size) stays O(1) instead of O(iterations). Iteration count is
    the maximum component DIAMETER, which for near-dup graphs is tiny
    (clusters are near-cliques). For adversarial long-chain graphs pass
    ``algorithm="alternating"`` — the O(log n)-round large-star/
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), same per-round shuffle shape. Convergence
    is detected by one scalar aggregate per round (labels only ever
    decrease, so the label sum strictly decreases until fixpoint).

    Vertices are the ids appearing in ≥1 edge; singleton documents are
    their own trivial component and never enter the graph.
    """
    if algorithm == "alternating":
        return _connected_components_alternating(edges, src, dst, max_iter)
    if algorithm != "hash-min":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # Lazy checkpoints throughout (r15, guide §1.2 — the r14
    # bpe_train_apply pattern): every round ALREADY runs one scalar
    # action (the convergence sum), so letting that action materialize
    # the round's checkpoint halves the per-round job count (eager
    # checkpoint job + sum job → one fused job); the setup frames
    # piggyback on round 1's action the same way. Lineage stays O(1)
    # per round exactly as before — only the materializing action
    # changes. Measured on dup_groups_connected: 45 → 38 Spark jobs.
    sym = (
        sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select("u")
        .distinct()
        .withColumn("comp", F.col("u"))
        .localCheckpoint(eager=False)
    )
    prev_sum = None
    for _ in range(max_iter):
        neighbor_labels = sym.join(
            labels.select(F.col("u").alias("v"), "comp"), "v"
        ).select("u", "comp")
        labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("u")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        label_sum = labels.agg(F.sum("comp")).first()[0]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(F.col("u").alias("vertex"), F.col("comp").alias("component"))


def _edge_signature(e: DataFrame) -> tuple[int, int]:
    """(row count, order-independent hash-sum) of an edge frame — equal
    signatures mean the edge set is stable (collision odds are 2⁻⁶⁴-ish
    per pair and deterministic)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: ANSI mode (Spark 4 default) overflows a
        # BIGINT sum of 64-bit hashes; xor is closed and order-free
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).first()
    return row["n"], row["h"]


def _connected_components_alternating(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al.) — O(log n) rounds regardless of component diameter, for
    graphs where hash-min's O(diameter) is adversarial (long chains:
    a 1M-vertex path converges in ~20 rounds here vs 1M there).

    Per round both phases are one groupBy + one equi-join on the SAME
    key (the exchange is reusable), over constant-width (long, long)
    rows:

    - large-star: every vertex links its LARGER neighbors to its
      smallest neighbor-or-self (strictly decreases large-to-small
      potential, keeps connectivity);
    - small-star: every vertex links its smaller neighbors AND ITSELF
      to its smallest neighbor (collapses local stars).

    At fixpoint the edge set is a star forest (v → component root);
    the fixpoint test is an order-independent edge-set signature, so
    each round costs one scalar action, like hash-min's label sum.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # canonical direction large → small, deduped
    # lazy: the signature aggregate right below materializes it (r15,
    # same per-round job fusion as the hash-min loop)
    e = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = _edge_signature(e)
    for _ in range(max_iter):
        # ---- large-star over the symmetrized frame
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star over the large→small directed frame
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        linked = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)  # materialized by the
        )                                  # signature action below
        e = linked
        sig = _edge_signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    roots = e.select("v").subtract(e.select(F.col("u").alias("v"))).distinct()
    return e.select(
        F.col("u").alias("vertex"), F.col("v").alias("component")
    ).unionByName(
        roots.select(F.col("v").alias("vertex"), F.col("v").alias("component"))
    )


# ------------------------------------------------------------- SimHash --

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per row, as ``(id_col, simhash: long)``.

    Fully whole-stage-codegen formulation: explode distinct tokens →
    one partial+final hash-agg with 64 ``sum((hash >> k) & 1)`` columns
    → pack majority bits into ONE long. Replaces an earlier
    array<int>-of-bits version whose per-token ``aggregate``/``zip_with``
    lambdas ran interpreted and whose 64-element arrays rode through
    every later shuffle — 28 s → ~2 s on 5 000 docs, and Hamming
    distance becomes ``bit_count(a ^ b)`` (one instruction) instead of a
    64-lambda fold.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))
    counts = tok.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("__h", k).bitwiseAND(F.lit(1))).alias(f"__c{k}")
            for k in range(64)
        ],
    )
    packed = None
    for k in range(64):
        # shiftleft wraps at k=63 (sign bit) — no ANSI overflow
        bit = F.when(
            F.col(f"__c{k}") * 2 > F.col("__n"),
            F.shiftleft(F.lit(1).cast("long"), k),
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return counts.select(F.col("__id").alias(id_col), packed.alias("simhash"))


def simhash_chunk(sim: Column, j: int, n_chunks: int = 4) -> Column:
    """16-bit chunk j of a packed 64-bit simhash (for banded candidate
    generation: pairs within Hamming ≤ n_chunks-1 share ≥1 chunk,
    pigeonhole)."""
    size = 64 // n_chunks
    return F.shiftrightunsigned(sim, j * size).bitwiseAND(F.lit((1 << size) - 1))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, banded on
    16-bit chunks. Shuffle rows are (id, long, chunk) — constant width;
    Hamming is ``bit_count(xor)`` JVM-side.

    The signature frame is ``localCheckpoint``-ed before banding: the
    banded candidate join is a SELF-join, and without pinning, both
    sides re-run the tokenize → 64-column hash-agg subtree (measured
    2× the signature cost at sf0.1). Compute-signatures-once-then-join
    is also the only sane shape at 100 TB."""
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    sims = simhash64(base, "__id", "__t").localCheckpoint(eager=False)
    return simhash_pairs_from_sims(sims, max_hamming, n_chunks)


def simhash_pairs_from_sims(
    sims: DataFrame, max_hamming: int = 3, n_chunks: int = 4
) -> DataFrame:
    """Banded candidate generation from a precomputed ``(__id, simhash)``
    frame — split out so callers that also need the signatures (e.g. a
    brute-force completeness check) compute them once."""
    banded = sims.select(
        "__id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("chunk_idx"),
                    simhash_chunk(F.col("simhash"), j, n_chunks).alias("chunk_val"),
                )
                for j in range(n_chunks)
            ])
        ).alias("b"),
    ).select("__id", "simhash", "b.chunk_idx", "b.chunk_val")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.chunk_idx") == F.col("r.chunk_idx"),
                F.col("l.chunk_val") == F.col("r.chunk_val"),
                F.col("l.__id") < F.col("r.__id"),
            ],
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Fuzzy record linkage: pairs within a block whose texts are
    within ``max_dist`` Levenshtein edits — the classic typo/variant
    matcher for short strings (names, SKUs, titles) where shingle
    methods are too coarse.

    Blocked like every near-dup operator here: the quadratic distance
    computation runs only inside blocks (a brand, a sorted-neighborhood
    key, a phonetic bucket), so pair counts stay ≪ n². ``levenshtein``
    is a JVM built-in evaluated post-join — an equi-join on the block
    key, never a cartesian."""
    a = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("__ta"),
    )
    b = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("__tb"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("__ta", "__tb").cast("long"))
        .filter(F.col("edit_dist") <= max_dist)
        .select(F.col("__blk").alias(block_col), "id_a", "id_b", "edit_dist")
    )


def prefix_filtered_containment(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    threshold: float = 0.9,
    min_small: int = 20,
) -> DataFrame:
    """Scale path for asymmetric containment dedup: PREFIX-FILTERING
    candidate generation (the SSJoin/PPJoin family — Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08) followed by exact verification.

    Losslessness argument: if |A ∩ B| / |A| ≥ t then B shares at least
    ⌈t·|A|⌉ of A's distinct words, so B must contain at least one of
    A's (|A| − ⌊t·|A|⌋ + 1) RAREST words (rank ascending by corpus
    document frequency, ties by token) — were all of them absent, the
    overlap could be at most ⌊t·|A|⌋ − 1 < ⌈t·|A|⌉. Joining only that
    prefix of the small side against the full postings of the block
    therefore produces a candidate superset, and the exact verify
    yields BIT-IDENTICAL output to the brute-force blocked join (the
    driver oracle for the production query is literally the
    brute-force SQL).

    Why it scales where blocked-all-pairs cannot: the candidate join is
    keyed on (block, token) with the probe side cut to the ~(1−t)
    fraction of each document that is its rarest vocabulary — posting
    lists of rare tokens are short BY CONSTRUCTION (rarity is the sort
    key), so candidates grow with shared-rare-vocabulary pairs, not
    with block².

    One aggregation for document frequencies, one per-document window
    (bounded by tokens-per-doc) for the rarity ranking, one
    (block, token) equi-join, one candidate distinct, two id-keyed
    verify joins. No nested loop anywhere.
    """
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        F.array_distinct(tokens(text_col)).alias("__w"),
    ).withColumn("__n", F.size("__w"))
    ex = base.select(
        "__id", "__blk", "__n", F.explode("__w").alias("__tok")
    )
    dfreq = ex.groupBy("__blk", "__tok").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("__blk", "__id").orderBy("__df", "__tok")
    )
    # prefix length |A| − ⌊t·|A|⌋ + 1: ⌊·⌋ under-estimates the minimal
    # qualifying overlap, so the prefix only ever gets LONGER than the
    # tight bound (more candidates, never a missed pair)
    prefix = (
        ex.join(dfreq, ["__blk", "__tok"])
        .withColumn("__rn", rn)
        .filter(F.col("__rn") <= F.col("__n") - F.floor(F.lit(threshold) * F.col("__n")) + 1)
        .filter(F.col("__n") >= min_small)
    )
    a = prefix.select(
        F.col("__blk"), F.col("__tok"),
        F.col("__id").alias("__id_a"), F.col("__n").alias("__n_a"),
    )
    b = ex.select(
        F.col("__blk"), F.col("__tok"),
        F.col("__id").alias("__id_b"), F.col("__n").alias("__n_b"),
    )
    cand = (
        a.join(b, ["__blk", "__tok"])
        .filter(
            (F.col("__n_a") < F.col("__n_b"))
            | ((F.col("__n_a") == F.col("__n_b")) & (F.col("__id_a") < F.col("__id_b")))
        )
        .select("__id_a", "__id_b")
        .distinct()
    )
    wa = base.select(
        F.col("__id").alias("__id_a"), F.col("__w").alias("__wa"),
        F.col("__n").alias("n_small"),
    )
    wb = base.select(
        F.col("__id").alias("__id_b"), F.col("__w").alias("__wb"),
        F.col("__n").alias("n_big"),
    )
    inter = F.size(F.array_intersect("__wa", "__wb")).cast("double")
    return (
        cand.join(wa, "__id_a")
        .join(wb, "__id_b")
        .withColumn("containment", inter / F.col("n_small").cast("double"))
        .filter(F.col("containment") >= threshold)
        .select(
            F.col("__id_a").alias("id_small"),
            F.col("__id_b").alias("id_big"),
            "containment",
            F.col("n_small").cast("long").alias("n_small"),
            F.col("n_big").cast("long").alias("n_big"),
        )
    )


def jaro_winkler_udf():
    """Arrow-batched Jaro–Winkler similarity UDF (standard Winkler
    variant: scaling 0.1, prefix cap 4, NO boost threshold — verified
    equal to DuckDB's ``jaro_winkler_similarity`` on transposition,
    prefix, empty and disjoint cases, so the oracle can replay it with
    the builtin). Spark has no JW builtin; this is the documented
    Python slot for string metrics the JVM lacks — Arrow batch
    transfer, never per-row py4j, and ALWAYS behind a blocking join
    (brand/phonetic/first-token keys) so the pair frame it scores is
    bounded, the fuzzy_join discipline."""
    from pyspark.sql.functions import pandas_udf

    def _jaro(s1: str, s2: str) -> float:
        if s1 == s2:
            return 1.0
        l1, l2 = len(s1), len(s2)
        if not l1 or not l2:
            return 0.0
        w = max(l1, l2) // 2 - 1
        m1 = [False] * l1
        m2 = [False] * l2
        m = 0
        for i, c in enumerate(s1):
            lo, hi = max(0, i - w), min(l2, i + w + 1)
            for j in range(lo, hi):
                if not m2[j] and s2[j] == c:
                    m1[i] = m2[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        return (m / l1 + m / l2 + (m - t) / m) / 3.0

    def _jw(s1: str, s2: str) -> float:
        j = _jaro(s1, s2)
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        return j + p * 0.1 * (1.0 - j)

    @pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [_jw(x or "", y or "") for x, y in zip(a, b)], dtype="float64"
        )

    return jw


def banded_word_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Lang- AND length-banded exact word-Jaccard pair tier — the
    SQL-replayable twin of the banded-LSH candidate source, shared by
    the dup-family registry entries (queries/llmdata, queries/advstats,
    queries/corpus).

    The length band is a LOSSLESS blocking key on top of the lang
    block: Jaccard(A, B) ≥ 0.8 forces ``5·min(|A|,|B|) ≥
    4·max(|A|,|B|)`` (|A∩B| ≤ min, |A∪B| ≥ max), so with integer bands
    ``b(n) = bitlength(n)`` a qualifying pair's bands differ by at most
    1 (the larger side is < 2× the smaller). The SMALLER side (ties by
    doc_id) probes ``{b, b+1}``, the equi-join key becomes
    ``(lang, band)``, and the exact integer size-ratio guard runs as a
    join condition next to the Jaccard predicate — so candidate
    fan-out drops from |lang block|² to Σ|(lang, band) block|² and no
    qualifying pair is ever dropped (the integer 4/5 filter is provably
    implied by a correctly-rounded double Jaccard ≥ 0.8 at any
    realistic set size). ``bitlength`` via ``length(bin(n))`` is
    integer-exact and engine-portable (Spark and DuckDB both ship
    ``bin``). Output: (id_a < id_b, jaccard), bit-identical to the
    unbanded tier.

    Skew (r15, guide §2.5): (lang, band) is a LOW-CARDINALITY key by
    construction (languages × ~4 occupied length bands — 14 keys at
    the bench corpus), and the in-block work is quadratic, so one
    block dominates: measured at sf0.1, the (en, band=5) block alone
    holds 65% of all in-block candidate pairs — one straggler task ran
    two-thirds of the ``array_intersect`` verification and made the
    lsh_banding_frontier bench bimodal (3.5 vs 9.8 s). The probe side
    therefore carries a DETERMINISTIC salt (``pmod(xxhash64(doc_id),
    16)`` — stable under task retry, guide §2.5's rand() warning) and
    the build side replicates across the 16 salt values, splitting
    every block's pair enumeration 16 ways (14 → 224 join keys). Each
    qualifying pair still meets exactly once (the probe row has ONE
    salt; the build row exists at every salt), so the pair SET — and
    every downstream dup-family result — is unchanged. Cost: build-side
    shuffle bytes ×16; at 100 TB this tier is the bounded
    oracle-replay twin (the at-scale path samples blocks — see the
    lsh_banding_frontier docstring), so the replication is bounded by
    the sample, not the corpus.
    """
    # hard error, not assert (r13 advice): under python -O an assert is
    # stripped and a threshold below 0.8 would get silently INCOMPLETE
    # pairs — the hardcoded 5·min ≥ 4·max guard is lossless only for
    # the 4/5 threshold
    if abs(threshold - 0.8) >= 1e-12:
        raise ValueError(
            "banded_word_jaccard_pairs supports threshold=0.8 only: the "
            "integer size-ratio guard 5*min>=4*max encodes Jaccard>=4/5; "
            f"got threshold={threshold!r}"
        )
    t = (
        docs.select(
            "doc_id", "lang", F.array_distinct(tokens("text")).alias("w")
        )
        .withColumn("n", F.size("w"))
        .withColumn("band", F.length(F.bin(F.col("n"))))
    )
    n_salts = 16
    probe = t.withColumn(
        "pband", F.explode(F.array(F.col("band"), F.col("band") + F.lit(1)))
    ).withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts)).cast("int"),
    )
    build = t.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    a, b = probe.alias("a"), build.alias("b")
    inter = F.size(F.array_intersect(F.col("a.w"), F.col("b.w"))).cast(
        "double"
    )
    union = (F.col("a.n") + F.col("b.n")).cast("double") - inter
    jac = inter / union
    return (
        a.join(
            b,
            on=[
                F.col("a.lang") == F.col("b.lang"),
                F.col("a.pband") == F.col("b.band"),
                F.col("a.salt") == F.col("b.salt"),
                (F.col("a.n") < F.col("b.n"))
                | (
                    (F.col("a.n") == F.col("b.n"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                ),
                F.col("a.n") * 5 >= F.col("b.n") * 4,
            ],
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def rebalance_signature_store(
    spark,
    src_root: str,
    dst_root: str,
    *,
    num_perm: int = 64,
    bands: int = 32,
    seed: int = 42,
) -> None:
    """Re-band the persisted LSH signature store for a NEW threshold
    target — the maintenance op a similarity-threshold change demands:
    the banding S-curve's midpoint is ``(1/b)^(r/num_perm·b)`` ≈
    ``(1/bands)^(1/rows_per_band)``, so moving the dedup threshold
    (say 0.5 → 0.18 to catch more distant near-dups) means a different
    (bands, rows) split of the SAME minhash permutations. Because the
    store's ``hashes`` tier persists the per-doc shingle-hash arrays,
    the new ``bands`` tier is ONE pass over that tier — the corpus
    text is never re-read or re-tokenized (at 100 TB the avoided
    re-tokenize is a full corpus scan; the hashes tier is a small
    fixed multiple of doc count). Writes BOTH tiers of a fresh root
    per the :func:`stores.gc_write` contract (``mode("error")``, live
    store untouched; hashes pass through exactly-deduped — the
    compact_signature_store discipline); swap-in is
    :func:`lab3_lakehouse_spark.stores.swap_root`.

    Candidate-set monotonicity: with ``num_perm`` fixed and ``bands``
    doubled, every old band's row block splits into two new blocks, so
    any pair whose minhash values collided on an old band still
    collides on both sub-bands — the rebanded candidate set is a
    SUPERSET of the old one (the registry entry pins this).

    Parameter validation (r13 advice): the superset guarantee only
    holds when ``num_perm``/``seed`` match what the store was appended
    with and the new band count is a MULTIPLE of the old. The store's
    ``params`` sidecar (written by :func:`minhash_store_append`) is
    checked before anything is rewritten; a mismatched call raises
    instead of producing a plausible-looking incompatible bands tier.
    Stores predating the params tier skip validation (``None``)."""
    from lab3_lakehouse_spark import stores

    stored = minhash_store_params(spark, src_root)
    if stored is not None:
        s_num_perm, s_bands, s_seed = stored
        if (num_perm, seed) != (s_num_perm, s_seed):
            raise ValueError(
                f"rebalance params (num_perm={num_perm}, seed={seed}) do "
                f"not match the store's persisted (num_perm={s_num_perm}, "
                f"seed={s_seed}) — re-banding with different permutations "
                "would build an incompatible bands tier"
            )
        if s_bands <= 0 or bands % s_bands != 0:
            raise ValueError(
                f"new band count {bands} is not a multiple of the store's "
                f"persisted {s_bands} — the candidate-superset guarantee "
                "does not hold for non-multiple re-bandings"
            )
    hashes = stores.read_tier(spark, src_root, "hashes").dropDuplicates(
        ["__id"]
    )
    stores.gc_write(
        banded_signatures(hashes, num_perm, bands, seed),
        dst_root,
        "bands",
        cluster_expr=F.col("band"),
        sort_cols=("band", "bh"),
    )
    stores.gc_write(hashes, dst_root, "hashes")
    stores.append_sidecar(  # the NEW banding is the rebanded store's truth
        spark.createDataFrame(
            [(num_perm, bands, seed)], "num_perm int, bands int, seed int"
        ),
        dst_root,
        "params",
    )
