"""Corpus-statistics and scrubbing queries (north-star surface):
Gopher-style repetition filters, PII redaction accounting, vocabulary
heavy hitters, per-label embedding centroids.

Cross-engine determinism notes:

- repetition ratios are exact int/int double divisions → bit-identical,
  no rounding anywhere;
- PII patterns live in the Java-regex / RE2 common subset, so Spark and
  DuckDB agree match-for-match (tests plant known PII and check counts);
- centroid averages are cross-row double sums (shuffle-order-dependent
  in Spark, scan-order in DuckDB) → ``round4`` on both sides, the same
  policy every aggregate query in the catalog uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab3_lakehouse_spark.catalog import fan_out, load_table
from lab3_lakehouse_spark.operators import similarity as sim_ops
from lab3_lakehouse_spark.operators import text as text_ops
from lab3_lakehouse_spark.operators.sketches import sql_hash60
from lab3_lakehouse_spark.queries._util import round4, sql_round4
from lab3_lakehouse_spark.queries.registry import QueryFn, body, query
from lab3_lakehouse_spark.session import tune_session


@query(
    "gopher_repetition_rules",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
        FROM documents
    ), per_tok AS (
        SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ), top AS (
        SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_tokens
        FROM per_tok GROUP BY doc_id
    ), grams AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i + 1]) AS bg,
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS tg
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
    )
    SELECT top.doc_id,
           top.n_tokens,
           top.top_cnt::DOUBLE / top.n_tokens AS top_token_ratio,
           CASE WHEN len(bg) > 0
                THEN (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)
           END AS dup_bigram_fraction,
           CASE WHEN len(tg) > 0
                THEN (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg)
           END AS dup_trigram_fraction
    FROM top JOIN grams ON top.doc_id = grams.doc_id
    """,
)
def gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals in the Gopher/MassiveText
    tradition: most-frequent-token fraction and duplicate 2-/3-gram
    fractions per document. The Spark side is pure per-row Catalyst
    (sort + fold, zero shuffle — operators/text.py:repetition_features);
    the oracle recomputes the same integer counts relationally."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_features(docs).select(
        "doc_id",
        "n_tokens",
        "top_token_ratio",
        "dup_bigram_fraction",
        "dup_trigram_fraction",
    )


#: deterministic PII augmentation shared by the Spark query and the
#: oracle: plants an email in every doc, an IP in even docs, a phone in
#: docs ≡ 0 (mod 5) — so counts vary per row and the redactor does real
#: work the hash-compare can check.
_PII_AUGMENT_SQL = """
    text
    || ' contact user' || CAST(doc_id AS STRING) || '@example.com'
    || CASE WHEN doc_id % 2 = 0
            THEN ' ip 10.0.' || CAST(doc_id % 256 AS STRING) || '.7'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END
"""


@query(
    "pii_redaction_report",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUGMENT_SQL} AS text FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(text,
                '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS BIGINT)
               AS n_ipv4,
           CAST(len(regexp_extract_all(text,
                '\\b[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}\\b')) AS BIGINT)
               AS n_phone,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                       '<EMAIL>', 'g'),
                   '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
                   '<IPV4>', 'g'),
               '\\b[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}\\b',
               '<PHONE>', 'g') AS text_redacted
    FROM aug
    """,
)
def pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with audit accounting (operators/text.py:redact_pii):
    detector regexes in the Java/RE2 common subset replace every match
    and report per-type counts from the original text. The corpus has no
    organic PII, so the query plants deterministic synthetic PII (same
    expression in the oracle) — the redactor's behavior, not the data,
    is what's under test. Zero shuffle: runs in the scan pipeline."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_PII_AUGMENT_SQL).alias("text"))
    return text_ops.redact_pii(aug, "text").select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "text_redacted"
    )


@query(
    "heavy_hitter_tokens",
    oracle="""
    SELECT tok AS token, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 25
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-25 tokens by frequency,
    ties broken lexically (deterministic cross-engine). Shape at scale:
    explode → hash agg (map-side partial combine collapses each
    partition to its vocabulary before the shuffle — token frequency is
    exactly the workload partial aggregation exists for) → TakeOrdered
    on the tiny vocabulary frame; the full token stream is never
    shuffled."""
    tune_session(spark)
    from lab3_lakehouse_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(25)
    )


@query(
    "embedding_label_centroids",
    oracle=f"""
    SELECT label,
           CAST(pos - 1 AS BIGINT)     AS pos,
           {sql_round4('avg(CAST(v AS DOUBLE))')} AS centroid
    FROM (
        SELECT label,
               unnest(embedding) AS v,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, pos,
    centroid) — the class-prototype computation behind semantic dedup
    and clustering QA. One hash aggregation carrying dim=64 doubles of
    partial state per label; see operators/similarity.py:
    grouped_centroids for why this beats posexplode 64-fold."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    cent = sim_ops.grouped_centroids(emb, "label", "embedding", dim=64)
    return cent.select("label", "pos", round4(F.col("centroid")).alias("centroid"))


@query(
    "semantic_dedup_flags",
    oracle="""
    SELECT e.label, e.vec_id, d.dup_of,
           d.dup_of IS NOT NULL AS is_dup
    FROM embeddings e
    LEFT JOIN (
        SELECT b.vec_id AS dup_id, min(a.vec_id) AS dup_of
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.35
        GROUP BY b.vec_id
    ) d ON d.dup_id = e.vec_id
    """,
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embedding corpus: within each label
    cluster, flag vectors whose cosine to a lower-id cluster-mate is
    ≥ 0.35 and record the keeper (operators/similarity.py:
    semantic_dedup). Exact cosine via the JVM fold — bit-identical to
    the oracle's list_cosine_similarity, so the threshold comparison
    cannot diverge cross-engine."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.semantic_dedup(
        emb, "vec_id", "embedding", "label", threshold=0.35
    )


def _semdedup_d2_chain(dim: int) -> str:
    """Oracle twin of kmeans_assign_portable's L2² chain: the SAME
    left-associated sum of per-dimension squared diffs (term order IS
    the cross-engine contract — float addition doesn't reassociate)."""
    return " + ".join(
        f"(e.embedding[{i}]::DOUBLE - s.c[{i}]) * "
        f"(e.embedding[{i}]::DOUBLE - s.c[{i}])"
        for i in range(1, dim + 1)
    )


_SEMDEDUP_K, _SEMDEDUP_DIM, _SEMDEDUP_TAU = 8, 64, 0.35

# Shared oracle CTE chain replaying kmeans_assign_portable exactly
# (seeds = k lowest ids, one round4-pinned Lloyd update, argmin ties →
# lower cid) — consumed by the SemDeDup oracle below AND the IVF
# cell-balance oracle (ivf_cell_balance_report).
_KMEANS_A2_CTES = f"""seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             embedding::DOUBLE[] AS c
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_SEMDEDUP_K})
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_semdedup_d2_chain(_SEMDEDUP_DIM)}, s.cid) AS rn
        FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1
    ),
    cent AS (
      SELECT cid, pos, {sql_round4('avg(v)')} AS cv FROM (
        SELECT a1.cid, unnest(e.embedding::DOUBLE[]) AS v,
               unnest(generate_series(1, {_SEMDEDUP_DIM})) AS pos
        FROM embeddings e JOIN a1 USING (vec_id))
      GROUP BY cid, pos
    ),
    cent_l AS (SELECT cid, list(cv ORDER BY pos) AS c FROM cent GROUP BY cid),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_semdedup_d2_chain(_SEMDEDUP_DIM)}, s.cid) AS rn
        FROM embeddings e CROSS JOIN cent_l s) WHERE rn = 1
    )"""

_SEMDEDUP_ORACLE = f"""
    WITH seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
             embedding::DOUBLE[] AS c
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_SEMDEDUP_K})
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_semdedup_d2_chain(_SEMDEDUP_DIM)}, s.cid) AS rn
        FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1
    ),
    cent AS (
      SELECT cid, pos, {sql_round4('avg(v)')} AS cv FROM (
        SELECT a1.cid, unnest(e.embedding::DOUBLE[]) AS v,
               unnest(generate_series(1, {_SEMDEDUP_DIM})) AS pos
        FROM embeddings e JOIN a1 USING (vec_id))
      GROUP BY cid, pos
    ),
    cent_l AS (SELECT cid, list(cv ORDER BY pos) AS c FROM cent GROUP BY cid),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, s.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_semdedup_d2_chain(_SEMDEDUP_DIM)}, s.cid) AS rn
        FROM embeddings e CROSS JOIN cent_l s) WHERE rn = 1
    ),
    dups AS (
      SELECT b.vec_id AS dup_id, min(a.vec_id) AS dup_of
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                   eb.embedding::DOUBLE[])
            >= CAST({_SEMDEDUP_TAU} AS DOUBLE)
      GROUP BY b.vec_id
    )
    SELECT a2.cid AS cluster, a2.vec_id, d.dup_of,
           d.dup_of IS NOT NULL AS is_dup
    FROM a2 LEFT JOIN dups d ON d.dup_id = a2.vec_id
"""


@query("semantic_dedup_clustered", oracle=_SEMDEDUP_ORACLE)
def semantic_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023, re-derived): k-means-cluster
    the embedding corpus, then flag near-duplicates ONLY within
    clusters — the variant that runs at corpus scale because the
    quadratic pair term is bounded per cell (grow k with n and cell
    size stays constant) and because no label column is required (the
    LSH-bucketed `semantic_dedup_flags` blocks on labels; real corpora
    rarely have them). Clustering is
    operators/similarity.kmeans_assign_portable — seeds = k lowest-id
    vectors, one 4-decimal-pinned Lloyd update, argmin ties toward the
    lower cluster id — deliberately a pure function of the id-ordered
    data so the DuckDB oracle replays the IDENTICAL clustering and the
    flagged set is fully differential-checked (not a rows-only
    contract). Keep-lowest-id inside a cell, exact JVM-fold cosine
    (bit-identical to list_cosine_similarity) for the τ comparison.

    Scale-vs-oracle pairing: the fixed k=8 (_SEMDEDUP_K) here is the
    ORACLE-REPLAY twin (DuckDB must reproduce the clustering exactly);
    in production k grows with n (k = n/250, bounded ~250-vector cells,
    in-cell pairs constant per cell) — that configuration lives in the
    same operator and is what scripts/scale_check.py --semdedup-only
    measures (x30 α 0.31). Same pattern as the ANN recall contracts."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # the pair stage consumes the assignment THREE times (both join
    # sides + the flag join-back); checkpoint it once — this is the
    # query-sized stand-in for materializing the cell assignment next
    # to the corpus tier, which is what a real SemDeDup deployment does
    # (ivf_build docstring) before the pairwise prune
    assigned = sim_ops.kmeans_assign_portable(
        emb, "vec_id", "embedding", dim=_SEMDEDUP_DIM, k=_SEMDEDUP_K
    ).localCheckpoint(eager=False)
    return sim_ops.semantic_dedup(
        assigned, "vec_id", "embedding", "cluster", threshold=_SEMDEDUP_TAU
    )


_IVF_BALANCE_ORACLE = f"""
    WITH {_KMEANS_A2_CTES},
    sizes AS (
        SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n_vectors
        FROM a2 GROUP BY cid
    ),
    tot AS (SELECT CAST(sum(n_vectors) AS DOUBLE) AS n FROM sizes)
    SELECT cell, n_vectors,
           {sql_round4('n_vectors / tot.n')} AS share,
           {sql_round4(f'n_vectors * {_SEMDEDUP_K}.0 / tot.n')}
               AS load_factor
    FROM sizes CROSS JOIN tot
"""


@query("ivf_cell_balance_report", oracle=_IVF_BALANCE_ORACLE)
def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index HEALTH check: per-cell occupancy of the IVF routing
    clusters (the same portable k-means assignment the SemDeDup and
    IVF/IVF-PQ paths route through), with each cell's corpus share and
    its load factor vs the uniform ideal (n_vectors·k/N — 1.0 means
    perfectly balanced). The IVF probe's cost model assumes cells hold
    ~N/k vectors; a hot cell (load_factor ≫ 1) makes every query that
    routes there scan a corpus-sized candidate list — the ANN
    equivalent of join-key skew, and exactly what an operator watches
    before deciding to re-train or split cells. Same oracle-replay twin
    pattern as semantic_dedup_clustered (k=8 pinned so DuckDB
    reproduces the identical clustering; production re-checks balance
    at its own k = n/250).

    Plan: the assignment is map-side (centroid literals ride the scan
    as HOF folds), then ONE grouped count to a ≤ k-row frame — the
    report costs one corpus scan at any size."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = sim_ops.kmeans_assign_portable(
        emb, "vec_id", "embedding", dim=_SEMDEDUP_DIM, k=_SEMDEDUP_K
    )
    sizes = assigned.groupBy(F.col("cluster").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = sizes.agg(F.sum("n_vectors").cast("double").alias("__n"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        round4(F.col("n_vectors") / F.col("__n")).alias("share"),
        round4(
            F.col("n_vectors") * F.lit(float(_SEMDEDUP_K)) / F.col("__n")
        ).alias("load_factor"),
    )


_MATRYOSHKA_QUERIES, _MATRYOSHKA_K = 8, 5


def _matryoshka_ranked(dims: int | None) -> str:
    sl = f"[1:{dims}]" if dims else ""
    cos = (
        f"list_cosine_similarity(q.embedding{sl}::DOUBLE[], "
        f"c.embedding{sl}::DOUBLE[])"
    )
    return f"""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {cos} DESC, c.vec_id) AS BIGINT) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_MATRYOSHKA_QUERIES}
        QUALIFY rank <= {_MATRYOSHKA_K}
    """


def _sq_norm(expr: str) -> str:
    # left fold, same bracketing as Spark's F.aggregate(…, 0.0, +)
    return (
        f"list_reduce(list_transform(({expr})::DOUBLE[], x -> x * x), "
        f"(a, b) -> a + b)"
    )


_NORM_AUDIT_ORACLE = f"""
    WITH norms AS (
        SELECT vec_id,
               {sql_round4(f'sqrt({_sq_norm("embedding")})')} AS l2_norm
        FROM embeddings
    ),
    stats AS (
        SELECT avg(l2_norm) AS mu, stddev_pop(l2_norm) AS sigma FROM norms
    )
    SELECT n.vec_id, n.l2_norm,
           {sql_round4('''CASE WHEN s.sigma = 0 THEN 0.0
                ELSE (n.l2_norm - s.mu) / s.sigma END''')} AS z_score,
           CASE WHEN s.sigma = 0 THEN false
                ELSE abs((n.l2_norm - s.mu) / s.sigma) > 3.0 END
               AS is_anomalous,
           n.l2_norm < 1e-6 AS is_degenerate
    FROM norms n CROSS JOIN stats s
"""


@query("embedding_norm_audit", oracle=_NORM_AUDIT_ORACLE)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tier data quality gate: per-vector L2 norm with
    population z-score and anomaly/degeneracy flags — the audit that
    runs BEFORE any cosine-based operator ships, because near-zero
    vectors make cosine undefined (silent NaN ranks) and extreme norms
    usually mean a failed embedding batch or un-normalized mixed
    checkpoints. Norm = sqrt of the exact JVM left-fold of squares
    (bit-identical to the oracle's list_reduce chain), round4-PINNED
    before the stats so both engines z-score the identical values
    (the round4-before-rank discipline applied to a threshold).

    Plan: one embedding scan computes norms map-side; mean/stddev are
    a 1-row aggregate broadcast back — no corpus-sized exchange
    beyond the scan's own aggregate."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    sq = F.aggregate(
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    norms = emb.select(
        "vec_id", round4(F.sqrt(sq)).alias("l2_norm")
    ).localCheckpoint(eager=False)  # feeds stats AND the output join
    stats = norms.agg(
        F.avg("l2_norm").alias("__mu"),
        F.stddev_pop("l2_norm").alias("__sigma"),
    )
    # σ = 0 (a perfectly normalized tier — the healthy case) must not
    # divide: z-score 0, nothing anomalous, in BOTH engines
    zero_sigma = F.col("__sigma") == F.lit(0.0)
    z = F.when(zero_sigma, F.lit(0.0)).otherwise(
        (F.col("l2_norm") - F.col("__mu")) / F.col("__sigma")
    )
    return norms.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "l2_norm",
        round4(z).alias("z_score"),
        F.when(zero_sigma, F.lit(False))
        .otherwise(F.abs(z) > F.lit(3.0))
        .alias("is_anomalous"),
        (F.col("l2_norm") < F.lit(1e-6)).alias("is_degenerate"),
    )


_MATRYOSHKA_ORACLE = f"""
    WITH full_rank AS ({_matryoshka_ranked(None)}),
    r16 AS ({_matryoshka_ranked(16)}),
    r32 AS ({_matryoshka_ranked(32)}),
    ov AS (
        SELECT f.query_id,
               CAST(count(r16.neighbor_id) AS BIGINT) AS overlap_16,
               CAST(count(r32.neighbor_id) AS BIGINT) AS overlap_32
        FROM full_rank f
        LEFT JOIN r16 USING (query_id, neighbor_id)
        LEFT JOIN r32 USING (query_id, neighbor_id)
        GROUP BY f.query_id
    )
    SELECT ov.query_id, ov.overlap_16, ov.overlap_32,
           {sql_round4(_sq_norm('e.embedding[1:16]') + ' / '
                       + _sq_norm('e.embedding'))} AS norm_frac_16,
           {sql_round4(_sq_norm('e.embedding[1:32]') + ' / '
                       + _sq_norm('e.embedding'))} AS norm_frac_32
    FROM ov JOIN embeddings e ON e.vec_id = ov.query_id
"""


@query("matryoshka_truncation_audit", oracle=_MATRYOSHKA_ORACLE)
def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022,
    re-derived): can the 64-dim embedding column be served at 16/32
    dims? Per query: how many of the exact top-5 neighbors survive
    when BOTH sides are truncated (overlap@5 under prefix-sliced
    cosine), plus the query's retained squared-norm fraction at each
    width — the two numbers that decide a cheap-retrieval rollout.
    Rankings use the engine's left-fold HOF cosine over F.slice
    prefixes (bit-identical to the oracle's sliced
    list_cosine_similarity); norm fractions are left-fold sums of
    squares, round4-pinned. Plan: three broadcast-queries × one-scan
    ranked frames, two broadcast-size overlap joins — the corpus is
    scanned, never shuffled."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MATRYOSHKA_QUERIES)

    def topk(dims: int | None) -> DataFrame:
        if dims is None:
            e2, q2 = emb, q
        else:
            sl = F.slice(F.col("embedding"), 1, dims).alias("embedding")
            e2 = emb.select("vec_id", sl)
            q2 = q.select("vec_id", sl)
        return sim_ops.brute_force_topk(
            e2, q2, "vec_id", "embedding", k=_MATRYOSHKA_K
        ).select("query_id", "neighbor_id")

    full = topk(None)
    ov = (
        full.join(
            topk(16).withColumn("__h16", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .join(
            topk(32).withColumn("__h32", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("__h16").alias("overlap_16"),
            F.count("__h32").alias("overlap_32"),
        )
    )
    sq = lambda c: F.aggregate(
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    v = F.col("embedding").cast("array<double>")
    norms = q.select(
        F.col("vec_id").alias("query_id"),
        round4(sq(F.slice(v, 1, 16)) / sq(v)).alias("norm_frac_16"),
        round4(sq(F.slice(v, 1, 32)) / sq(v)).alias("norm_frac_32"),
    )
    return ov.join(F.broadcast(norms), "query_id").select(
        "query_id", "overlap_16", "overlap_32", "norm_frac_16", "norm_frac_32"
    )


#: DSIR pseudo-target domain: a fixed source slice standing in for
#: "the high-quality corpus" (Wikipedia/books in the paper).
_DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_DSIR_BUCKETS, _DSIR_SEED, _DSIR_TOPN = 1024, 17, 100

_DSIR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(text), '\\s+') AS t
      FROM documents
    ),
    bk AS (
      SELECT doc_id, source IN {_DSIR_TARGET_SOURCES} AS tgt,
             {sql_hash60("g", _DSIR_SEED)} % {_DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS g
        FROM toks)
    ),
    docb AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY doc_id, b),
    rawb AS (SELECT b, count(*) AS cr FROM bk GROUP BY b),
    tgtb AS (SELECT b, count(*) AS ct FROM bk WHERE tgt GROUP BY b),
    nr AS (SELECT count(*)::DOUBLE AS n FROM bk),
    nt AS (SELECT count(*)::DOUBLE AS n FROM bk WHERE tgt),
    ratio AS (
      SELECT r.b,
             ln((COALESCE(t.ct, 0) + 1.0) / (nt.n + {_DSIR_BUCKETS}.0))
           - ln((r.cr + 1.0) / (nr.n + {_DSIR_BUCKETS}.0)) AS lr
      FROM rawb r LEFT JOIN tgtb t USING (b) CROSS JOIN nr CROSS JOIN nt
    ),
    w AS (
      SELECT d.doc_id,
             CAST(sum(d.c) AS BIGINT) AS n_grams,
             {sql_round4('sum(d.c * ratio.lr)')} AS log_weight
      FROM docb d JOIN ratio USING (b) GROUP BY d.doc_id
    )
    SELECT doc_id, n_grams, log_weight,
           CAST(row_number() OVER (ORDER BY log_weight DESC, doc_id)
                AS BIGINT) AS rank
    FROM w
    QUALIFY rank <= {_DSIR_TOPN}
"""


@query("dsir_target_selection", oracle=_DSIR_ORACLE)
def dsir_target_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-bigram importance
    weights of every document against a target domain (here the
    src0–src3 slice), top-100 selected. The weight is the log ratio of
    add-1-smoothed hashed-ngram multinomials — the classifier-free
    domain-steering score production corpora use before pretraining.
    operators/text.dsir_log_weights does the scoring (one corpus scan,
    one keyed shuffle, ≤1024-row broadcast bucket tables); the
    selection is round4-BEFORE-rank (the catalog float-rank rule) with
    the doc_id tie-break, TakeOrdered + a bounded re-rank window — no
    global sort at any corpus size."""
    tune_session(spark)
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = text_ops.dsir_log_weights(
        docs,
        "doc_id",
        "text",
        F.col("source").isin(*_DSIR_TARGET_SOURCES),
        buckets=_DSIR_BUCKETS,
        seed=_DSIR_SEED,
    ).select("doc_id", "n_grams", round4(F.col("log_weight")).alias("log_weight"))
    top = w.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc()).limit(
        _DSIR_TOPN
    )
    # the re-rank window runs on the ≤ top-n TakeOrdered result — a
    # bounded frame, so the unpartitioned window is not a scale hazard
    wn = Window.orderBy(F.col("log_weight").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "n_grams",
        "log_weight",
        F.row_number().over(wn).cast("long").alias("rank"),
    )


@query(
    "embedding_quantization_report",
    oracle=f"""
    WITH scaled AS (
        SELECT vec_id,
               embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           {sql_round4('scale')} AS scale,
           CAST(len(list_filter(v,
               x -> abs(round(x / scale)) >= 127)) AS BIGINT) AS n_sat,
           {sql_round4(
               "list_sum(list_transform(v,"
               " x -> (x - round(x / scale) * scale)"
               "    * (x - round(x / scale) * scale))) / len(v)"
           )} AS recon_mse
    FROM scaled
    """,
)
def embedding_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit (functions/vector.py:quantize_int8):
    per-vector scale, saturated-code count, and reconstruction MSE of
    the symmetric int8 encoding — the go/no-go report before swapping a
    float32 vector store for int8 at 4× the density. Pure scan-side
    Catalyst (fold/transform inside codegen, zero shuffle)."""
    tune_session(spark)
    from lab3_lakehouse_spark.functions import vector as vec

    emb = load_table(spark, sf_dir, "embeddings")
    q = vec.quantize_int8("embedding")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("__v"),
        q.alias("__q"),
    )
    sq_err = F.zip_with(
        vec.dequantize(F.col("__q")),
        F.col("__v"),
        lambda d, x: (x - d) * (x - d),
    )
    return base.select(
        "vec_id",
        round4(F.col("__q")["scale"]).alias("scale"),
        F.size(
            F.filter(F.col("__q")["q"], lambda c: F.abs(c) >= 127)
        ).cast("long").alias("n_sat"),
        round4(
            F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
            / F.size(F.col("__v"))
        ).alias("recon_mse"),
    )


@query(
    "fuzzy_part_name_matches",
    oracle="""
    SELECT a.p_brand AS brand,
           a.p_partkey AS key_a,
           b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage on part names: Levenshtein ≤ 3 within a
    brand block (operators/dedup.py:edit_distance_pairs). Both engines
    implement classic unweighted edit distance, so the integer
    distances agree exactly."""
    tune_session(spark)
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    part = load_table(spark, sf_dir, "part")
    return (
        dedup_ops.edit_distance_pairs(
            part, "p_partkey", "p_name", "p_brand", max_dist=3
        )
        .withColumnsRenamed(
            {"p_brand": "brand", "id_a": "key_a", "id_b": "key_b"}
        )
    )


@query(
    "impute_event_values",
    oracle=f"""
    WITH masked AS (
        SELECT user_id, event_type, ts,
               CASE WHEN user_id % 7 = 0 THEN NULL ELSE value END AS value
        FROM events
    ), means AS (
        SELECT event_type, avg(value) AS grp_mean
        FROM masked GROUP BY event_type
    )
    SELECT m.user_id, m.event_type, m.ts,
           {sql_round4('coalesce(m.value, mm.grp_mean)')} AS value_imputed,
           m.value IS NULL AS was_imputed
    FROM masked m JOIN means mm USING (event_type)
    """,
)
def impute_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-imputation with per-group means (operators/quality.py:
    impute_group_mean). The corpus has no organic NULLs, so the query
    masks a deterministic slice (user_id ≡ 0 mod 7) NULL first — the
    imputer's behavior is what's under test. Group means re-attach via
    a tiny AQE-broadcast join, NOT a full-table window shuffle."""
    tune_session(spark)
    from lab3_lakehouse_spark.operators.quality import impute_group_mean

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        F.when(F.col("user_id") % 7 != 0, F.col("value")).alias("value"),
    )
    out = impute_group_mean(ev, "value", ["event_type"])
    return out.select(
        "user_id",
        "event_type",
        "ts",
        round4(F.col("value_imputed")).alias("value_imputed"),
        "was_imputed",
    )


@query(
    "chunk_documents_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(toks[i*16+1 : i*16+32], ' ') AS chunk,
           CAST(len(toks[i*16+1 : i*16+32]) AS BIGINT) AS n_chunk_tokens
    FROM t, unnest(generate_series(0,
        greatest(CAST(ceil((len(toks) - 32) / 16.0) AS BIGINT), 0))) AS u(i)
    """,
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for embedding pipelines
    (operators/text.py:chunk_token_windows): 32-token windows, stride
    16 (50% overlap), short docs → one whole-doc chunk. Spark's
    1-based `slice(start, length)` and DuckDB's inclusive list slicing
    clamp identically at the document end, so chunks agree verbatim."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.chunk_token_windows(
        docs, "text", n_tokens=32, stride=16
    ).select("doc_id", "chunk_idx", "chunk", "n_chunk_tokens")


@query(
    "interval_overlap_view_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, ts AS v_ts, ts + INTERVAL 1800 SECOND AS v_end
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, ts AS p_ts, ts + INTERVAL 1800 SECOND AS p_end
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.v_ts, p.p_ts,
           epoch_us(least(v.v_end, p.p_end))
              - epoch_us(greatest(v.v_ts, p.p_ts)) AS overlap_us
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND v.v_ts <= p.p_end AND p.p_ts <= v.v_end
    """,
)
def interval_overlap_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval–interval overlap join (operators/joins.py:
    interval_overlap_join): 30-minute view windows × 30-minute purchase
    windows per user, overlap length in exact integer MICROSECONDS
    (event timestamps carry fractional seconds; second-truncating
    arithmetic rounds differently across engines, `unix_micros` /
    `epoch_us` are exact on both). The Spark plan is a binned
    equi-join (bucket fan-out ≤ 2, pair emitted once from the
    overlap-start bucket) — the oracle states the same relation as a
    direct inequality join, which DuckDB can afford at driver scale."""
    tune_session(spark)
    from lab3_lakehouse_spark.operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    mk = lambda t, pre: (
        ev.filter(F.col("event_type") == t).select(
            "user_id",
            F.col("ts").alias(f"{pre}_ts"),
            (F.col("ts") + F.expr("INTERVAL 1800 SECONDS")).alias(f"{pre}_end"),
        )
    )
    joined = interval_overlap_join(
        mk("view", "v"), mk("purchase", "p"),
        keys=["user_id"],
        a_start="v_ts", a_end="v_end", b_start="p_ts", b_end="p_end",
        bin_seconds=3600,
    )
    return joined.select(
        "user_id",
        "v_ts",
        "p_ts",
        (
            F.unix_micros(F.least("v_end", "p_end"))
            - F.unix_micros(F.greatest("v_ts", "p_ts"))
        ).cast("long").alias("overlap_us"),
    )


# ------------------------------------------------- composed gate ----

#: corpus_quality_gate thresholds — module constants so the Spark
#: flags and the oracle SQL are generated from the same literals.
_GATE_TOP_TOKEN_MAX = 0.2     # Gopher-style most-frequent-token cap
_GATE_DUP_NGRAM_MAX = 0.1     # duplicate 2-/3-gram fraction cap
_GATE_RARE_FRAC_MAX = 0.2     # mojibake/OCR-garbage cap
_GATE_SURPRISAL_MIN = 4.89    # boilerplate floor (bits/token)
_GATE_SURPRISAL_MAX = 5.2     # word-soup ceiling (bits/token)

_GATE_LN2 = "0.6931471805599453"  # pinned literal (parity convention)


def _quality_gate_oracle() -> str:
    from lab3_lakehouse_spark.queries.llmdata import _LANG_CASE, _LANG_SCORES

    d = "CAST({} AS DOUBLE)"
    ttr_max = d.format(_GATE_TOP_TOKEN_MAX)
    dup_max = d.format(_GATE_DUP_NGRAM_MAX)
    rare_max = d.format(_GATE_RARE_FRAC_MAX)
    s_min = d.format(_GATE_SURPRISAL_MIN)
    s_max = d.format(_GATE_SURPRISAL_MAX)
    pass_rep = (
        f"top.top_cnt::DOUBLE / top.n_tokens <= {ttr_max}"
        " AND coalesce((len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)"
        f" <= {dup_max}, true)"
        " AND coalesce((len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg)"
        f" <= {dup_max}, true)"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
    ),
    corpus AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM corpus),
    tokstats AS (
        SELECT doc_id,
               {sql_round4("count(CASE WHEN cnt <= 2 THEN 1 END)::DOUBLE / count(*)")}
                   AS rare_frac,
               {sql_round4(f"avg(-ln(cnt::DOUBLE / tot.t) / {_GATE_LN2})")}
                   AS mean_surprisal_bits
        FROM toks JOIN corpus USING (token) CROSS JOIN tot
        GROUP BY doc_id
    ),
    per_tok AS (
        SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token
    ),
    top AS (
        SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_tokens
        FROM per_tok GROUP BY doc_id
    ),
    grams AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i + 1]) AS bg,
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS tg
        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
              FROM documents)
    ),
    lang AS (
        SELECT doc_id, {_LANG_CASE} AS lang_pred
        FROM (
            SELECT doc_id, lang, text,
                   {", ".join(f"{sql} AS s_{lg}" for lg, sql in _LANG_SCORES.items())}
            FROM documents
        ) s
    ),
    flags AS (
        SELECT top.doc_id,
               top.n_tokens,
               top.top_cnt::DOUBLE / top.n_tokens AS top_token_ratio,
               CASE WHEN len(bg) > 0
                    THEN (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)
               END AS dup_bigram_fraction,
               CASE WHEN len(tg) > 0
                    THEN (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg)
               END AS dup_trigram_fraction,
               ts.rare_frac,
               ts.mean_surprisal_bits,
               lang.lang_pred,
               ({pass_rep}) AS pass_repetition,
               ts.rare_frac <= {rare_max} AS pass_rare,
               (ts.mean_surprisal_bits >= {s_min}
                AND ts.mean_surprisal_bits <= {s_max}) AS pass_surprisal,
               lang.lang_pred <> 'und' AS pass_lang
        FROM top
        JOIN grams ON grams.doc_id = top.doc_id
        JOIN tokstats ts ON ts.doc_id = top.doc_id
        JOIN lang ON lang.doc_id = top.doc_id
    )
    SELECT doc_id, n_tokens, top_token_ratio,
           dup_bigram_fraction, dup_trigram_fraction,
           rare_frac, mean_surprisal_bits, lang_pred,
           pass_repetition, pass_rare, pass_surprisal, pass_lang,
           (pass_repetition AND pass_rare AND pass_surprisal AND pass_lang)
               AS keep
    FROM flags
    """


@query("corpus_quality_gate", oracle=_quality_gate_oracle())
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed document-quality gate — the real shape of a
    C4/Gopher-style pipeline stage: repetition rules + rare-token
    (mojibake) screen + unigram-surprisal band + language-ID
    ("identifiable language" — the C4 keep-rule; the 3-marker heuristic
    cannot reproduce the synthetic labels, so label-match would reject
    most of the corpus), evaluated
    together with PER-RULE pass flags so rejection is attributable
    (which rule killed a doc is the number corpus curators actually
    tune), plus the conjunctive ``keep``.

    One-pass discipline (the plan property a per-rule re-scan would
    break): the corpus is read exactly TWICE — one scan computes every
    per-row signal fused (repetition ratios + language scores, pure
    Catalyst expressions), one scan feeds the shared token explode that
    serves BOTH corpus-frequency rules (rare-token counts and the
    surprisal model come out of the same toks ⋈ vocab join and the
    same per-doc aggregation). Running the four per-rule catalog
    queries separately costs 5 scans and two independent token
    shuffles; the gate's token shuffle also stays skinny (doc_id +
    token only) because the per-row signals ride their own scan
    instead of being dragged through the explode. Unified on ONE
    tokenization (lowercased whitespace — the rare-token convention),
    so the surprisal band here is over the lowercased unigram model;
    deliberately NOT the case-sensitive model of
    unigram_surprisal_scores, documented difference.

    Thresholds are module constants shared with the oracle generator.
    Flags compare EXACT int/int divisions (repetition, rare) or the
    round4-ed surprisal — every compared quantity is bit-identical
    cross-engine, so a boundary doc cannot flip its flag on one side
    only.
    """
    from lab3_lakehouse_spark.catalog import fan_out
    from lab3_lakehouse_spark.operators.dedup import tokens

    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))

    # scan 1: per-row signals, fused
    scal = text_ops.repetition_features(docs.select("doc_id", "text"))
    scal = scal.select(
        "doc_id",
        "n_tokens",
        "top_token_ratio",
        "dup_bigram_fraction",
        "dup_trigram_fraction",
        text_ops.lang_id_heuristic(F.col("text")).alias("lang_pred"),
    )

    # scan 2: shared token pipeline for both corpus-frequency rules
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).localCheckpoint(eager=False)
    corpus = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = corpus.agg(F.sum("cnt").cast("double").alias("t"))
    ln2 = float(_GATE_LN2)
    tokstats = (
        toks.join(corpus, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            round4(
                F.count(F.when(F.col("cnt") <= 2, 1)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("rare_frac"),
            round4(
                F.avg(-F.log(F.col("cnt").cast("double") / F.col("t")) / F.lit(ln2))
            ).alias("mean_surprisal_bits"),
        )
    )

    j = scal.join(tokstats, "doc_id")
    pass_rep = (
        (F.col("top_token_ratio") <= F.lit(_GATE_TOP_TOKEN_MAX))
        & F.coalesce(
            F.col("dup_bigram_fraction") <= F.lit(_GATE_DUP_NGRAM_MAX), F.lit(True)
        )
        & F.coalesce(
            F.col("dup_trigram_fraction") <= F.lit(_GATE_DUP_NGRAM_MAX), F.lit(True)
        )
    )
    pass_rare = F.col("rare_frac") <= F.lit(_GATE_RARE_FRAC_MAX)
    pass_surp = (F.col("mean_surprisal_bits") >= F.lit(_GATE_SURPRISAL_MIN)) & (
        F.col("mean_surprisal_bits") <= F.lit(_GATE_SURPRISAL_MAX)
    )
    pass_lang = F.col("lang_pred") != F.lit("und")
    return j.select(
        "doc_id",
        "n_tokens",
        "top_token_ratio",
        "dup_bigram_fraction",
        "dup_trigram_fraction",
        "rare_frac",
        "mean_surprisal_bits",
        "lang_pred",
        pass_rep.alias("pass_repetition"),
        pass_rare.alias("pass_rare"),
        pass_surp.alias("pass_surprisal"),
        pass_lang.alias("pass_lang"),
        (pass_rep & pass_rare & pass_surp & pass_lang).alias("keep"),
    )


# ------------------------------- token-budget epoch allocation ----

#: repetition cap: no source's data is seen more than E_MAX times
#: (Muennighoff et al. 2023, "Scaling Data-Constrained Language
#: Models": repeated epochs decay in value; pipelines cap them).
_EPOCH_CAP = 2
#: training token budget as a fraction of the corpus: 9/5 of the
#: unique tokens (exact integer 9·T div 5 — data-derived so the capped
#: branch of the waterfill stays exercised at every scale factor).
_BUDGET_NUM, _BUDGET_DEN = 9, 5

#: the waterfill's CTE chain from ``tot`` through ``alloc`` — shared
#: verbatim between the raw allocation oracle and the dedup-discounted
#: variant (both define their own ``tok(source, n_tokens)`` CTE and
#: final SELECT). Kept as one string so the two oracles cannot drift.
_WATERFILL_SQL_TAIL = f"""
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_src,
               CAST(({_BUDGET_NUM} * sum(n_tokens)) // {_BUDGET_DEN}
                    AS BIGINT) AS budget
        FROM tok
    ), ordered AS (
        SELECT t.source, t.n_tokens,
               {_EPOCH_CAP} * t.n_tokens AS cap_tokens,
               row_number() OVER w AS j,
               coalesce(sum({_EPOCH_CAP} * t.n_tokens) OVER (
                   ORDER BY {_EPOCH_CAP} * t.n_tokens, t.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_prev
        FROM tok t
        WINDOW w AS (ORDER BY {_EPOCH_CAP} * t.n_tokens, t.source)
    ), pref AS (
        SELECT o.*, x.n_src, x.budget,
               min(CASE WHEN o.cap_tokens * (x.n_src - (o.j - 1))
                             <= x.budget - o.c_prev
                        THEN 1 ELSE 0 END) OVER (
                   ORDER BY o.j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS is_capped
        FROM ordered o CROSS JOIN tot x
    ), stats AS (
        SELECT CAST(sum(is_capped) AS BIGINT) AS k_star,
               CAST(coalesce(sum(CASE WHEN is_capped = 1
                                      THEN cap_tokens END), 0)
                    AS BIGINT) AS c_star
        FROM pref
    ), lvl AS (
        SELECT CASE WHEN p.k_star = p.n_src THEN 0.0
                    ELSE {sql_round4('(p.budget - p.c_star)::DOUBLE'
                                     ' / (p.n_src - p.k_star)')}
               END AS t_star
        FROM (SELECT DISTINCT n_src, budget, k_star, c_star
              FROM pref CROSS JOIN stats) p
    ), alloc AS (
        SELECT p.source, p.n_tokens, p.cap_tokens, p.budget,
               p.is_capped = 1 AS capped,
               CASE WHEN p.is_capped = 1
                    THEN {sql_round4('p.cap_tokens::DOUBLE')}
                    ELSE l.t_star END AS alloc_tokens
        FROM pref p CROSS JOIN lvl l
    )
"""

_EPOCH_ALLOC_ORACLE = f"""
    WITH tok AS (
        SELECT source,
               CAST(sum(len(regexp_split_to_array(text, '\\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), {_WATERFILL_SQL_TAIL}
    SELECT source, n_tokens, cap_tokens, budget, capped, alloc_tokens,
           {sql_round4('alloc_tokens / n_tokens')} AS epochs
    FROM alloc
"""


@query("token_budget_epoch_allocation", oracle=_EPOCH_ALLOC_ORACLE)
def token_budget_epoch_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Allocate a fixed training-token budget across sources under a
    repetition cap — the data-constrained-scaling allocation step
    (Muennighoff et al. 2023) that turns per-source token counts into
    an epoch schedule: every source gets an equal share of the budget
    (uniform mixing) EXCEPT that no source may be repeated more than
    ``_EPOCH_CAP`` epochs, and the budget a capped source can't absorb
    waterfills to the uncapped ones.

    The waterfill is solved in closed form, not iteratively: sort
    sources by cap ascending; a prefix of that order is capped, and row
    ``j`` is capped iff ``cap_j · (remaining sources) ≤ remaining
    budget`` — evaluated with FULL prefix sums and made self-consistent
    by the prefix-AND (``min`` of the indicator over the prefix), the
    classic single-scan waterfilling argument. Everything up to the
    final water level is exact 64-bit integer arithmetic (uniform
    weights make the weight sums integers), so both engines agree
    bit-for-bit on WHICH sources cap; the water level and epochs are
    the only floats, round4-pinned at the reuse points.

    Scale shape: one grouped token-count pass over the corpus (the only
    data-sized stage, map-side combinable), then windows over the
    ≤|sources| bounded frame with 1-row broadcast totals — the
    two-phase discipline every bounded-frame op in the catalog uses.
    At 100 TB the allocation itself is metadata work; generalizing to
    non-uniform mixing weights swaps the integer `(n_src - j + 1)`
    factor for a prefix-summed weight column (same plan shape)."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(text_ops.token_count("text")).cast("long").alias("n_tokens")
    )
    alloc = _waterfill_frame(tok)
    return alloc.select(
        "source",
        "n_tokens",
        "cap_tokens",
        "budget",
        "capped",
        "alloc_tokens",
        round4(F.col("alloc_tokens") / F.col("n_tokens")).alias("epochs"),
    )


def _waterfill_frame(tok: DataFrame) -> DataFrame:
    """The closed-form capped waterfill over a ``(source, n_tokens)``
    frame → ``(source, n_tokens, cap_tokens, budget, capped,
    alloc_tokens)`` — shared by :func:`token_budget_epoch_allocation`
    (raw token counts) and :func:`dedup_discounted_token_budget`
    (counts after near-dup canonicalization); the SQL twin is shared
    the same way (``_WATERFILL_SQL_TAIL``)."""
    from pyspark.sql import Window

    tot = tok.agg(
        F.count(F.lit(1)).cast("long").alias("n_src"),
        F.expr(
            f"CAST(({_BUDGET_NUM} * sum(n_tokens)) div {_BUDGET_DEN} "
            "AS BIGINT)"
        ).alias("budget"),
    )
    w = Window.orderBy("cap_tokens", "source")  # bounded: ≤ |sources|
    ordered = (
        tok.select(
            "source",
            "n_tokens",
            (F.col("n_tokens") * _EPOCH_CAP).alias("cap_tokens"),
        )
        .withColumn("j", F.row_number().over(w))
        .withColumn(
            "c_prev",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .crossJoin(F.broadcast(tot))
    )
    wj = Window.orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = ordered.withColumn(
        "is_capped",
        F.min(
            F.when(
                F.col("cap_tokens") * (F.col("n_src") - (F.col("j") - 1))
                <= F.col("budget") - F.col("c_prev"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(wj),
    )
    stats = pref.agg(
        F.sum("is_capped").cast("long").alias("k_star"),
        F.coalesce(
            F.sum(F.when(F.col("is_capped") == 1, F.col("cap_tokens"))),
            F.lit(0),
        )
        .cast("long")
        .alias("c_star"),
    )
    lvl = (
        pref.select("n_src", "budget")
        .limit(1)
        .crossJoin(F.broadcast(stats))
        .select(
            F.when(F.col("k_star") == F.col("n_src"), F.lit(0.0))
            .otherwise(
                round4(
                    (F.col("budget") - F.col("c_star")).cast("double")
                    / (F.col("n_src") - F.col("k_star"))
                )
            )
            .alias("t_star")
        )
    )
    return pref.crossJoin(F.broadcast(lvl)).select(
        "source",
        "n_tokens",
        "cap_tokens",
        "budget",
        (F.col("is_capped") == 1).alias("capped"),
        F.when(
            F.col("is_capped") == 1,
            round4(F.col("cap_tokens").cast("double")),
        )
        .otherwise(F.col("t_star"))
        .alias("alloc_tokens"),
    )


# ------------------------------------ persisted uniform sample ----

_SAMPLE_K = 50
_SAMPLE_SEED = 131

_SAMPLE_STORE_ORACLE = f"""
    SELECT d.doc_id,
           {sql_hash60('d.doc_id', _SAMPLE_SEED)} AS h,
           d.source,
           CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    ORDER BY h, d.doc_id
    LIMIT {_SAMPLE_K}
"""


@query("uniform_sample_store", oracle=_SAMPLE_STORE_ORACLE)
def uniform_sample_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintainable uniform sample as a persisted STORE (the ``sample``
    family of the stores.py lifecycle): ingest the corpus in three
    batches, each appending only its bottom-k ids by the portable hash
    (cost ∝ the batch, the store is never read), then draw the exact
    global without-replacement k-sample from the batches·k stored rows
    — the bottom-k sketch (Cohen & Kaplan 2007) used as an always-fresh
    sample instead of a cardinality estimator. The draw is DETERMINISTIC
    in the appended id set (hash order), so the oracle is plain
    ``ORDER BY hash LIMIT k`` over the same corpus: the cross-engine
    gate verifies the merge-of-bottom-ks IS the global bottom-k under
    a real multi-batch append history.

    The entry also runs the family's GC leg (sample_store_compact to a
    new root — the fold IS the draw) and pins draw equality in-plan via
    an inner-join cardinality check column.

    Scale shape at 100 TB: each append is one hash scan of the batch
    plus a per-partition top-k merge (TakeOrderedAndProject, no global
    sort); the draw and GC read batches·k rows — metadata at any
    corpus age. Replay-idempotent by construction (deterministic rows,
    id-dedup on read), so the streaming writer
    (streaming/ingest.stream_sample_append) needs no batch_id
    accounting."""
    import shutil

    from lab3_lakehouse_spark.operators import sampling
    from lab3_lakehouse_spark.queries._util import scratch_dir

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    store = scratch_dir("sample_store_")
    gc_root = scratch_dir("sample_store_gc_")
    try:
        for part in range(3):
            sampling.sample_store_append(
                store,
                docs.filter(F.col("doc_id") % 3 == part),
                "doc_id",
                k=_SAMPLE_K,
                seed=_SAMPLE_SEED,
            )
        draw = sampling.sample_store_draw(spark, store, k=_SAMPLE_K)
        sampling.sample_store_compact(
            spark, store, gc_root, k=_SAMPLE_K
        )
        draw_gc = sampling.sample_store_draw(spark, gc_root, k=_SAMPLE_K)
        # GC-identical pin inside the returned plan: the inner join of
        # the two draws on (doc_id, h) must cover all k rows — a
        # diverging compacted draw would shrink the result and fail the
        # oracle's row count
        merged = draw.join(draw_gc, ["doc_id", "h"], "inner")
        out = merged.join(
            docs.select("doc_id", "source", "n_chars"), "doc_id"
        ).select(
            "doc_id",
            "h",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(gc_root, ignore_errors=True)


_WSAMPLE_K = 40
_WSAMPLE_SEED = 19


def _weighted_sample_store_oracle() -> str:
    u = (
        f"(({sql_hash60('doc_id', _WSAMPLE_SEED)}) + 1)"
        " / 1152921504606846976.0"
    )
    pr = f"ln({u}) / CAST(n_chars AS DOUBLE)"
    return f"""
    SELECT doc_id, {sql_round4(pr)} AS priority, source,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0
    ORDER BY {pr} DESC, doc_id
    LIMIT {_WSAMPLE_K}
    """


@query("weighted_sample_store", oracle=_weighted_sample_store_oracle())
def weighted_sample_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling as a persisted STORE — the ``priorities`` tier
    of the ``sample`` family: ingest the corpus in three batches, each
    appending only its top-k rows by the deterministic Efraimidis–
    Spirakis priority (inclusion probability ∝ n_chars), then draw the
    exact global weighted k-sample (without replacement) from the
    batches·k stored rows. Per-item priorities are independent of
    batching, so "global top-k of a union" = "top-k of the per-batch
    top-ks" — the A-ExpJ reservoir argument (Efraimidis & Spirakis
    2006), realized as a mergeable tier: the always-fresh weighted
    probe set a 100 TB curation pipeline keeps warm at metadata cost
    (weighted_doc_sample is the one-shot twin; this is its
    maintainable form). The oracle recomputes the identical priorities
    in SQL over the whole corpus, so the gate verifies the merge
    property end-to-end under a real multi-batch history. The entry
    also runs the GC leg with an in-plan equality pin (the fold IS the
    draw)."""
    import shutil

    from lab3_lakehouse_spark.operators import sampling
    from lab3_lakehouse_spark.queries._util import scratch_dir

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    store = scratch_dir("wsample_store_")
    gc_root = scratch_dir("wsample_store_gc_")
    try:
        for part in range(3):
            sampling.weighted_sample_store_append(
                store,
                docs.filter(F.col("doc_id") % 3 == part),
                "doc_id",
                "n_chars",
                k=_WSAMPLE_K,
                seed=_WSAMPLE_SEED,
            )
        draw = sampling.weighted_sample_store_draw(
            spark, store, k=_WSAMPLE_K
        )
        sampling.weighted_sample_store_compact(
            spark, store, gc_root, k=_WSAMPLE_K
        )
        draw_gc = sampling.weighted_sample_store_draw(
            spark, gc_root, k=_WSAMPLE_K
        )
        merged = draw.join(
            draw_gc.select("doc_id"), "doc_id", "inner"
        )
        out = merged.join(
            docs.select("doc_id", "source", "n_chars"), "doc_id"
        ).select(
            "doc_id",
            round4(F.col("priority")).alias("priority"),
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(gc_root, ignore_errors=True)


# --------------------------- dedup-discounted token budget ----

_DEDUP_BUDGET_ORACLE = f"""
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id, source, lang,
               regexp_split_to_array(text, '\\s+') AS wtok,
               list_distinct(
                   regexp_split_to_array(lower(text), '\\s+')) AS w,
               n_chars
        FROM documents
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.w, b.w))::DOUBLE
              / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)))
              >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u
    ), comp AS MATERIALIZED (
        SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u
    ), canon AS MATERIALIZED (
        SELECT c.doc_id
        FROM comp c JOIN t d ON d.doc_id = c.doc_id
        QUALIFY row_number() OVER (
            PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id
        ) = 1
    ), keep AS MATERIALIZED (
        SELECT d.doc_id, d.source, len(d.wtok) AS n_tok
        FROM t d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
           OR d.doc_id IN (SELECT doc_id FROM canon)
    ), rawtok AS MATERIALIZED (
        SELECT source,
               CAST(sum(len(wtok)) AS BIGINT) AS n_tokens_raw
        FROM t GROUP BY source
    ), tok AS MATERIALIZED (
        SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM keep GROUP BY source
    ), {_WATERFILL_SQL_TAIL}
    SELECT a.source,
           r.n_tokens_raw,
           a.n_tokens AS n_tokens_dedup,
           {sql_round4(
               'a.n_tokens::DOUBLE / r.n_tokens_raw')} AS dedup_keep_ratio,
           a.cap_tokens, a.budget, a.capped, a.alloc_tokens,
           {sql_round4('a.alloc_tokens / a.n_tokens')} AS epochs
    FROM alloc a JOIN rawtok r ON r.source = a.source
"""


@query("dedup_discounted_token_budget", oracle=_DEDUP_BUDGET_ORACLE)
def dedup_discounted_token_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The allocation pipeline run on CLEAN data — the composition a
    real mixture planner executes: near-dup canonicalization first
    (keep one longest copy per connected component, the
    dup_canonical_selection election), THEN the capped waterfill over
    the deduplicated per-source token counts. Allocating on raw counts
    double-pays syndicated content: a source whose volume is mostly
    mirrored copies gets budget for tokens the model will effectively
    see anyway via the canonical copies — the dedup discount
    (``dedup_keep_ratio``) is exactly the correction, and because the
    budget is 9/5 of the DEDUPED total, the whole schedule shrinks to
    match the true unique-token supply.

    Reuses the registered building blocks verbatim: the
    dup_canonical_selection mapping table decides keeps, and
    ``_waterfill_frame`` / ``_WATERFILL_SQL_TAIL`` are the same code
    and SQL the raw allocation runs — the composition adds one
    anti-join and one grouped count. Scale: the dedup leg is the
    banded-LSH cost class (the mapping's pair tier swaps to the LSH
    source at scale, as in dup_canonical_selection); the allocation
    math stays bounded-frame."""
    from lab3_lakehouse_spark.queries.advstats import (
        dup_canonical_selection,
    )

    tune_session(spark)
    return _budget_from_canonical(spark, sf_dir, dup_canonical_selection)


@body("dedup_discounted_token_budget")
def dedup_discounted_token_budget_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production body: the same allocation, canonicalized by
    dup_canonical_selection's banded-LSH body."""
    from lab3_lakehouse_spark.queries.advstats import (
        dup_canonical_selection_lsh,
    )

    tune_session(spark)
    return _budget_from_canonical(spark, sf_dir, dup_canonical_selection_lsh)


def _budget_from_canonical(
    spark: SparkSession, sf_dir: str, canonical: QueryFn
) -> DataFrame:
    """The allocation over the docs that ``canonical``'s keep-one
    mapping keeps: every doc outside a dup group, plus one canonical
    per group."""
    docs = load_table(spark, sf_dir, "documents")
    mapping = canonical(spark, sf_dir).select("doc_id", "is_canonical")
    keep = (
        docs.join(mapping, "doc_id", "left")
        .filter(
            F.col("is_canonical").isNull() | F.col("is_canonical")
        )
        .select("source", text_ops.token_count("text").alias("n_tok"))
    )
    tok = keep.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("n_tokens")
    )
    rawtok = docs.groupBy("source").agg(
        F.sum(text_ops.token_count("text"))
        .cast("long")
        .alias("n_tokens_raw")
    )
    alloc = _waterfill_frame(tok)
    return alloc.join(rawtok, "source").select(
        "source",
        "n_tokens_raw",
        F.col("n_tokens").alias("n_tokens_dedup"),
        round4(
            F.col("n_tokens").cast("double") / F.col("n_tokens_raw")
        ).alias("dedup_keep_ratio"),
        "cap_tokens",
        "budget",
        "capped",
        "alloc_tokens",
        round4(F.col("alloc_tokens") / F.col("n_tokens")).alias("epochs"),
    )


# ----------------------------- deterministic shard assignment ----

_N_SHARDS = 8

_SHARD_ASSIGN_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens
        FROM documents
    ), r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
        FROM t
    ), s AS (
        SELECT doc_id, n_tokens,
               CASE WHEN (rk // {_N_SHARDS}) % 2 = 0
                    THEN rk % {_N_SHARDS}
                    ELSE {_N_SHARDS} - 1 - rk % {_N_SHARDS}
               END AS shard
        FROM r
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(shard AS BIGINT) AS shard,
           CAST(sum(n_tokens) OVER (PARTITION BY shard) AS BIGINT)
               AS shard_total_tokens
    FROM s
"""


@query("deterministic_shard_assignment", oracle=_SHARD_ASSIGN_ORACLE)
def deterministic_shard_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-BALANCED loader shards, reproducible without storing them
    — the data-loader step between a curated corpus and a distributed
    training job: every worker should stream a near-equal token count
    (stragglers idle the whole cluster at the epoch barrier), and the
    assignment must be a pure function of the corpus (any job, any
    day, any engine recomputes the identical sharding — the split/fold
    reproduce-without-storing contract applied to loader layout).

    Balance rule: rank every document by whitespace-token count
    descending (doc_id tiebreak) and deal ranks to the S = 8 shards
    BOUSTROPHEDON (snake draft: 0..S-1 then S-1..0) — the
    classic one-pass LPT approximation: each round of S docs adds a
    near-equal token mass to every shard, and the reversal cancels the
    within-round bias, so shard totals track each other to within a
    couple of documents' mass with NO greedy state to replicate.

    Scale shape: the global rank runs through
    operators/windows.global_row_number (broadcast approx-percentile
    cuts → partitioned per-bucket row_number + cumulative offsets) —
    NO single-partition sort anywhere; the snake arithmetic is
    row-local integer math, and the per-shard totals are one grouped
    sum over ≤ S rows broadcast back. All columns are exact integers —
    bit-stable cross-engine, no rounding policy needed."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    assigned = _snake_shard_frame(docs)
    totals = assigned.groupBy("shard").agg(
        F.sum("n_tokens").cast("long").alias("shard_total_tokens")
    )  # ≤ S rows — broadcast back onto the doc frame
    return assigned.join(F.broadcast(totals), "shard").select(
        "doc_id", "n_tokens", "shard", "shard_total_tokens"
    )


def _snake_shard_frame(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_tokens, shard)`` — the snake-draft shard
    assignment shared by :func:`deterministic_shard_assignment` and
    :func:`epoch_shuffle_plan` (same rank, same snake, one
    definition)."""
    from lab3_lakehouse_spark.operators import windows as win_ops

    t = docs.select(
        "doc_id", text_ops.token_count("text").alias("n_tokens")
    )
    ranked = win_ops.global_row_number(
        t, metric="n_tokens", tie_breakers=("doc_id",),
        rank_col="__rk", ascending=False,
    )
    rk0 = F.col("__rk") - 1
    pos = F.pmod(rk0, F.lit(_N_SHARDS))
    rnd = ((rk0 - pos) / _N_SHARDS).cast("long")
    return ranked.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(F.pmod(rnd, F.lit(2)) == 0, pos)
        .otherwise(F.lit(_N_SHARDS - 1) - pos)
        .cast("long")
        .alias("shard"),
    )


# ----------------------------- semantic decontamination ----

_SEMDECON_TAU = 0.3

_SEMDECON_ORACLE = f"""
    WITH bench AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0
    ), corp AS (
        SELECT vec_id, label, embedding
        FROM embeddings WHERE vec_id % 25 <> 0
    ), mx AS (
        SELECT c.vec_id, c.label,
               max(list_cosine_similarity(c.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[])) AS mc
        FROM corp c CROSS JOIN bench b
        GROUP BY c.vec_id, c.label
    )
    SELECT vec_id,
           CAST(label AS BIGINT) AS label,
           {sql_round4('mc')} AS max_benchmark_cosine,
           mc >= CAST({_SEMDECON_TAU} AS DOUBLE) AS contaminated
    FROM mx
"""


@query("semantic_decontamination", oracle=_SEMDECON_ORACLE)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-level benchmark decontamination — the semantic
    companion to decontamination_ngram_overlap: n-gram overlap catches
    verbatim and lightly-edited test-set leaks, but a paraphrased or
    translated benchmark item shares almost no n-grams while sitting
    right next to the original in embedding space (the leak mode
    n-gram decon provably cannot see). Per corpus vector: the MAX
    cosine to any benchmark vector and a ``contaminated`` flag at
    τ = 0.3 — the per-document rewrite table a curator drops or audits
    before training.

    Differential contract: the cosine is the exact JVM fold
    (operators/similarity.cosine_similarity), bit-identical to the
    oracle's ``list_cosine_similarity``, so the MAX (order-independent)
    and the threshold boolean cannot diverge cross-engine; the emitted
    value is round4-pinned.

    Scale shape: the benchmark side is SMALL by definition (a test
    set, not a corpus), so this is a broadcast bipartite scan — one
    pass over the corpus tier, cost |corpus|·|bench|, no shuffle of
    vectors (the grouped max is map-side combinable on vec_id, which
    the scan already partitions). When the benchmark outgrows
    broadcast (multi-benchmark suites), the production path swaps in
    the persisted IVF-PQ store probe (ann_store_ivfpq_topk) with
    bench as the query batch and flags anything whose top-1 exceeds τ
    — the exact tier here is the gate's oracle-replayable twin, the
    decontamination_bloom_store pattern."""
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    is_bench = F.pmod("vec_id", F.lit(25)) == 0
    # double cast + L2 norm hoisted per VECTOR before the bipartite
    # scan (r14): one fold per (corpus, bench) pair instead of three
    # folds + four casts — same doubles, same expression tree as
    # cosine_similarity (the cosine_pairs_blocked hoist)
    from lab3_lakehouse_spark.functions.vector import _dbl, dot, l2_norm

    bench = emb.filter(is_bench).select(
        F.col("vec_id").alias("__bid"),
        _dbl(F.col("embedding")).alias("__bvec"),
        l2_norm(F.col("embedding")).alias("__bn"),
    )
    corp = emb.filter(~is_bench).select(
        "vec_id",
        "label",
        _dbl(F.col("embedding")).alias("__cvec"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    mx = (
        corp.crossJoin(F.broadcast(bench))
        .withColumn(
            "__cos",
            dot(F.col("__cvec"), F.col("__bvec"))
            / (F.col("__cn") * F.col("__bn")),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("__cos").alias("__mc"))
    )
    return mx.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        round4(F.col("__mc")).alias("max_benchmark_cosine"),
        (F.col("__mc") >= F.lit(_SEMDECON_TAU)).alias("contaminated"),
    )


# ----------------------------- epoch shuffle plan ----

_N_EPOCHS = 3
_EPOCH_SEED = 101

_EPOCH_SHUFFLE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens
        FROM documents
    ), r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
        FROM t
    ), s AS (
        SELECT doc_id,
               CASE WHEN (rk // {_N_SHARDS}) % 2 = 0
                    THEN rk % {_N_SHARDS}
                    ELSE {_N_SHARDS} - 1 - rk % {_N_SHARDS}
               END AS shard
        FROM r
    ), se AS (
        SELECT doc_id, shard, e.epoch
        FROM s, (SELECT unnest(range({_N_EPOCHS})) AS epoch) e
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(epoch AS BIGINT) AS epoch,
           CAST(row_number() OVER (
               PARTITION BY shard, epoch
               ORDER BY {sql_hash60(
                   "CAST(epoch AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)",
                   _EPOCH_SEED)}, doc_id
           ) AS BIGINT) AS position
    FROM se
"""


@query("epoch_shuffle_plan", oracle=_EPOCH_SHUFFLE_ORACLE)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-once-read-many, computed instead of stored — the data
    ORDER half of the loader contract (:func:`deterministic_shard_
    assignment` is the placement half): every training epoch must
    visit each shard's documents in a fresh pseudorandom order (epoch
    reshuffling measurably improves convergence), every worker/restart
    must agree on that order WITHOUT a coordinator, and at 100 TB you
    cannot afford to materialize E permutations of the corpus. The
    order is therefore a pure function: position(epoch, doc) =
    rank of ``hash60(epoch # doc_id)`` within the doc's snake shard —
    any job, any day, any engine recomputes the same schedule, and a
    resumed run seeks straight to (epoch, shard, position).

    Per (shard, epoch) the hash ranks are a fresh deterministic
    permutation — epochs decorrelate because the epoch id is INSIDE
    the hash input, not a rotation of one stored order. Differential
    contract: the full (doc_id, shard, epoch, position) schedule,
    bit-exact cross-engine (integer hash + integer ranks — the
    crossval_fold_balance hashing convention; doc_id tiebreak makes
    even a 60-bit hash collision deterministic).

    Scale shape: the snake rank is the two-phase global ranking (no
    single-partition sort); the epoch fan-out is a scan-side explode
    (E× rows, constant E); the position windows are PARTITIONED by
    (shard, epoch) — S·E independent sorts, each 1/S of the corpus,
    exactly the partitioning a multi-worker loader reads."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return _epoch_order_frame(docs).select(
        "doc_id", "shard", "epoch", "position"
    )


def _epoch_order_frame(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_tokens, shard, epoch, position)`` — the full loader
    schedule frame shared by :func:`epoch_shuffle_plan` and
    :func:`packed_batch_manifest` (same snake shard, same epoch hash
    order, one definition — the _snake_shard_frame discipline one
    level up)."""
    from pyspark.sql import Window

    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    se = _snake_shard_frame(docs).withColumn(
        "epoch",
        F.explode(F.array(*[F.lit(e) for e in range(_N_EPOCHS)])),
    )
    hkey = portable_hash60(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit("#"),
            F.col("doc_id").cast("string"),
        ),
        _EPOCH_SEED,
    )
    w = Window.partitionBy("shard", "epoch").orderBy(
        hkey.asc(), F.col("doc_id").asc()
    )
    return se.select(
        "doc_id",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        F.col("epoch").cast("long").alias("epoch"),
        F.row_number().over(w).cast("long").alias("position"),
    )


# ----------------------------- context-window fit report ----

_CTX_WINDOWS = (64, 128, 256, 512)

_CTX_FIT_ORACLE = f"""
    WITH t AS (
        SELECT len(regexp_split_to_array(text, '\\s+')) AS n
        FROM documents
    ), w AS (
        SELECT unnest([{', '.join(str(w) for w in _CTX_WINDOWS)}])
            AS window_size
    )
    SELECT CAST(window_size AS BIGINT) AS window_size,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n <= window_size THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_fit,
           {sql_round4(
               'sum(CASE WHEN n <= window_size THEN 1 ELSE 0 END)::DOUBLE'
               ' / count(*)')} AS fit_ratio,
           CAST(sum(greatest(n - window_size, 0)) AS BIGINT)
               AS truncated_tokens,
           {sql_round4(
               'sum(greatest(n - window_size, 0))::DOUBLE / sum(n)')}
               AS truncation_loss,
           {sql_round4(
               'sum(least(n, window_size))::DOUBLE'
               ' / (count(*) * window_size)')} AS unpacked_utilization,
           CAST(ceil(sum(least(n, window_size))::DOUBLE / window_size)
               AS BIGINT) AS packed_seqs_lower_bound
    FROM t CROSS JOIN w
    GROUP BY window_size
"""


@query("context_window_fit", oracle=_CTX_FIT_ORACLE)
def context_window_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sizing report — the numbers a pretraining run is
    actually planned with: for each candidate sequence length, how
    much of the corpus fits whole (``fit_ratio``), how many tokens a
    truncate-at-W policy throws away (``truncation_loss`` — the
    long-document mass that silently vanishes), how badly
    one-document-per-sequence padding wastes compute
    (``unpacked_utilization`` — the number that motivates sequence
    packing), and the packed sequence count lower bound
    (⌈kept tokens / W⌉ — what pack_documents_concat_chop approaches).
    Read together the four rows ARE the window-size decision: pick the
    W where truncation loss and padding waste cross.

    All ratios are exact int/int divisions (round4-pinned); the packed
    bound divides by a power-of-two W, so even the double division is
    exact — bit-stable cross-engine. Scale shape: ONE token-count scan
    exploded ×|windows| (constant 4) into a map-side-combinable
    grouped aggregate; output is |windows| rows. The same cost class
    as a grouped count at any corpus size."""
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(text_ops.token_count("text").alias("n"))
    e = t.withColumn(
        "window_size",
        F.explode(F.array(*[F.lit(w) for w in _CTX_WINDOWS])),
    )
    w = F.col("window_size")
    n = F.col("n")
    kept = F.least(n, w)
    return (
        e.groupBy("window_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(n <= w, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_fit"),
            F.sum(F.greatest(n - w, F.lit(0)))
            .cast("long")
            .alias("truncated_tokens"),
            F.sum(n).alias("__total"),
            F.sum(kept).alias("__kept"),
        )
        .select(
            F.col("window_size").cast("long").alias("window_size"),
            "n_docs",
            "n_docs_fit",
            round4(
                F.col("n_docs_fit").cast("double") / F.col("n_docs")
            ).alias("fit_ratio"),
            "truncated_tokens",
            round4(
                F.col("truncated_tokens").cast("double") / F.col("__total")
            ).alias("truncation_loss"),
            round4(
                F.col("__kept").cast("double")
                / (F.col("n_docs") * F.col("window_size"))
            ).alias("unpacked_utilization"),
            F.ceil(
                F.col("__kept").cast("double") / F.col("window_size")
            )
            .cast("long")
            .alias("packed_seqs_lower_bound"),
        )
    )


# ----------------------------- curriculum quality phases ----

_N_PHASES = 3

def _curriculum_oracle() -> str:
    from lab3_lakehouse_spark.operators import text as t_ops

    sw = "['" + "','".join(t_ops.STOPWORDS) + "']"
    return f"""
    WITH q AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
               len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> list_contains({sw}, w)))::DOUBLE
                 / len(regexp_split_to_array(text, '\\s+'))::DOUBLE AS score
        FROM documents
    ), r AS (
        SELECT doc_id, n_tokens, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
               count(*) OVER () AS n
        FROM q
    ), p AS (
        SELECT doc_id, n_tokens, score,
               ((rk - 1) * {_N_PHASES}) // n + 1 AS phase
        FROM r
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {sql_round4('score')} AS quality_score,
           CAST(phase AS BIGINT) AS phase,
           CAST(sum(n_tokens) OVER (PARTITION BY phase) AS BIGINT)
               AS phase_tokens
    FROM p
    """


@query("curriculum_quality_phases", oracle=_curriculum_oracle())
def curriculum_quality_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered CURRICULUM phases — the schedule behind
    "train on everything early, anneal on the best data last"
    (high-quality upweighting in the final phase is standard practice
    for modern pretraining runs): rank every document by a quality
    score (stopword ratio here — the text_quality_features signal most
    correlated with natural prose; production swaps in a model-based
    score) and cut the ranking into 3 equal-count phases; phase 1 =
    highest quality (the annealing set), with per-phase token budgets
    a schedule planner reads off directly. The phase boundary uses the
    explicit integer formula ``((rank-1)·k) // n + 1`` in BOTH engines
    rather than each engine's native ntile — front-loaded remainder
    semantics pinned by arithmetic, not by implementation agreement.

    The score is an exact int/int division (bit-stable cross-engine;
    round4 only on the EMITTED value, the ordering uses raw bits —
    identical in both engines, doc_id tiebreak for safety). Scale
    shape: one quality scan; the global rank via the two-phase
    bucketed ranking (no single-partition sort); phase arithmetic is
    row-local; phase totals are a ≤ k-row aggregate broadcast back."""
    from lab3_lakehouse_spark.operators import text as t_ops
    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    n_tok = t_ops.token_count("text")
    q = docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (
            t_ops.stopword_count("text").cast("double")
            / n_tok.cast("double")
        ).alias("score"),
    )
    ranked = win_ops.global_row_number(
        q, metric="score", tie_breakers=("doc_id",),
        rank_col="__rk", ascending=False,
    )
    total = ranked.agg(F.count(F.lit(1)).alias("__n"))
    p = ranked.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "score",
        (
            ((F.col("__rk") - 1) * _N_PHASES - F.pmod(
                (F.col("__rk") - 1) * _N_PHASES, F.col("__n")
            ))
            / F.col("__n")
            + 1
        )
        .cast("long")
        .alias("phase"),
    )
    totals = p.groupBy("phase").agg(
        F.sum("n_tokens").cast("long").alias("phase_tokens")
    )  # ≤ k rows — broadcast back
    return p.join(F.broadcast(totals), "phase").select(
        "doc_id",
        "n_tokens",
        round4(F.col("score")).alias("quality_score"),
        "phase",
        "phase_tokens",
    )


@query("streaming_semantic_decontamination", oracle=_SEMDECON_ORACLE)
def streaming_semantic_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """:func:`semantic_decontamination` as a CONTINUOUS gate — the
    deployment shape: new embedding batches arrive on a file stream
    and each micro-batch is probed against the FROZEN benchmark set
    (a broadcast static frame; the benchmark changes only when evals
    do), appending per-document verdicts to the audit tier. Per-batch
    cost ∝ the batch — each document's max-cosine depends on nothing
    but itself and the benchmark, so the operator is embarrassingly
    batch-local: order-independent, replay-idempotent (re-appended
    verdicts are identical rows; the read side dedups by vec_id), no
    streaming state store at all.

    Differential contract: the drained stream's audit table must
    EQUAL, row for row, the batch operator on the full corpus — the
    oracle is the SAME SQL as semantic_decontamination (the
    stream-equals-batch discipline every streaming entry follows).
    The corpus is re-sliced into 3 parquet files and drained with
    maxFilesPerTrigger=1, so the equality really spans multiple
    micro-batches; parquet slices keep the float bits exact (a JSON
    hop would re-parse decimal strings). Eager by necessity (stream
    drain at call time; roots via _util.scratch_dir)."""
    import shutil

    from lab3_lakehouse_spark.queries._util import scratch_dir

    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    is_bench = F.pmod("vec_id", F.lit(25)) == 0
    # hoisted-norm bench side (r14) — same device as the batch op, so
    # the stream-equals-batch equality is over identical doubles
    from lab3_lakehouse_spark.functions.vector import _dbl, dot, l2_norm

    bench = emb.filter(is_bench).select(
        F.col("vec_id").alias("__bid"),
        _dbl(F.col("embedding")).alias("__bvec"),
        l2_norm(F.col("embedding")).alias("__bn"),
    )
    root = scratch_dir("stream_semdecon_")
    src = f"{root}/src"
    out = f"{root}/audit"
    ckpt = f"{root}/ckpt"
    try:
        # the "arriving corpus": 3 parquet slices → 3 micro-batches
        emb.filter(~is_bench).select(
            "vec_id", "label", "embedding"
        ).repartition(3).write.mode("overwrite").parquet(src)

        def probe_batch(bdf, batch_id):  # noqa: ARG001 — foreachBatch sig
            (
                bdf.select(
                    "vec_id",
                    "label",
                    _dbl(F.col("embedding")).alias("__cvec"),
                    l2_norm(F.col("embedding")).alias("__cn"),
                )
                .crossJoin(F.broadcast(bench))
                .withColumn(
                    "__cos",
                    dot(F.col("__cvec"), F.col("__bvec"))
                    / (F.col("__cn") * F.col("__bn")),
                )
                .groupBy("vec_id", "label")
                .agg(F.max("__cos").alias("__mc"))
                .write.mode("append")
                .parquet(out)
            )

        q = (
            spark.readStream.schema(
                "vec_id long, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        audit = spark.read.parquet(out).dropDuplicates(["vec_id"])
        return (
            audit.select(
                "vec_id",
                F.col("label").cast("long").alias("label"),
                round4(F.col("__mc")).alias("max_benchmark_cosine"),
                (F.col("__mc") >= F.lit(_SEMDECON_TAU)).alias(
                    "contaminated"
                ),
            )
            .localCheckpoint(eager=True)  # outlives the scratch root
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ----------------------------- packed-batch loader manifest ----

#: packed sequence length for the loader manifest — a power of two so
#: the fill-ratio double division is IEEE-exact cross-engine.
_MANIFEST_SEQ_LEN = 128

_MANIFEST_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens
        FROM documents
    ), r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
        FROM t
    ), s AS (
        SELECT doc_id, n_tokens,
               CASE WHEN (rk // {_N_SHARDS}) % 2 = 0
                    THEN rk % {_N_SHARDS}
                    ELSE {_N_SHARDS} - 1 - rk % {_N_SHARDS}
               END AS shard
        FROM r
    ), se AS (
        SELECT doc_id, n_tokens, shard, e.epoch
        FROM s, (SELECT unnest(range({_N_EPOCHS})) AS epoch) e
    ), pos AS (
        SELECT doc_id, n_tokens, shard, epoch,
               row_number() OVER (
                   PARTITION BY shard, epoch
                   ORDER BY {sql_hash60(
                       "CAST(epoch AS VARCHAR) || '#' ||"
                       " CAST(doc_id AS VARCHAR)",
                       _EPOCH_SEED)}, doc_id
               ) AS position
        FROM se
    ), off AS (
        SELECT shard, epoch, position, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY shard, epoch ORDER BY position
               ) - n_tokens AS BIGINT) AS st
        FROM pos
    ), spans AS (
        SELECT shard, epoch, position, n_tokens, st,
               st + n_tokens AS en,
               unnest(range(st // {_MANIFEST_SEQ_LEN},
                            (st + n_tokens - 1) // {_MANIFEST_SEQ_LEN} + 1))
                   AS seq_id
        FROM off
    ), manifest AS (
        SELECT shard, epoch, seq_id,
               count(*) AS n_docs,
               sum(least(en, (seq_id + 1) * {_MANIFEST_SEQ_LEN})
                   - greatest(st, seq_id * {_MANIFEST_SEQ_LEN}))
                   AS seq_tokens,
               min(position) AS first_position,
               max(position) AS last_position
        FROM spans
        GROUP BY shard, epoch, seq_id
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(epoch AS BIGINT) AS epoch,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(seq_tokens AS BIGINT) AS seq_tokens,
           CAST(first_position AS BIGINT) AS first_position,
           CAST(last_position AS BIGINT) AS last_position,
           {sql_round4(
               f'seq_tokens::DOUBLE / {_MANIFEST_SEQ_LEN}')} AS fill_ratio
    FROM manifest
"""


@query("packed_batch_manifest", oracle=_MANIFEST_ORACLE)
def packed_batch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, epoch) PACKED-SEQUENCE manifest — the composition
    that closes the loader surface end-to-end:
    :func:`deterministic_shard_assignment` places documents,
    :func:`epoch_shuffle_plan` orders them, and this entry emits the
    thing a training data loader actually consumes: for every
    fixed-length sequence of each shard's epoch-shuffled token stream
    (concat-and-chop at W = 128), which documents contribute tokens to
    it (position span + doc count), how many tokens it holds, and its
    fill ratio. A loader worker assigned (shard, epoch) reads its
    manifest slice in seq_id order and knows exactly which documents
    to fetch for each batch; a resumed run seeks to (shard, epoch,
    seq_id) without replaying anything.

    All columns are exact integer arithmetic on the shared schedule
    frame (the same snake shard + epoch hash order the other two
    entries pin, via ONE shared ``_epoch_order_frame`` definition);
    ``fill_ratio`` divides by a power-of-two W, so even the double is
    IEEE-exact — the whole manifest is bit-stable cross-engine. Every
    sequence except a (shard, epoch)'s last has ``seq_tokens == W`` by
    construction (concat-and-chop leaves no internal padding).

    Scale shape: S·E partitioned windows (position rank + prefix sum
    share one partitioning — no single-partition sort, plan-pinned),
    a span explode bounded by 1 + n_tokens/W rows per doc, and a
    manifest aggregation co-partitioned with the windows. Output rows
    ≈ corpus tokens / W per epoch — the size of the training
    schedule, not the corpus."""
    from lab3_lakehouse_spark.operators import packing as pack_ops

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    ordered = _epoch_order_frame(docs)
    manifest = pack_ops.pack_span_manifest(
        ordered,
        token_col="n_tokens",
        order_col="position",
        shard_cols=("shard", "epoch"),
        seq_len=_MANIFEST_SEQ_LEN,
    )
    return manifest.select(
        "shard",
        "epoch",
        F.col("seq_id").cast("long").alias("seq_id"),
        "n_docs",
        "seq_tokens",
        "first_position",
        "last_position",
        round4(
            F.col("seq_tokens").cast("double") / F.lit(float(_MANIFEST_SEQ_LEN))
        ).alias("fill_ratio"),
    )


# ----------------------------- model-based quality curriculum ----

#: fixed-step full-batch gradient descent hyperparameters — part of
#: the cross-engine contract (the oracle replays the SAME trajectory).
_QC_STEPS = 16
_QC_PHASES = 3
_QC_AUC_FLOOR = 0.75
#: variance floor for feature standardization (degenerate-feature guard)
_QC_VAR_FLOOR = "0.00000001"


def _qcc_oracle() -> str:
    from lab3_lakehouse_spark.operators import text as t_ops

    sw = "['" + "','".join(t_ops.STOPWORDS) + "']"
    ntok = "len(regexp_split_to_array(text, '\\s+'))"
    lower_toks = "regexp_split_to_array(lower(text), '\\s+')"
    # per-feature standardization: round4-pinned mean and variance so
    # the z columns (and everything downstream) are bit-identical
    mus = ", ".join(
        f"{sql_round4(f'sum(x{j})/count(*)')} AS mu{j}" for j in (1, 2, 3, 4)
    )
    sds = ", ".join(
        "sqrt(greatest("
        + sql_round4(
            f"sum(x{j}*x{j})/count(*) - (sum(x{j})/count(*))*(sum(x{j})/count(*))"
        )
        + f", CAST({_QC_VAR_FLOOR} AS DOUBLE))) AS sd{j}"
        for j in (1, 2, 3, 4)
    )
    zs = ", ".join(
        sql_round4(f"(x{j} - mu{j}) / sd{j}") + f" AS z{j}" for j in (1, 2, 3, 4)
    )
    lin = "b0 + b1*z1 + b2*z2 + b3*z3 + b4*z4"
    grads = ", ".join(
        ["sum(p - y) / count(*) AS g0"]
        + [f"sum((p - y) * z{j}) / count(*) AS g{j}" for j in (1, 2, 3, 4)]
    )
    upds = ", ".join(
        sql_round4(f"b{j} - g{j}") for j in range(5)
    )
    return f"""
    WITH RECURSIVE gate AS MATERIALIZED (
        {_quality_gate_oracle()}
    ), feats AS MATERIALIZED (
        SELECT f.doc_id, f.n_tokens,
               {sql_round4('ln(f.n_tokens)')} AS x1,
               f.x2, f.x3, f.x4,
               g.keep,
               CASE WHEN g.keep THEN 1.0 ELSE 0.0 END AS y
        FROM (
            SELECT doc_id,
                   CAST({ntok} AS BIGINT) AS n_tokens,
                   (length(text)::DOUBLE - ({ntok} - 1)::DOUBLE)
                       / {ntok}::DOUBLE AS x2,
                   len(list_filter({lower_toks},
                                   w -> list_contains({sw}, w)))::DOUBLE
                       / {ntok}::DOUBLE AS x3,
                   len(list_distinct({lower_toks}))::DOUBLE
                       / {ntok}::DOUBLE AS x4
            FROM documents
        ) f
        JOIN gate g USING (doc_id)
    ), stats AS MATERIALIZED (
        SELECT {mus}, {sds} FROM feats
    ), z AS MATERIALIZED (
        SELECT doc_id, n_tokens, keep, y, {zs}
        FROM feats CROSS JOIN stats
    ), gd AS (
        SELECT 0 AS step,
               CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1,
               CAST(0 AS DOUBLE) AS b2, CAST(0 AS DOUBLE) AS b3,
               CAST(0 AS DOUBLE) AS b4
        UNION ALL
        SELECT step + 1, {upds}
        FROM (
            SELECT step, b0, b1, b2, b3, b4, {grads}
            FROM (
                SELECT gd.step, gd.b0, gd.b1, gd.b2, gd.b3, gd.b4,
                       z.y, z.z1, z.z2, z.z3, z.z4,
                       1.0 / (1.0 + exp(-({lin}))) AS p
                FROM gd, z
            )
            GROUP BY step, b0, b1, b2, b3, b4
        )
        WHERE step < {_QC_STEPS}
    ), coef AS MATERIALIZED (
        SELECT b0, b1, b2, b3, b4 FROM gd WHERE step = {_QC_STEPS}
    ), scored AS MATERIALIZED (
        SELECT z.doc_id, z.n_tokens, z.keep, z.y,
               {lin} AS s
        FROM z CROSS JOIN coef
    ), lossq AS (
        SELECT {sql_round4(
            'sum(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) / count(*)'
        )} AS final_loss
        FROM (SELECT y, 1.0 / (1.0 + exp(-s)) AS p FROM scored)
    ), rkasc AS (
        SELECT y, row_number() OVER (ORDER BY s, doc_id) AS r FROM scored
    ), aucq AS (
        SELECT CASE
            WHEN sum(y) = 0 OR count(*) - sum(y) = 0 THEN 0.5
            ELSE {sql_round4(
            "CAST(sum(CASE WHEN y = 1.0 THEN r ELSE 0 END)"
            " - (CAST(sum(y) AS BIGINT) * (CAST(sum(y) AS BIGINT) + 1)) // 2"
            " AS DOUBLE) / (sum(y) * (count(*) - sum(y)))"
        )} END AS model_auc
        FROM rkasc
    ), rk AS (
        SELECT scored.*,
               row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
               count(*) OVER () AS n
        FROM scored
    ), ph AS (
        SELECT doc_id, n_tokens, keep, y, s,
               ((rk - 1) * {_QC_PHASES}) // n + 1 AS phase
        FROM rk
    )
    SELECT doc_id,
           n_tokens,
           keep AS weak_keep,
           {sql_round4('s')} AS model_score,
           CAST(phase AS BIGINT) AS phase,
           CAST(sum(n_tokens) OVER (PARTITION BY phase) AS BIGINT)
               AS phase_tokens,
           {sql_round4(
               'sum(y) OVER (PARTITION BY phase)'
               ' / count(*) OVER (PARTITION BY phase)'
           )} AS phase_keep_rate,
           model_auc,
           final_loss
    FROM ph CROSS JOIN aucq CROSS JOIN lossq
    """


@query("quality_classifier_curriculum", oracle=_qcc_oracle())
def quality_classifier_curriculum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MODEL-based quality curriculum — closes the
    :func:`curriculum_quality_phases` placeholder the honest way
    modern pipelines do (the CCNet/GPT-3 fasttext-classifier pattern):
    train a logistic-regression quality classifier against weak
    labels, score every document with the MODEL, and cut the
    curriculum phases on the model score.

    Supervision is a DISTILLATION: the weak label is
    :func:`corpus_quality_gate`'s conjunctive ``keep`` — a gate whose
    surprisal/rare-token rules need a corpus-wide token-frequency
    join — and the features are four scan-local signals (ln token
    count, mean token length, stopword ratio, distinct-token ratio).
    The trained model is therefore a SCAN-ONLY approximation of the
    corpus-frequency gate: at 100 TB you run the expensive gate once
    (or on a bounded hash-deterministic sample — the Lloyd-fit
    convention) to produce labels, train on its output, and score
    every future ingest batch with four per-row expressions + a dot
    product, no corpus join. Measured here: AUC ≈ 0.87 against the
    gate label, log-loss 0.693 → ≈ 0.11 over training.

    Training is FULL-BATCH GRADIENT DESCENT with a fixed step count
    (16 — AUC saturates by step 12 on this design matrix) and unit
    learning rate on round4-standardized features,
    coefficients round4-PINNED after every step — deliberately not
    ``spark.ml``'s LBFGS: the pinned-trajectory GD is bit-replayable
    cross-engine (the oracle runs the SAME 16 steps in a recursive
    CTE — every non-recursive CTE ``AS MATERIALIZED`` per the r13
    convention), so the trained coefficients, every score, the phase
    cuts, the train loss AND the rank-sum AUC all land in the exact
    driver gate with full value-hash checks. ``spark.ml``'s
    LogisticRegression on the same design matrix is pinned equivalent
    in tests (convergence-direction cosine ≥ 0.95 at 200 replica
    steps, emitted-score rank agreement ≥ 0.9, AUC within 0.05),
    keeping the MLlib surface honest without putting its float path
    inside the differential contract. Each GD step is one map-side-combinable
    5-number aggregate over the (localCheckpointed) feature frame —
    the textbook distributed full-batch GD; 16 bounded collects of
    one row each, never data-sized.

    In-entry contracts (fail loudly, ValueError): trained AUC ≥ 0.75
    (the classifier must actually separate the gate label) and final
    train loss < ln 2 (the b = 0 starting loss — training must have
    learned SOMETHING). Ranking/phases: global rank via the two-phase
    bucketed ranking (no single-partition sort), phase boundaries by
    the explicit integer formula ``((rank−1)·k) // n + 1`` in both
    engines, per-phase totals ≤ k rows broadcast back. Phase 1 =
    highest model score (the annealing set), and ``phase_keep_rate``
    per phase lets a curator read the model-vs-gate agreement off the
    output directly."""
    import math

    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)

    def r4(x: float) -> float:
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    gate = corpus_quality_gate(spark, sf_dir).select("doc_id", "keep")
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = text_ops.token_count(t)
    lower_toks = F.split(F.lower(t), r"\s+")
    feats = docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        round4(F.log(n_tok.cast("double"))).alias("x1"),
        (
            (F.length(t).cast("double") - (n_tok - F.lit(1)).cast("double"))
            / n_tok.cast("double")
        ).alias("x2"),
        (
            text_ops.stopword_count(t).cast("double") / n_tok.cast("double")
        ).alias("x3"),
        (
            F.size(F.array_distinct(lower_toks)).cast("double")
            / n_tok.cast("double")
        ).alias("x4"),
    )
    train = (
        feats.join(gate, "doc_id")
        .withColumn(
            "y", F.when(F.col("keep"), F.lit(1.0)).otherwise(F.lit(0.0))
        )
        .localCheckpoint(eager=True)  # consumed by stats + 40 GD steps
    )

    # ---- standardization stats: ONE aggregate, 9 numbers collected
    stat_row = train.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"x{j}").alias(f"s{j}") for j in (1, 2, 3, 4)],
        *[
            F.sum(F.col(f"x{j}") * F.col(f"x{j}")).alias(f"q{j}")
            for j in (1, 2, 3, 4)
        ],
    ).collect()[0]  # bounded metadata: one 9-number stats row
    n = stat_row["n"]
    mu, sd = {}, {}
    for j in (1, 2, 3, 4):
        m_raw = stat_row[f"s{j}"] / n
        mu[j] = r4(m_raw)
        var = r4(stat_row[f"q{j}"] / n - m_raw * m_raw)
        sd[j] = math.sqrt(max(var, float(_QC_VAR_FLOOR)))
    z = train.select(
        "doc_id",
        "n_tokens",
        "keep",
        "y",
        *[
            round4((F.col(f"x{j}") - F.lit(mu[j])) / F.lit(sd[j])).alias(
                f"z{j}"
            )
            for j in (1, 2, 3, 4)
        ],
    ).localCheckpoint(eager=True)  # pins bits for the whole trajectory

    # ---- fixed-step full-batch GD, coefficient vector pinned per step.
    # Coefficients ride in as plain LITERALS (r14): the measured win
    # (~0.2 s/step vs ~0.6 s/step for the r13 broadcast-1-row-frame
    # form) comes from ELIMINATING the per-step BroadcastExchange +
    # extra AQE query stage, NOT from a codegen-cache hit — on Spark
    # 4.1 double literals are inlined into the generated whole-stage
    # source (verified via explain('codegen')), so each step still
    # compiles its own codegen; that recompile would start to matter
    # if the step count or the plan size grew. The arithmetic is the
    # same IEEE expression either way, so the trajectory is
    # bit-identical.
    b = [0.0, 0.0, 0.0, 0.0, 0.0]
    for _ in range(_QC_STEPS):
        lin = (
            F.lit(b[0])
            + F.lit(b[1]) * F.col("z1")
            + F.lit(b[2]) * F.col("z2")
            + F.lit(b[3]) * F.col("z3")
            + F.lit(b[4]) * F.col("z4")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-lin))
        g = (
            z.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(p - F.col("y")).alias("g0"),
                *[
                    F.sum((p - F.col("y")) * F.col(f"z{j}")).alias(f"g{j}")
                    for j in (1, 2, 3, 4)
                ],
            )
            .collect()[0]  # bounded metadata: one gradient row/step
        )
        b = [r4(b[j] - g[f"g{j}"] / g["n"]) for j in range(5)]

    lin = (
        F.lit(b[0])
        + F.lit(b[1]) * F.col("z1")
        + F.lit(b[2]) * F.col("z2")
        + F.lit(b[3]) * F.col("z3")
        + F.lit(b[4]) * F.col("z4")
    )
    scored = z.select(
        "doc_id", "n_tokens", "keep", "y", lin.alias("__s")
    ).localCheckpoint(eager=True)  # 3 consumers: loss, AUC, phases

    # ---- train loss + rank-sum AUC (both emitted AND contract-checked)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__s")))
    loss_row = scored.agg(
        (
            F.sum(
                -(
                    F.col("y") * F.log(p)
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
                )
            )
            / F.count(F.lit(1))
        ).alias("loss")
    ).collect()[0]  # bounded metadata: one loss scalar
    final_loss = r4(loss_row["loss"])

    rkasc = win_ops.global_row_number(
        scored, metric="__s", tie_breakers=("doc_id",),
        rank_col="__r", ascending=True,
    )
    a = rkasc.agg(
        F.sum(
            F.when(F.col("y") == F.lit(1.0), F.col("__r")).otherwise(F.lit(0))
        ).alias("sumr"),
        F.sum("y").alias("n1d"),
        F.count(F.lit(1)).alias("nn"),
    ).collect()[0]  # bounded metadata: one rank-sum row
    n1 = int(a["n1d"])
    n0 = int(a["nn"]) - n1
    if n1 == 0 or n0 == 0:
        # single-class weak label (tiny/degenerate corpus slices where
        # the Gopher gate passes or fails everything): rank-sum AUC is
        # undefined — pin 0.5 on BOTH engines and skip the separation
        # floor, which is only meaningful with two classes present
        model_auc = 0.5
    else:
        model_auc = r4(
            float(int(a["sumr"]) - (n1 * (n1 + 1)) // 2)
            / (float(n1) * float(n0))
        )
        if model_auc < _QC_AUC_FLOOR:
            raise ValueError(
                f"quality classifier AUC {model_auc} below floor "
                f"{_QC_AUC_FLOOR} — the model does not separate the gate label"
            )
    if final_loss >= r4(math.log(2.0)):
        raise ValueError(
            f"final train loss {final_loss} did not improve on the b=0 "
            "starting loss ln(2) — training diverged"
        )

    # ---- curriculum phases on the MODEL score
    ranked = win_ops.global_row_number(
        scored, metric="__s", tie_breakers=("doc_id",),
        rank_col="__rk", ascending=False,
    )
    ph = ranked.select(
        "doc_id",
        "n_tokens",
        "keep",
        "y",
        "__s",
        (
            (
                (F.col("__rk") - 1) * _QC_PHASES
                - F.pmod((F.col("__rk") - 1) * _QC_PHASES, F.lit(n))
            )
            / F.lit(n)
            + 1
        )
        .cast("long")
        .alias("phase"),
    )
    totals = ph.groupBy("phase").agg(
        F.sum("n_tokens").cast("long").alias("phase_tokens"),
        round4(F.sum("y") / F.count(F.lit(1))).alias("phase_keep_rate"),
    )  # ≤ k rows — broadcast back
    return ph.join(F.broadcast(totals), "phase").select(
        "doc_id",
        "n_tokens",
        F.col("keep").alias("weak_keep"),
        round4(F.col("__s")).alias("model_score"),
        "phase",
        "phase_tokens",
        "phase_keep_rate",
        F.lit(model_auc).alias("model_auc"),
        F.lit(final_loss).alias("final_loss"),
    )


# ------------------------------------------- n-gram novelty profile ----

_NOVELTY_ORACLE = f"""
    WITH g AS (
        SELECT DISTINCT doc_id, source,
               z[1] || ' ' || z[2] || ' ' || z[3] AS gram
        FROM (
            SELECT doc_id, source,
                   unnest(list_zip(t[:len(t)-2], t[2:len(t)-1], t[3:])) AS z
            FROM (
                SELECT doc_id, source,
                       regexp_split_to_array(text, '\\s+') AS t
                FROM documents
            ) q
            WHERE len(t) >= 3
        ) q2
    ),
    fl AS (
        SELECT doc_id, source,
               CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY gram)
                    THEN 1 ELSE 0 END AS novel
        FROM g
    )
    SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(novel) AS BIGINT) AS n_novel,
           {sql_round4("sum(novel) / CAST(count(*) AS DOUBLE)")}
               AS novelty_rate
    FROM fl
    GROUP BY doc_id, source
"""


@query("ngram_novelty_profile", oracle=_NOVELTY_ORACLE)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram NOVELTY — what fraction of each document's
    distinct trigrams appears for the FIRST time in that document
    (first = smallest doc_id holding the gram, a deterministic proxy
    for ingest order). The curation signal behind data-age / freshness
    analyses and repeat-exposure studies: low-novelty documents add
    mostly n-grams the corpus already contains (boilerplate, template
    spam, near-copies below the dedup thresholds), and a falling
    corpus-level novelty curve is the classic sign a crawl has started
    re-reading itself.

    Plan: ONE corpus scan explodes trigrams partition-locally (the
    adjacent_token_pairs transform pattern, no Python); the gram frame
    is then consumed exactly once — first-occurrence novelty is a
    ``min(doc_id)`` window over the gram partition computed in the
    SAME flow as the per-doc counts, so there is no DAG branch that
    would re-scan and re-explode the corpus (the two-aggregates-plus-
    join formulation reads the parquet twice; a plan-pin test guards
    the single scan). No gram-level join anywhere: the wide frame is
    windowed and aggregated, never joined. All counts are exact
    BIGINTs; the rate is one int/int double division, round4-pinned."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    grams = (
        docs.select(
            "doc_id",
            "source",
            F.split(F.col("text"), r"\s+").alias("__t"),
        )
        .filter(F.size("__t") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__t) - 3),"
                    " i -> concat_ws(' ', __t[i], __t[i+1], __t[i+2]))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    from pyspark.sql import Window as W

    flagged = grams.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy("gram")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__novel"),
    )
    return flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum("__novel").cast("long").alias("n_novel"),
        round4(
            F.sum("__novel") / F.count(F.lit(1)).cast("double")
        ).alias("novelty_rate"),
    )


# ------------------------------------ cluster-balanced sampling ----

_CBS_QUOTA = 20

_CBS_ORACLE = f"""
    WITH {_KMEANS_A2_CTES},
    sizes AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS cell_size FROM a2 GROUP BY cid
    ),
    picked AS (
        SELECT cid, vec_id,
               CAST(row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS BIGINT) AS pick_rank
        FROM a2
    )
    SELECT p.cid AS cluster, p.vec_id, e.label, p.pick_rank,
           s.cell_size,
           least(s.cell_size, {_CBS_QUOTA}) AS cell_take
    FROM picked p
    JOIN sizes s ON s.cid = p.cid
    JOIN embeddings e ON e.vec_id = p.vec_id
    WHERE p.pick_rank <= {_CBS_QUOTA}
"""


@query("cluster_balanced_sample", oracle=_CBS_ORACLE)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving subsampling in EMBEDDING space — the
    cluster-balanced selection modern multimodal/data-curation
    pipelines use (re-derived from the published DataComp /
    cluster-based-selection pattern): k-means-cluster the corpus
    embeddings, then draw a fixed per-cluster quota uniformly inside
    each cluster. Uniform random sampling preserves the majority
    mode's dominance; per-cluster quotas keep the tail modes (rare
    topics, rare styles) represented in the subsample — the embedding-
    space analog of per-source quotas, stratifying on CONTENT instead
    of provenance.

    Composition, both engines replayed exactly: the engine-portable
    pinned k-means assignment (operators/similarity.
    kmeans_assign_portable — the SemDeDup/IVF oracle-parity device) +
    the md5-ranked per-key quota cap (operators/sampling.cap_per_key —
    deterministic pseudo-random order, reproducible on any engine and
    rerun). Output: every picked vector with its cluster, pick rank,
    cell size, and the cell's realized take — the audit columns a
    curator checks before accepting the subsample.

    Scale: assignment passes are map-side scans (centroid literals
    ride the plan; vectors never shuffle), the quota cap is ONE
    cluster-partitioned window, and at k in the thousands the same
    composition swaps the literal assigner for the fitted-center IVF
    route (ivf_build) — this entry is the oracle-replayable twin, the
    SemDeDup k=8 pattern."""
    from lab3_lakehouse_spark.operators import sampling as sampling_ops

    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = sim_ops.kmeans_assign_portable(
        emb, "vec_id", "embedding", dim=_SEMDEDUP_DIM, k=_SEMDEDUP_K
    )
    sized = assigned.withColumn(
        "cell_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster")).cast("long"),
    )
    picked = sampling_ops.cap_per_key(
        sized,
        key_col="cluster",
        k=_CBS_QUOTA,
        id_col="vec_id",
        rank_col="pick_rank",
    )
    return picked.select(
        "cluster",
        "vec_id",
        "label",
        "pick_rank",
        "cell_size",
        F.least("cell_size", F.lit(_CBS_QUOTA)).cast("long").alias("cell_take"),
    )


# ------------------------------------- vocabulary coverage curve ----

_VOCAB_SIZES = (100, 500, 1000, 2000)

_VOCAB_COVERAGE_ORACLE = f"""
    WITH wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w
            FROM documents
        ) q
        WHERE len(w) > 0
        GROUP BY w
    ),
    rk AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS vocab_total
        FROM wc
    )
    SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN rk.r <= v.vocab_size THEN rk.c ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           tot.total_tokens,
           tot.vocab_total,
           {sql_round4(
               "sum(CASE WHEN rk.r <= v.vocab_size THEN rk.c ELSE 0 END)"
               " / CAST(tot.total_tokens AS DOUBLE)"
           )} AS coverage
    FROM rk
    CROSS JOIN (SELECT unnest({list(_VOCAB_SIZES)}) AS vocab_size) v
    CROSS JOIN tot
    GROUP BY v.vocab_size, tot.total_tokens, tot.vocab_total
"""


@query("vocab_coverage_curve", oracle=_VOCAB_COVERAGE_ORACLE)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary SIZING table: for each candidate vocabulary
    size, the corpus token share covered by the top-N most frequent
    words — the Zipf-tail curve that decides how large a word-level (or
    merge-level) vocabulary must be before the OOV/byte-fallback rate
    is acceptable. heaps_vocabulary_growth answers "how fast does the
    vocab grow", good_turing_oov_estimate answers "how much mass is
    unseen"; this answers the design question in between: "what does a
    vocab of size N actually buy".

    Plan: ONE corpus pass collapses to the word-frequency vocabulary
    (the bpe_train_apply collapse); ranks come from the two-phase
    bucketed global ranking (operators/windows.global_row_number — no
    single-partition sort on the vocab, which at web scale is tens of
    millions of rows); each candidate size is then a conditional exact
    BIGINT sum in ONE grouped pass over the ranked vocab (sizes ride a
    4-element explode, not separate jobs). The 1-row corpus totals
    broadcast back. Exact integers everywhere; the coverage share is
    one int/int double division, round4-pinned."""
    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = win_ops.global_row_number(
        wc, metric="c", tie_breakers=("w",), rank_col="__r", ascending=False
    )
    # after the explode every vocab_size group sees the FULL vocab
    # exactly once, so the corpus totals fall out of the same grouped
    # pass — no second branch re-reading the corpus (the novelty-op
    # single-consumption rule)
    sizes = F.array(*[F.lit(s) for s in _VOCAB_SIZES])
    return (
        ranked.select(
            "c", "__r", F.explode(sizes).alias("vocab_size")
        )
        .groupBy("vocab_size")
        .agg(
            F.sum(
                F.when(F.col("__r") <= F.col("vocab_size"), F.col("c"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered_tokens"),
            F.sum("c").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_total"),
        )
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            "covered_tokens",
            "total_tokens",
            "vocab_total",
            round4(
                F.col("covered_tokens")
                / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )
