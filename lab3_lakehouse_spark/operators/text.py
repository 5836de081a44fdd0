"""Text-analysis operators for training-data pipelines (north-star
surface): token counting, quality scoring, language-ID heuristics,
fingerprinting. All JVM-side Catalyst expressions — these run in the
scan pipeline with zero shuffles, so they cost ~nothing at 100 TB
beyond the scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny english stopword set used for ratio features (deterministic,
#: shared with oracle SQL — keep sorted).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "that", "the", "to", "with",
)

#: BPE-ish pre-tokenizer: word pieces, digit runs, or single
#: non-alphanumeric marks (RE2/Java compatible — no lookarounds).
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def whitespace_tokens(text: Column | str) -> Column:
    return F.split(F.col(text) if isinstance(text, str) else text, r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Regex sub-word token count (approximates BPE pre-tokenization)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def stopword_count(text: Column | str) -> Column:
    toks = whitespace_tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach standard quality-signal columns: n_tokens, mean token
    length, stopword ratio, punctuation ratio, digit ratio. Heuristics in
    the Gopher/C4 filtering tradition, expressed as Catalyst columns."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_chars = F.length(t).cast("double")
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "mean_token_len": (n_chars - (n_tok - F.lit(1)).cast("double")) / n_tok.cast("double"),
            "stopword_ratio": stopword_count(t).cast("double") / n_tok.cast("double"),
            "punct_ratio": F.size(
                F.regexp_extract_all(t, F.lit("[.,;:!?]"), 0)
            ).cast("double") / n_chars,
            "digit_ratio": F.size(
                F.regexp_extract_all(t, F.lit("[0-9]"), 0)
            ).cast("double") / n_chars,
        }
    )


def _max_run_length(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements in a SORTED
    array — i.e. the count of the most frequent element. One O(len)
    ``aggregate`` fold per row, all integer arithmetic (exact on any
    engine), zero shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, re-derived
    from the published heuristics): fraction of tokens taken by the most
    frequent token, and the duplicate fraction of word 2-grams /
    3-grams. High values flag boilerplate/spam for corpus filtering.

    All per-row Catalyst expressions — integer counts and exact int/int
    double divisions (bit-identical cross-engine, no rounding needed),
    computed in the scan pipeline with ZERO shuffles; at 100 TB this
    costs only the scan it is fused into.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")

    def dup_ngram_fraction(n: int) -> Column:
        n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        shifted = [F.slice(toks, 1 + j, n_grams) for j in range(n)]
        grams = F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
        )
        return F.when(
            n_grams > 0,
            (n_grams - F.size(F.array_distinct(grams))).cast("double")
            / n_grams.cast("double"),
        )

    n_tok = F.size(toks)
    return df.withColumns(
        {
            "n_tokens": n_tok.cast("long"),
            "top_token_ratio": _max_run_length(F.array_sort(toks)).cast("double")
            / n_tok.cast("double"),
            "dup_bigram_fraction": dup_ngram_fraction(2),
            "dup_trigram_fraction": dup_ngram_fraction(3),
        }
    )


#: PII detector patterns — the Java-regex / RE2 common subset (char
#: classes + bounded repetition + \b), so Spark's regexp_* and any
#: RE2-based engine (DuckDB, Go) agree match-for-match. Ordered dict:
#: redaction applies in this order (patterns are non-overlapping).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Scrub PII from a text column: replace every match of each
    detector pattern with ``<TYPE>`` and attach per-type match counts
    (``n_<type>``, counted on the ORIGINAL text) for audit accounting.

    JVM-side ``regexp_replace``/``regexp_count`` in the scan pipeline —
    zero shuffle, linear in text size, the standard pre-training
    scrubbing pass. Patterns stay in the Java/RE2 common subset so
    results are engine-portable.
    """
    patterns = PII_PATTERNS if patterns is None else patterns
    out_col = out_col or f"{text_col}_redacted"
    src = F.col(text_col)
    redacted = src
    counts: dict[str, Column] = {}
    for name, pat in patterns.items():
        counts[f"n_{name}"] = F.regexp_count(src, F.lit(pat)).cast("long")
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.withColumns({**counts, out_col: redacted})


#: marker-word tables for the n-gram language-ID heuristic. Real
#: pipelines use fastText/CLD3; the heuristic keeps the operator
#: dependency-free and deterministic (and SQL-expressible for the
#: oracle check).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "los"),
    "de": ("der", "die", "das"),
    "fr": ("le", "les", "des"),
    "zh": ("de", "shi", "le"),
}


def winnowed_fingerprints(text: Column | str, k: int = 5, w: int = 4) -> Column:
    """Document fingerprints via winnowing (Schleimer et al., MOSS):
    xxhash64 each k-word shingle, then keep the minimum hash of every
    sliding window of w consecutive shingle hashes. Guarantees any
    shared run of ≥ w+k-1 words between two documents contributes at
    least one shared fingerprint — the rolling-hash fingerprint set used
    for copy detection at corpus scale.

    Pure Catalyst (split → sequence → transform → slice → array_min);
    returns array<long> of distinct fingerprints, position-independent.
    """
    from lab3_lakehouse_spark.operators.dedup import shingle_hashes

    return winnowed_fingerprints_from_shingle_hashes(shingle_hashes(text, k), w)


def winnowed_fingerprints_from_shingle_hashes(hashes: Column, w: int = 4) -> Column:
    """Winnowing over a precomputed shingle-hash array — split out so
    callers that need several shingle widths of the same document (e.g.
    doc_fingerprint_matches) hash the tokens once and share the frame."""
    n_windows = F.greatest(F.size(hashes) - (w - 1), F.lit(1))
    # window-min via arrays_zip of w shifted copies + least(): every
    # step O(len) per doc. (transform(idx, i -> array_min(slice(h, i, w)))
    # re-slices per element — O(len·w) interpreted, measured 10×+ slower.)
    shifted = [F.slice(hashes, 1 + j, n_windows) for j in range(w)]
    return F.array_distinct(
        F.transform(
            F.arrays_zip(*shifted),
            lambda s: F.least(*[s[str(j)] for j in range(w)]),
        )
    )


def ngram_overlap(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: for every (corpus doc, benchmark doc)
    pair sharing at least one distinct word n-shingle, count the shared
    shingles. Returns ``(doc_id, bench_id, n_overlap, n_shingles)``
    with ``n_shingles`` = the corpus doc's distinct-shingle count, so
    callers derive the overlap fraction ``n_overlap / n_shingles`` (the
    "what part of this training doc appears in the test set" measure
    used for n-gram decontamination of pretraining corpora).

    Scale design: both sides explode to constant-width
    ``(id, shingle_hash)`` rows and meet in ONE equi-join on the 64-bit
    xxhash64 shingle key — never doc×doc. The join's fan-out is bounded
    by shingle document frequency; high-DF shingles (boilerplate) are
    the skew risk, so ``max_df`` drops shingles indexed by more than
    that many benchmark docs before the join (standard stop-gram
    filtering — contamination evidence should be rare n-grams anyway).
    """
    from lab3_lakehouse_spark.operators.dedup import shingle_hashes

    c = corpus.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(text_col, shingle_n).alias("__s"),
    ).select(
        "doc_id",
        F.size("__s").cast("long").alias("n_shingles"),
        F.explode("__s").alias("__sh"),
    )
    b = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(shingle_hashes(text_col, shingle_n)).alias("__sh"),
    )
    if max_df is not None:
        keep = (
            b.groupBy("__sh")
            .agg(F.count_distinct("bench_id").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__sh")
        )
        b = b.join(keep, "__sh")
    return (
        c.join(b, "__sh")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.max("n_shingles").alias("n_shingles"),
        )
    )


def linear_tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document keyword extraction by tf-idf with a LINEAR inverse
    document frequency: ``score = tf · (N / df)``. Returns the top_k
    terms per document as ``(doc_id, term, tf, df, score)``,
    deterministically ordered (score desc, tf desc, term asc).

    Why linear idf instead of the textbook ``log(N/df)``: every
    arithmetic step here is integer counting plus one exact IEEE double
    multiply/divide, so the scores are bit-identical across engines
    (the repo's oracle-parity requirement — cross-engine ``log`` can
    differ in the last ulp, which flips ties). Log-idf is a one-line
    swap where cross-engine determinism isn't needed; the *shape* of
    the operator (explode → tf agg → df agg → score → windowed top-k)
    is identical.

    Scale: ONE tokenize+explode pass — df is derived from the tf frame
    ((doc, term) rows are unique after the tf agg, so
    ``df = count(*) per term`` over tf), which halves the token-stream
    work vs aggregating the exploded frame twice (measured 2.6 s →
    1.7 s at sf0.1). Then one broadcast of the tiny (term, df) side
    back onto tf + one window shuffle on doc — no joins wider than the
    vocabulary.
    """
    from pyspark.sql import Window

    from lab3_lakehouse_spark.operators.dedup import tokens

    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count_distinct(id_col).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs").cast("double")
            / F.col("df").cast("double"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .select("doc_id", "term", "tf", "df", "score")
    )


def lang_id_heuristic(text: Column | str) -> Column:
    """Language guess by marker-word hit count. Ties break in table
    order; 'und' when no marker matches. (greatest + first-match CASE —
    the same shape the SQL oracle uses.)"""
    toks = whitespace_tokens(
        F.lower(F.col(text) if isinstance(text, str) else text)
    )
    return lang_id_from_tokens(toks)


def lang_id_from_tokens(toks: Column) -> Column:
    """:func:`lang_id_heuristic` over an ALREADY-tokenized (lowercase)
    array — for chunk-level callers that hold token slices and should
    not pay a rejoin + re-split per window (code_switch_langmix)."""
    def _count(markers: tuple[str, ...]) -> Column:
        # NB: a `lambda w, m=m` default-arg closure would give the
        # lambda TWO parameters, which Spark's filter() interprets as
        # the (element, index) form — a real closure keeps it unary
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))

    scores = {lang: _count(m) for lang, m in LANG_MARKERS.items()}
    top = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(scores)):  # earlier langs win ties
        out = F.when((scores[lang] == top) & (top > 0), F.lit(lang)).otherwise(out)
    return out


def chunk_token_windows(
    df: DataFrame,
    text_col: str = "text",
    n_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Chunk documents into overlapping token windows of ``n_tokens``
    with step ``stride`` — the context-window preparation step for
    embedding / retrieval pipelines (chunk → embed → index). Documents
    shorter than one window yield exactly one whole-document chunk.

    Adds ``chunk_idx`` (0-based), ``chunk`` (space-rejoined text) and
    ``n_chunk_tokens``; other columns pass through (duplicated per
    chunk). Pure Catalyst: tokenize once, ``sequence``+``explode`` the
    window starts, ``slice`` each window — no Python, and the explode
    multiplies rows only by ~len/stride (bounded fan-out in the scan
    stage, the same shape every chunker has)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    last_start = F.greatest(
        F.ceil((F.size(toks) - F.lit(n_tokens)) / F.lit(stride)).cast("long"),
        F.lit(0).cast("long"),
    )
    out = df.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), last_start))
    )
    window = F.slice(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        (F.col("chunk_idx") * stride + 1).cast("int"),
        n_tokens,
    )
    return out.withColumns(
        {
            "chunk": F.array_join(window, " "),
            "n_chunk_tokens": F.size(window).cast("long"),
        }
    )


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization of a string column — the standard
    corpus-cleaning step that collapses combining-mark sequences
    (e + U+0301) into precomposed code points (é) so downstream exact
    dedup, shingling, and tokenization treat visually-identical text
    as identical bytes.

    Spark has no NFC builtin, so this is an Arrow-batched pandas UDF
    over Python's ``unicodedata`` (the same normalization tables DuckDB
    uses via utf8proc — probed equal on combining marks). Vectorized
    batch transfer, not per-row py4j; still the Python path, so run it
    ONCE at ingestion and persist, not per-query.
    """
    import pandas as pd  # noqa: F401 (signature typing)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def adjacent_token_pairs(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Explode each document into its adjacent whitespace-token pairs —
    the count unit of one BPE merge round (Sennrich et al. 2016: the
    next merge is the most frequent adjacent pair; at corpus scale the
    pair-counting pass IS the expensive step of tokenizer training).

    Emits columns ``tok_a``/``tok_b`` (plus any ``keep`` columns — pass
    the doc id for per-document consumers like the bigram-surprisal
    scorer), one row per adjacent pair. The pair list is built
    array-side (transform over an index sequence —
    whole-stage-codegen'd, no Python) and documents shorter than two
    tokens contribute nothing. Scale: pair explosion is partition-local
    (no shuffle); only the downstream count aggregates shuffle, keyed
    on the pair itself.
    """
    toks = whitespace_tokens(text_col)
    return (
        df.select(*keep, toks.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(
            *keep,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> struct(__t[i-1] AS tok_a, __t[i] AS tok_b))"
                )
            ).alias("__p"),
        )
        .select(*keep, "__p.tok_a", "__p.tok_b")
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    *,
    buckets: int = 1024,
    seed: int = 17,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — re-derived from the
    published method): featurize every document as hashed-bigram bucket
    counts, fit add-1-smoothed multinomials over the ``buckets``-bucket
    space for the TARGET slice (rows where ``target`` is true) and the
    RAW corpus, and score each document with the log importance ratio

        log w(d) = Σ_b c_d(b) · [ln p̂_target(b) − ln q̂_raw(b)]

    — the per-document evidence that it "looks like" the target domain.
    Resampling by these weights (weighted_sample_topn / Gumbel top-k)
    is how a pretraining corpus gets steered toward a quality domain
    without a trained classifier. Returns ``(id, n_grams,
    log_weight)`` with the weight UNROUNDED (query-layer callers apply
    round4 BEFORE any ranking, the catalog's float-rank rule).

    Cross-engine shape: bucket ids are ``portable_hash60(bigram) %
    buckets`` (md5 — identical in ANSI SQL); each ln's argument is one
    division of exactly-represented integer counts, so the two libms
    agree to ≤ 1 ulp and the per-document sum's aggregation-order noise
    dies in the caller's round4.

    Scale shape: one corpus scan explodes bigrams partition-locally;
    ONE keyed shuffle builds the (doc, bucket) counts; the raw/target
    bucket tables and both normalizers are ≤ ``buckets`` rows —
    broadcast — so the per-document scoring join never shuffles the
    corpus again. The bigram stream itself is never shuffled (the
    bucket tables aggregate map-side first).
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    n_g = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.transform(
        F.arrays_zip(F.slice(toks, 1, n_g), F.slice(toks, 2, n_g)),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    bk = df.select(
        F.col(id_col).alias("__id"),
        target.alias("__tgt"),
        F.explode(grams).alias("__g"),
    ).select(
        "__id", "__tgt", (portable_hash60(F.col("__g"), seed) % buckets).alias("__b")
    )
    docb = bk.groupBy("__id", "__b").agg(F.count(F.lit(1)).alias("__c"))
    rawb = bk.groupBy("__b").agg(F.count(F.lit(1)).alias("__cr"))
    tgtb = (
        bk.filter(F.col("__tgt"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__ct"))
    )
    nr = bk.agg(F.count(F.lit(1)).cast("double").alias("__nr"))
    nt = bk.filter(F.col("__tgt")).agg(
        F.count(F.lit(1)).cast("double").alias("__nt")
    )
    b = F.lit(float(buckets))
    ratio = (
        rawb.join(tgtb, "__b", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select(
            "__b",
            (
                F.log(
                    (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("__nt") + b)
                )
                - F.log((F.col("__cr") + F.lit(1.0)) / (F.col("__nr") + b))
            ).alias("__lr"),
        )
    )
    return (
        docb.join(F.broadcast(ratio), "__b")
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("long").alias("n_grams"),
            F.sum(F.col("__c") * F.col("__lr")).alias("log_weight"),
        )
        .select(F.col("__id").alias(id_col), "n_grams", "log_weight")
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical retrieval (Robertson–Spärck Jones, the Lucene/ES
    default scorer) — the sparse complement to the ANN family: given a
    ``(query_id, term, qtf)`` query frame, score every document

        Σ_t qtf · idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))

    with the Lucene idf ``ln(1 + (N − df + ½)/(df + ½))`` and return
    the top-``k`` docs per query (round4-before-rank, doc_id
    tie-break — the catalog float-rank rule).

    Cross-engine determinism: tf/df/dl/N are exact integers; avgdl is
    round4-PINNED before use so the saturation denominator is identical
    in both engines; k1+1 and 1−b ride as paired pinned literals; the
    only libm call is the idf ln over an exact-ratio argument (≤1 ulp,
    absorbed by the output round4).

    Scale shape: ONE corpus scan builds the postings (doc length rides
    the grouping key — no doc-keyed join-back); document frequencies
    join onto the ≤|terms| query frame, so idf math happens on a tiny
    frame; the postings then broadcast-join that frame on the term —
    effectively a semi-join that drops every non-query term before any
    aggregation — and the per-(query, doc) sum is one partial-agg
    shuffle. Top-k is a per-query window. Nothing corpus-sized is ever
    shuffled on anything but the (query, doc) score key.
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    posts = (
        df.select(
            F.col(id_col).alias("__doc"),
            F.size(toks).cast("long").alias("__dl"),
            F.explode(toks).alias("__term"),
        )
        .groupBy("__doc", "__dl", "__term")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    dfreq = posts.groupBy("__term").agg(
        F.countDistinct("__doc").cast("long").alias("__df")
    )
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    from lab3_lakehouse_spark.queries._util import round4 as _r4

    avgdl = posts.groupBy("__doc").agg(F.first("__dl").alias("__dl")).agg(
        _r4(F.avg("__dl")).alias("__avgdl")
    )
    qterms = (
        queries.select("query_id", F.col("term").alias("__term"), "qtf")
        .join(dfreq, "__term", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "__term",
            "qtf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.coalesce("__df", F.lit(0)) + F.lit(0.5))
                / (F.coalesce("__df", F.lit(0)) + F.lit(0.5))
            ).alias("__idf"),
        )
    )
    from pyspark.sql import Window

    k1p1, one_b = F.lit(float(k1 + 1.0)), F.lit(float(1.0 - b))
    sat = (F.col("__tf") * k1p1) / (
        F.col("__tf")
        + F.lit(float(k1))
        * (one_b + F.lit(float(b)) * F.col("__dl") / F.col("__avgdl"))
    )
    scored = (
        posts.join(F.broadcast(qterms), "__term")
        .crossJoin(F.broadcast(avgdl))
        .groupBy("query_id", F.col("__doc").alias(id_col))
        .agg(_r4(F.sum(F.col("qtf") * F.col("__idf") * sat)).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def bm25_build_postings(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(term, doc_id, tf, dl)`` postings from ONE corpus scan — the
    persistable BM25 index (the lexical twin of the MinHash band store,
    operators/dedup.banded_signatures). The doc length rides the
    grouping key, so no doc-keyed join-back is ever needed; every
    statistic BM25 scoring wants (tf, df, dl, N, Σdl) is derivable
    from this table plus a per-batch meta row without re-reading text.
    """
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def bm25_append_batch(
    store_root: str,
    batch: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 32,
) -> None:
    """Append one document batch to a persisted BM25 postings store —
    cost proportional to the BATCH, never the corpus: the existing
    store is NOT read (append-only parquet), so daily ingestion against
    a 100 TB index costs one scan of the day's crawl.

    Layout: ``{root}/postings`` is repartitioned on a term-hash bucket
    and sorted by term inside partitions, so the probe's ``term IN
    (…)`` predicate prunes row groups via parquet min/max — the probe
    reads index slivers, not the index. ``{root}/meta`` gets ONE
    ``(n_docs, dl_sum)`` row per appended batch; the probe aggregates
    this batches-sized sidecar for N and avgdl instead of scanning
    postings (the cusum_latest sidecar pattern).

    Contract (same as the signature store): doc ids are globally
    unique across batches — re-appending a document double-counts its
    df/tf. Use ``compact``-style offline maintenance if replays can
    happen.

    NULL-text docs are dropped from BOTH the postings and the meta
    row — the one-shot scorer's avgdl averages only over docs that
    produced postings (explode of NULL emits nothing), so counting
    NULL docs in ``n_docs`` while their (NULL) dl is skipped by the
    sum would silently shift avgdl's denominator and break the
    bit-identical-to-:func:`bm25_topk` guarantee on corpora with
    NULL text.
    """
    from lab3_lakehouse_spark import stores

    batch = batch.filter(F.col(text_col).isNotNull())
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    posts = bm25_build_postings(batch, id_col=id_col, text_col=text_col)
    stores.append_rows(
        posts,
        store_root,
        "postings",
        cluster_expr=F.pmod(F.xxhash64("term"), F.lit(buckets)),
        buckets=buckets,
        sort_cols=("term",),
    )
    meta = batch.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("dl_sum"),
    )
    stores.append_sidecar(meta, store_root)


def _bm25_pruned_postings(spark, store_root: str, terms: list) -> DataFrame:
    """The probe's index read: query vocabulary pushed as a ``term IN``
    parquet filter onto the clustered store — row groups of non-query
    terms are never read (pinned by
    tests/test_llmdata.py::test_bm25_store_probe_prunes_to_query_terms
    on THIS frame; the caller's localCheckpoint would hide the scan
    from the executed plan)."""
    from lab3_lakehouse_spark import stores

    return stores.pruned_read(spark, store_root, "postings", "term", terms)


def bm25_topk_from_store(
    spark,
    store_root: str,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    reuse: bool = True,
) -> DataFrame:
    """BM25 top-k against a PERSISTED postings store (built by
    :func:`bm25_append_batch`) — retrieval cost at 100 TB is an
    index PROBE, not a corpus scan: the ≤|terms| query vocabulary is
    collected (bounded metadata — query frames are human-sized) and
    pushed as a ``term IN (…)`` parquet filter, so only the matching
    terms' row groups are read from the clustered store; N and avgdl
    come from the batches-sized meta sidecar.

    Bit-identical to :func:`bm25_topk` over the same corpus: tf/df/dl
    are the same exact integers whichever path produced them; avgdl =
    round4(Σdl / N) equals round4(avg(dl)) because both are one IEEE
    division of exactly-represented integer sums; the scoring
    expression is shared literal-for-literal (k1+1 / 1−b pinned
    pairs, Lucene idf, round4-before-rank, id tie-break). NULL-text
    docs are excluded by BOTH paths (the one-shot scorer's explode
    emits nothing for them; the append drops them from postings AND
    the meta row), so the equality holds on corpora with NULLs too.
    """
    from lab3_lakehouse_spark.queries._util import round4 as _r4

    terms = [
        r["term"]
        for r in queries.select("term").distinct().collect()
    ]
    # feeds df-count AND scoring → one reuse point over the pruned scan
    # (``reuse=False`` skips the checkpoint so plan dumps/tests can see
    # the pushed In(term) scan; the pruned sliver then scans twice)
    posts = _bm25_pruned_postings(spark, store_root, terms)
    if reuse:
        posts = posts.localCheckpoint(eager=False)
    from lab3_lakehouse_spark import stores

    meta = stores.read_tier(spark, store_root, "meta")
    stats = meta.agg(
        F.sum("n_docs").cast("double").alias("__n"),
        _r4(
            F.sum("dl_sum").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("__avgdl"),
    )
    dfreq = posts.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("__df")
    )
    qterms = (
        queries.select("query_id", "term", "qtf")
        .join(F.broadcast(dfreq), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "term",
            "qtf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.coalesce("__df", F.lit(0)) + F.lit(0.5))
                / (F.coalesce("__df", F.lit(0)) + F.lit(0.5))
            ).alias("__idf"),
            F.col("__avgdl"),
        )
    )
    from pyspark.sql import Window

    k1p1, one_b = F.lit(float(k1 + 1.0)), F.lit(float(1.0 - b))
    sat = (F.col("tf") * k1p1) / (
        F.col("tf")
        + F.lit(float(k1))
        * (one_b + F.lit(float(b)) * F.col("dl") / F.col("__avgdl"))
    )
    scored = (
        posts.join(F.broadcast(qterms), "term")
        .groupBy("query_id", F.col("doc_id").alias(id_col))
        .agg(_r4(F.sum(F.col("qtf") * F.col("__idf") * sat)).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def coverage_crossencoder_udf(row_counter=None):
    """Deterministic stand-in for a neural cross-encoder, as a REAL
    Arrow-batched pandas UDF over (query_text, doc_text) pairs: scores
    query-term coverage (|qtokens ∩ dtokens| / |qtokens|, lowercase
    whitespace tokens) with numpy/pandas — the exact seam a
    torch/onnx reranker drops into (same signature, same batch shape;
    no model runtime ships in this environment — the documented
    FakeCodec-class boundary). ``row_counter`` (a Spark accumulator)
    counts rows the UDF actually scores, so tests can PIN that the
    expensive stage only ever sees the bounded candidate pair frame,
    never the corpus — the entire economics of rerankers at 100 TB."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(qt, dt):
        if row_counter is not None:
            row_counter.add(len(qt))
        out = []
        for q, d in zip(qt, dt):
            qtok = set(str(q).lower().split())
            dtok = set(str(d).lower().split())
            out.append(len(qtok & dtok) / len(qtok) if qtok else 0.0)
        return pd.Series(out, dtype="float64")

    return score


def crossencoder_rerank(
    cands: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    qtext_col: str = "__qtext",
    dtext_col: str = "__dtext",
    scorer=None,
    tie_cols: tuple[str, ...] = ("rrf_rank",),
) -> DataFrame:
    """Second-stage rerank of a BOUNDED candidate frame with a pairwise
    pandas-UDF scorer — the production slot rerank_fused_candidates
    documents: first-stage retrieval proposes ≤ |queries|·depth pairs,
    both texts are fetched onto that frame via broadcast joins (done by
    the CALLER — this operator never touches the corpus), and only
    those rows pass through the scorer. Ranking: score desc, then
    ``tie_cols`` asc (first-stage rank), then id — the
    rerank_fused_candidates tie policy. Swap ``scorer`` for a
    model-backed pandas UDF to deploy a real cross-encoder; every
    other plan node is unchanged."""
    from pyspark.sql import Window

    if scorer is None:
        scorer = coverage_crossencoder_udf()
    scored = cands.withColumn(
        "ce_score", scorer(F.col(qtext_col), F.col(dtext_col))
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("ce_score").desc(),
        *[F.col(c).asc() for c in tie_cols],
        F.col(id_col).asc(),
    )
    return scored.withColumn("rerank", F.row_number().over(w).cast("long"))


def bm25_compact_store(
    spark,
    src_root: str,
    dst_root: str,
    *,
    buckets: int = 32,
) -> None:
    """Offline maintenance for a BM25 postings store: every append
    clusters its OWN batch by term, so a store fed per-micro-batch
    (stream_bm25_append) fragments — a probe's ``term IN`` pushdown
    must open every batch's files even though each contributes a
    sliver. Compaction re-clusters the whole postings tier on the term
    hash (one read + one shuffle + one write — the read is allowed
    here: compaction IS the offline pass, unlike appends, which never
    read) and folds the per-batch meta sidecar into one row. Scoring
    from the compacted store is IDENTICAL — postings rows are unique
    per (term, doc) across batches (globally-unique doc-id contract),
    so compaction moves rows, never merges or drops them.

    Writes to ``dst_root`` (a NEW tier): swap-in is the caller's
    atomic-rename/catalog-repoint step, so probes against ``src_root``
    are never disturbed mid-compaction."""
    from lab3_lakehouse_spark import stores

    stores.gc_write(
        stores.read_tier(spark, src_root, "postings"),
        dst_root,
        "postings",
        cluster_expr=F.pmod(F.xxhash64("term"), F.lit(buckets)),
        buckets=buckets,
        sort_cols=("term",),
    )
    meta = stores.read_tier(spark, src_root, "meta").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("dl_sum").cast("long").alias("dl_sum"),
    )
    stores.gc_write(meta, dst_root, "meta", coalesce=1)
