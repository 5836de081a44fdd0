"""Scale-pattern queries (round 4): relational sketches, runtime-filter
joins, corpus quality signals, product analytics, and filtered vector
search — each a thin named query over operators that stay shuffle-lean
at 100 TB.

Every query here carries a FULL oracle twin (not just a contract): the
probabilistic structures (count-min, Bloom) use the md5-derived
portable hash (operators/sketches.py), so DuckDB rebuilds the exact
same sketch cell-by-cell and the driver's differential check covers
sketch *values* cross-engine.

No counterpart in the reference (SURVEY §2.7 gap surface); scale notes
per query docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab3_lakehouse_spark.catalog import fan_out, load_table
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import events as events_ops
from lab3_lakehouse_spark.operators import sampling as sampling_ops
from lab3_lakehouse_spark.operators import sketches
from lab3_lakehouse_spark.operators import similarity as sim_ops
from lab3_lakehouse_spark.operators import text as text_ops
from lab3_lakehouse_spark.queries.registry import body, query
from lab3_lakehouse_spark.queries._util import round4, sql_round4
from lab3_lakehouse_spark.session import tune_session

# ------------------------------------------------------------- sketches ----

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 256, 15

_CMS_SQL_BUCKETS = ", ".join(
    f"{sketches.sql_hash60('token', r)} % {_CMS_WIDTH}" for r in range(_CMS_DEPTH)
)
_CMS_SQL_ROWS = ", ".join(str(r) for r in range(_CMS_DEPTH))


@query(
    "cms_heavy_tokens_contract",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
    ), exact AS (
        SELECT token, count(*) AS exact_n FROM toks GROUP BY token
    ), top AS (
        SELECT token, exact_n FROM exact
        QUALIFY row_number() OVER (ORDER BY exact_n DESC, token) <= {_CMS_TOPK}
    ), cells AS (
        SELECT r, b, count(*) AS cnt
        FROM (SELECT unnest([{_CMS_SQL_ROWS}]) AS r,
                     unnest([{_CMS_SQL_BUCKETS}]) AS b
              FROM toks)
        GROUP BY r, b
    ), est AS (
        SELECT token, min(coalesce(cnt, 0)) AS cms_n
        FROM (SELECT token, unnest([{_CMS_SQL_ROWS}]) AS r,
                     unnest([{_CMS_SQL_BUCKETS}]) AS b
              FROM top) kb
        LEFT JOIN cells USING (r, b)
        GROUP BY token
    )
    SELECT token, exact_n, cms_n, cms_n >= exact_n AS no_undercount
    FROM top JOIN est USING (token)
    """,
)
def cms_heavy_tokens_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of the corpus token stream, checked against the
    exact top-15 heavy tokens.

    The sketch is a ≤ depth·width cell TABLE built in one narrow pass
    with map-side combine (operators/sketches.py:cms_build) — at 100 TB
    the shuffle ships only per-partition cell grids, never tokens, and
    per-day cell tables merge to any grain by re-summing (the
    store-sketches-not-numbers design, same as the HLL rollup). The
    no-undercount column is the CMS guarantee made driver-checkable;
    the cms_n values themselves are ALSO oracle-verified because the
    hash is engine-portable.
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(dedup_ops.tokens("text")).alias("token")
    ).localCheckpoint(eager=False)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("token")).limit(_CMS_TOPK)
    cms = sketches.cms_build(toks, "token", _CMS_DEPTH, _CMS_WIDTH)
    est = sketches.cms_estimate(cms, top.select("token"), "token", _CMS_DEPTH, _CMS_WIDTH)
    return (
        top.join(est, "token")
        .select(
            "token",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("no_undercount"),
        )
    )


_BLOOM_BITS, _BLOOM_K = 4096, 3


def _bloom_sql_pos(expr: str, s: int) -> str:
    return f"{sketches.sql_hash60(expr, 100 + s)} % {_BLOOM_BITS}"


@query(
    "bloom_filter_semi_join",
    oracle=f"""
    WITH build AS (
        SELECT c_custkey AS key FROM customer WHERE c_acctbal > 9000
    ), bits AS (
        SELECT DISTINCT unnest([
            {_bloom_sql_pos('key', 0)},
            {_bloom_sql_pos('key', 1)},
            {_bloom_sql_pos('key', 2)}]) AS bit
        FROM build
    ), probe AS (
        SELECT o.o_custkey,
               b0.bit IS NOT NULL AND b1.bit IS NOT NULL
                   AND b2.bit IS NOT NULL AS bloom_pass,
               bl.key IS NOT NULL AS true_match
        FROM orders o
        LEFT JOIN bits b0 ON {_bloom_sql_pos('o.o_custkey', 0)} = b0.bit
        LEFT JOIN bits b1 ON {_bloom_sql_pos('o.o_custkey', 1)} = b1.bit
        LEFT JOIN bits b2 ON {_bloom_sql_pos('o.o_custkey', 2)} = b2.bit
        LEFT JOIN build bl ON o.o_custkey = bl.key
    )
    SELECT count(*)                                        AS n_probe,
           count(CASE WHEN bloom_pass THEN 1 END)          AS n_pass,
           count(CASE WHEN true_match THEN 1 END)          AS n_true,
           count(CASE WHEN bloom_pass AND NOT true_match THEN 1 END)
                                                           AS n_false_pos,
           count(CASE WHEN true_match AND NOT bloom_pass THEN 1 END) = 0
                                                           AS no_false_negatives,
           {sql_round4('''count(CASE WHEN bloom_pass AND NOT true_match THEN 1 END)::DOUBLE
               / (count(*) - count(CASE WHEN true_match THEN 1 END))''')} AS fp_rate
    FROM probe
    """,
)
def bloom_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern: Bloom filter built from a selective
    dimension predicate (high-balance customers), probed against the
    orders fact table *without shuffling it* — the ≤ m-row set-bit
    table is broadcast into the fact scan stage, which is how a 100 TB
    join prunes its probe side before the exchange. Emits the filter's
    quality sheet: no-false-negatives (hard guarantee) + measured
    false-positive rate, all rebuilt bit-for-bit by the oracle.
    """
    tune_session(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("key")
    )
    bits = sketches.bloom_build(build, "key", _BLOOM_BITS, _BLOOM_K)
    probed = sketches.bloom_probe(
        orders.select("o_custkey"), F.col("o_custkey"), bits, _BLOOM_BITS, _BLOOM_K
    )
    probed = probed.join(
        F.broadcast(build), probed["o_custkey"] == build["key"], "left"
    ).withColumn("true_match", F.col("key").isNotNull())
    n_fp = F.count(F.when(F.col("bloom_pass") & ~F.col("true_match"), 1))
    n_true = F.count(F.when(F.col("true_match"), 1))
    return probed.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_pass"),
        n_true.alias("n_true"),
        n_fp.alias("n_false_pos"),
        (F.count(F.when(F.col("true_match") & ~F.col("bloom_pass"), 1)) == 0).alias(
            "no_false_negatives"
        ),
        round4(
            n_fp.cast("double") / (F.count(F.lit(1)) - n_true)
        ).alias("fp_rate"),
    )


# -------------------------------------------------- corpus quality ----


@query(
    "rare_token_doc_quality",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
    ), corpus AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), total AS (
        SELECT count(*) AS total FROM toks
    )
    SELECT doc_id,
           count(*)                                   AS n_tokens,
           count(CASE WHEN cnt <= 2 THEN 1 END)       AS n_rare,
           {sql_round4('''count(CASE WHEN cnt <= 2 THEN 1 END)::DOUBLE
               / count(*)''')}                        AS rare_frac,
           {sql_round4('''(sum(cnt)::DOUBLE * 1000000.0)
               / (max(total)::DOUBLE * count(*)::DOUBLE)''')} AS avg_freq_ppm
    FROM toks JOIN corpus USING (token), total
    GROUP BY doc_id
    """,
)
def rare_token_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signals per document: rare-token ratio
    (OCR-garbage / mojibake detector — junk text is dominated by tokens
    the corpus has never seen twice) and mean token corpus-frequency in
    ppm. A self-join unigram model: one token-level aggregate builds
    the 'model', one postings join scores every document — both shuffle
    fixed-width (token-hash, count) pairs, the same postings pattern as
    decontamination (operators/text.py:218). Integer sums keep the
    score exact cross-engine (no float accumulation order anywhere
    before the final two divisions).
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(dedup_ops.tokens("text")).alias("token")
    ).localCheckpoint(eager=False)
    corpus = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    per_doc = (
        toks.join(corpus, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("cnt") <= 2, 1)).alias("n_rare"),
            F.sum("cnt").alias("__sum_cnt"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "n_rare",
        round4(F.col("n_rare").cast("double") / F.col("n_tokens")).alias("rare_frac"),
        round4(
            (F.col("__sum_cnt").cast("double") * F.lit(1000000.0))
            / (F.col("total").cast("double") * F.col("n_tokens").cast("double"))
        ).alias("avg_freq_ppm"),
    )


# ---------------------------------------------- product analytics ----


@query(
    "funnel_stage_conversion",
    oracle=f"""
    WITH s AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view')     AS t_view,
               min(ts) FILTER (WHERE event_type = 'click')    AS t_click,
               min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*)                          AS n_users,
           count(t_view)                     AS n_view,
           count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
           count(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END)
                                             AS n_full_funnel,
           {sql_round4('''count(CASE WHEN t_click > t_view THEN 1 END)::DOUBLE
               / count(t_view)''')}          AS click_rate,
           {sql_round4('''count(CASE WHEN t_click > t_view AND t_purchase > t_click
               THEN 1 END)::DOUBLE
               / count(CASE WHEN t_click > t_view THEN 1 END)''')} AS purchase_rate
    FROM s
    """,
)
def funnel_stage_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel view → click → purchase: one grouped pass
    builds per-user first-touch timestamps via conditional MIN (no
    pivot, no self-joins), one global agg computes stage conversion.
    Scale shape: a single shuffle on user_id then a scalar agg —
    the canonical funnel plan for a 100 TB event log.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    s = events_ops.first_touch_stages(ev, ["view", "click", "purchase"])
    clicked = F.col("t_click") > F.col("t_view")
    full = clicked & (F.col("t_purchase") > F.col("t_click"))
    return s.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_view_then_click"),
        F.count(F.when(full, 1)).alias("n_full_funnel"),
        round4(
            F.count(F.when(clicked, 1)).cast("double") / F.count("t_view")
        ).alias("click_rate"),
        round4(
            F.count(F.when(full, 1)).cast("double") / F.count(F.when(clicked, 1))
        ).alias("purchase_rate"),
    )


@query(
    "time_decay_user_value",
    oracle=f"""
    WITH ref AS (SELECT max(ts::DATE) AS ref_day FROM events)
    SELECT user_id,
           count(*) AS n_events,
           {sql_round4('''sum(value / CAST(1::BIGINT <<
               least(date_diff('day', ts::DATE, ref_day), 62) AS DOUBLE))''')} AS decayed_value
    FROM events, ref
    GROUP BY user_id
    """,
)
def time_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user scoring with a one-day half-life:
    weight = 2^-(days before newest event), computed as an exact
    integer shift (1<<days) so the weights are bit-identical
    cross-engine (no libm exp/pow in the plan). The reference day is a
    broadcast one-row aggregate; the scoring pass is a single grouped
    agg — recency features for 100 TB of events at one shuffle.

    The shift exponent is clamped to 62 on BOTH engines: Java masks
    shifts mod 64 (day 63 would yield a negative weight, day 64 weight
    1 again — silently corrupting multi-month logs), while DuckDB
    raises Out-of-Range at shift 63. Events ≥ 62 days old all get the
    same floor weight 2⁻⁶² ≈ 2e-19 — zero at double precision relative
    to any recent event, so the clamp changes no meaningful score.
    Planted >63-day-span test: tests/test_scaleops.py.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("ref_day"))
    weight_div = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT),"
        " least(CAST(datediff(ref_day, to_date(ts)) AS INT), 62)) AS DOUBLE)"
    )
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round4(F.sum(F.col("value") / weight_div)).alias("decayed_value"),
        )
    )


@query(
    "events_gap_filled_daily",
    oracle="""
    WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT ts::DATE AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT s.day::TIMESTAMP AS day, t.event_type, coalesce(d.n, 0) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
    """,
)
def events_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resample (the hypertable ``time_bucket_gapfill``
    pattern): a date spine generated from the observed bounds ×
    distinct series keys, left-joined onto the real per-day counts with
    zero-fill. The spine is O(days × keys) — tiny by construction —
    so the grid side broadcasts and the only data-sized operation is
    the one grouped count.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return events_ops.gap_filled_counts(ev, grain="day").select(
        F.col("bucket").alias("day"), "event_type", "n_events"
    )


_MI_ORACLE = f"""
    WITH joint AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(count(*) AS BIGINT) AS nxy
        FROM orders GROUP BY x, y
    ),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM joint GROUP BY y),
    n AS (SELECT CAST(sum(nxy) AS DOUBLE) AS n FROM joint),
    hx AS (SELECT sum(-(mx.nx / n.n) * ln(mx.nx / n.n)) AS h
           FROM mx CROSS JOIN n),
    hy AS (SELECT sum(-(my.ny / n.n) * ln(my.ny / n.n)) AS h
           FROM my CROSS JOIN n)
    SELECT CAST(max(n.n) AS BIGINT) AS n_rows,
           {sql_round4('max(hx.h)')} AS h_priority,
           {sql_round4('max(hy.h)')} AS h_status,
           {sql_round4('''sum((joint.nxy / n.n)
               * ln(joint.nxy * n.n / (mx.nx * CAST(my.ny AS DOUBLE))))''')}
               AS mutual_info
    FROM joint JOIN mx USING (x) JOIN my USING (y)
    CROSS JOIN n CROSS JOIN hx CROSS JOIN hy
"""


@query("priority_status_mutual_info", oracle=_MI_ORACLE)
def priority_status_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order
    priority × order status) — the dependence profile a single-column
    entropy report (categorical_entropy_report) can't see: MI ≈ 0 says
    the columns are independent (safe to model separately / drop one
    from a quasi-identifier set), MI near min(H_x, H_y) says one
    determines the other. Computed from the ≤ |X|·|Y| joint-count cell
    frame: one grouped pass over the fact table, marginals re-derived
    from the cells (no second scan), entropies and MI as exact-ratio
    sums. Each marginal entropy is summed DIRECTLY over its own tiny
    marginal frame (mx / my cross-joined with the 1-row total) — never
    via an anchor-cell filter over the joint grid, which would silently
    drop the -p·ln(p) term of any category that does not co-occur with
    the anchor value on a sparse joint support. ln over exact ratios,
    round4 output — the established libm policy."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    joint = orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    joint = joint.localCheckpoint(eager=False)  # tiny; feeds 4 consumers
    mx = joint.groupBy("x").agg(F.sum("nxy").cast("long").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").cast("long").alias("ny"))
    n = joint.agg(F.sum("nxy").cast("double").alias("n"))
    px = F.col("nx") / F.col("n")
    py = F.col("ny") / F.col("n")
    hx = mx.crossJoin(F.broadcast(n)).agg(
        F.sum(-px * F.log(px)).alias("hx")
    )
    hy = my.crossJoin(F.broadcast(n)).agg(
        F.sum(-py * F.log(py)).alias("hy")
    )
    cells = (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
    )
    return cells.agg(
        F.max("n").cast("long").alias("n_rows"),
        round4(F.max("hx")).alias("h_priority"),
        round4(F.max("hy")).alias("h_status"),
        round4(
            F.sum(
                (F.col("nxy") / F.col("n"))
                * F.log(
                    F.col("nxy") * F.col("n")
                    / (F.col("nx") * F.col("ny").cast("double"))
                )
            )
        ).alias("mutual_info"),
    )


def _trimmed_mean_oracle(q_frac: float) -> str:
    return f"""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(2 * floor({q_frac} * max(n)) AS BIGINT) AS n_trimmed,
           {sql_round4('avg(value)')} AS raw_mean,
           {sql_round4(f'''avg(value) FILTER (
               WHERE rn > floor({q_frac} * n)
                 AND rn <= n - floor({q_frac} * n))''')} AS trimmed_mean
    FROM ranked GROUP BY event_type
    """


_TRIM_Q = 0.1


@query("trimmed_mean_event_values", oracle=_trimmed_mean_oracle(_TRIM_Q))
def trimmed_mean_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 10% two-sided trimmed mean — the robust location
    estimator between the mean (outlier-hostage) and the median
    (discards 98% of the data): drop the lowest and highest
    floor(q·n) values per group, average the rest. EXACT and
    order-free: the trim boundary is a rank cut, and when TIES straddle
    it the mean is unaffected (equal values either side), so the
    event_id tie-break only pins the rank order, never the estimate —
    both engines trim the identical multiset.

    Scale shape: one per-group window (rank + count over the group
    key — the standard partitioned-window discipline; no global sort)
    and one grouped conditional average. Output bounded by group
    count."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    )
    k = F.floor(F.lit(_TRIM_Q) * F.col("__n"))
    keep = (F.col("__rn") > k) & (F.col("__rn") <= F.col("__n") - k)
    return ranked.groupBy("event_type").agg(
        F.max("__n").cast("long").alias("n"),
        (F.lit(2) * F.floor(F.lit(_TRIM_Q) * F.max("__n"))).cast("long").alias(
            "n_trimmed"
        ),
        round4(F.avg("value")).alias("raw_mean"),
        round4(F.avg(F.when(keep, F.col("value")))).alias("trimmed_mean"),
    )



def _winsorized_oracle(q_frac: float) -> str:
    return f"""
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ),
    cuts AS (
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS n,
               CAST(floor({q_frac} * max(n)) AS BIGINT) AS k,
               max(CASE WHEN rn = CAST(floor({q_frac} * n) AS BIGINT) + 1
                        THEN value END) AS lo,
               max(CASE WHEN rn = n - CAST(floor({q_frac} * n) AS BIGINT)
                        THEN value END) AS hi
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type, c.n, c.k,
           {sql_round4('avg(r.value)')} AS raw_mean,
           {sql_round4('avg(least(greatest(r.value, c.lo), c.hi))')}
               AS winsorized_mean
    FROM ranked r JOIN cuts c USING (event_type)
    GROUP BY r.event_type, c.n, c.k
    """


@query("winsorized_mean_event_values", oracle=_winsorized_oracle(_TRIM_Q))
def winsorized_mean_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 10% two-sided WINSORIZED mean — the robust companion
    to trimmed_mean_event_values that keeps sample size (outliers are
    CLAMPED to the boundary order statistics, not dropped — the
    estimator of choice when group sizes are small enough that
    discarding 20% hurts). Exact and order-free like the trim: the
    clamp bounds are the rank-(k+1) and rank-(n−k) values, and when
    ties straddle a cut the clamped copies already equal the boundary
    value, so the id tie-break pins rank order but never the estimate.

    Plan: one per-group ranking window, one grouped pass extracting
    the two boundary order statistics (conditional max — no second
    sort), broadcast back, one clamped average. Output bounded by
    group count."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    ).localCheckpoint(eager=False)  # feeds cuts AND the clamped average
    k = F.floor(F.lit(_TRIM_Q) * F.col("__n")).cast("long")
    cuts = ranked.groupBy("event_type").agg(
        F.max("__n").cast("long").alias("n"),
        F.floor(F.lit(_TRIM_Q) * F.max("__n")).cast("long").alias("k"),
        F.max(F.when(F.col("__rn") == k + F.lit(1), F.col("value"))).alias(
            "__lo"
        ),
        F.max(
            F.when(F.col("__rn") == F.col("__n") - k, F.col("value"))
        ).alias("__hi"),
    )
    clamped = F.least(
        F.greatest(F.col("value"), F.col("__lo")), F.col("__hi")
    )
    return (
        ranked.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n", "k")
        .agg(
            round4(F.avg("value")).alias("raw_mean"),
            round4(F.avg(clamped)).alias("winsorized_mean"),
        )
    )


@query(
    "mad_outlier_report",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT event_type,
           count(*) AS n,
           {sql_round4('max(med)')} AS med,
           {sql_round4('max(mad)')} AS mad,
           count(CASE WHEN abs(value - med) > mad * 4.4478 THEN 1 END)
               AS n_outliers
    FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY event_type
    """,
)
def mad_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation
    (3σ-equivalent threshold 3·1.4826·MAD, folded to the single literal
    4.4478 so both engines evaluate ONE multiply — no float-order
    ambiguity in the cut). Three grouped passes with the tiny per-group
    medians broadcast back; exact medians are the sf-scale baseline —
    at 100 TB swap ``percentile`` for the GK sketch
    (approx_percentiles_contract) and keep the same plan shape.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.max("med")).alias("med"),
            round4(F.max("mad")).alias("mad"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > F.col("mad") * F.lit(4.4478),
                    1,
                )
            ).alias("n_outliers"),
        )
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id
    )
    SELECT cohort_day::TIMESTAMP AS cohort_day,
           date_diff('day', cohort_day, ts::DATE) AS day_offset,
           count(DISTINCT user_id) AS n_users
    FROM events JOIN first_seen USING (user_id)
    GROUP BY cohort_day, day_offset
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day,
    activity counted per (cohort, day-offset) cell. Two shuffles on
    user_id (first-seen agg, then the distinct-count) — the cohort
    frame joins back broadcast-sized relative to the event log.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return events_ops.retention_cohorts(ev)


# ------------------------------------------------ corpus curation ----


@query(
    "per_source_document_quota",
    oracle="""
    SELECT doc_id, source,
           CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS pick_rank
    FROM documents
    QUALIFY pick_rank <= 5
    """,
)
def per_source_document_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping (the C4/RefinedWeb anti-domination
    rule): keep at most k documents per source, chosen by a
    deterministic pseudo-random order — md5 of the id, reproducible on
    any engine and any run, unlike ``rand()``. One window over the
    source partition; at 100 TB sources are the natural partition key
    and heavy domains are exactly the ones this op exists to cut.
    """
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    capped = sampling_ops.cap_per_key(
        docs, key_col="source", k=5, id_col="doc_id", rank_col="pick_rank"
    )
    return capped.select("doc_id", "source", "pick_rank")


_CURRICULUM_BUCKETS, _CURRICULUM_K = 10, 8


@query(
    "length_stratified_sample",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_tokens,
               row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
               count(*) OVER () AS n
        FROM toks
    ),
    bucketed AS (
        SELECT doc_id, source, n_tokens,
               CAST(floor((rn - 1) * {_CURRICULUM_BUCKETS} / n) AS BIGINT)
                   AS bucket
        FROM ranked
    )
    SELECT doc_id, source, n_tokens, bucket,
           CAST(row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS pick_rank
    FROM bucketed
    QUALIFY pick_rank <= {_CURRICULUM_K}
    """,
)
def length_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-STRATIFIED corpus sample — the curriculum/eval-set draw
    that a plain uniform sample gets wrong (token length is heavy-
    tailed, so uniform draws are dominated by short documents and a
    "representative" eval set never sees the long tail): exact global
    length deciles, then an equal per-decile quota chosen by the
    engine's deterministic md5 draw (cap_per_key — reproducible on any
    engine/run, unlike rand()). Deciles come from EXACT global ranks
    via the two-phase ranking operator (operators/windows.
    global_row_number: broadcast percentile cuts bucket scan-side, the
    data-sized window partitions on the bucket id, offsets broadcast
    back — no single-partition sort at any corpus size; the oracle's
    one-window form is its semantic twin). Output: the sampled docs
    with their decile and pick rank."""
    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens"),
    )
    ranked = win_ops.global_row_number(
        toks, "n_tokens", ["doc_id"], rank_col="__rn", ascending=True
    )
    n = ranked.agg(F.count(F.lit(1)).alias("__n"))
    bucketed = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(
            (F.col("__rn") - F.lit(1))
            * F.lit(_CURRICULUM_BUCKETS)
            / F.col("__n")
        )
        .cast("long")
        .alias("bucket"),
    )
    return sampling_ops.cap_per_key(
        bucketed,
        key_col="bucket",
        k=_CURRICULUM_K,
        id_col="doc_id",
        rank_col="pick_rank",
    ).select("doc_id", "source", "n_tokens", "bucket", "pick_rank")


# ------------------------------------------------- vector search ----


@query(
    "ann_filtered_topk",
    oracle="""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
           CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS BIGINT) AS rank
    FROM embeddings q
    JOIN embeddings c ON c.vec_id != q.vec_id AND c.label = q.label
    WHERE q.vec_id < 8
    QUALIFY rank <= 5
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-k restricted to
    candidates sharing the query's label (the metadata-filter mode
    every vector store exposes). The equality predicate becomes the
    JOIN KEY — Catalyst turns the scan into a hash join on label
    instead of a crossJoin, so the candidate set shrinks before any
    scoring work, which is precisely how filtered ANN should execute
    at scale (filter-then-score, not score-then-filter).
    """
    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.filtered_brute_force_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        "vec_id",
        "embedding",
        filter_cols=["label"],
        k=5,
    )


@query(
    "kmeans_cluster_contract",
    oracle="""
    SELECT 8 AS k,
           count(*) AS n_points,
           least(8, count(*)) AS n_nonempty_cells,
           true AS all_assigned,
           true AS no_cell_dominates,
           true AS sse_beats_global
    FROM embeddings
    """,
)
def kmeans_cluster_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means as a first-class operation (it already powers
    the IVF index build — operators/similarity.py:ivf_topk — this
    surfaces it standalone): spark.ml Lloyd's with a bounded iteration
    budget, every step a distributed job.

    Assert-style oracle of the ANN-recall pattern, strengthened per the
    r4 verdict (the old contract only checked count(*)): cluster
    memberships are engine-specific, but a WRONG clustering now fails —
    ``n_nonempty_cells`` is an exact value the oracle pins to
    min(k, n) (an empty-cell collapse changes it),
    ``no_cell_dominates`` fails if any cell swallows everything
    (max cell < n when k > 1), and ``sse_beats_global`` requires the
    within-cluster SSE (the model's trainingCost) to beat the
    single-cluster SSE around the global centroid — per-dimension
    variance times n, computed distributedly — which random or
    corrupted centroids do not achieve.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("__mlvec"),
    )
    km = KMeans(k=8, seed=42, maxIter=8, featuresCol="__mlvec", predictionCol="__cell")
    model = km.fit(vecs.select("__mlvec"))
    assigned = model.transform(vecs)
    sse = float(model.summary.trainingCost)  # Σ ||x - centroid(x)||²
    # single-cluster baseline: Σ_d var_pop(x_d) · n == SSE around the
    # global mean — one narrow pass (posexplode + per-dimension moments)
    global_sse = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"))
        .groupBy("d")
        .agg(F.var_pop("v").alias("var"), F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.col("var") * F.col("n")).alias("g"),
            F.max("n").alias("np"),  # every dimension counts all points
        )
    )
    sizes = assigned.groupBy("__cell").agg(F.count(F.lit(1)).alias("n"))
    return sizes.crossJoin(F.broadcast(global_sse)).agg(
        F.lit(8).alias("k"),
        F.sum("n").cast("long").alias("n_points"),
        F.count(F.lit(1)).cast("long").alias("n_nonempty_cells"),
        (F.sum("n") == F.min("np")).alias("all_assigned"),
        (F.max("n") < F.min("np")).alias("no_cell_dominates"),
        (F.lit(sse) < F.min("g")).alias("sse_beats_global"),
    )


# ------------------------------------------------ substring dedup ----


@query(
    "shared_span_dup_report",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ), spans AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(generate_series(1, greatest(len(w) - 9, 1)),
                                  i -> array_to_string(w[i:i+9], ' ')))) AS span
        FROM w
    )
    SELECT md5(span) AS span_fp,
           count(*) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM spans
    GROUP BY md5(span)
    HAVING count(*) >= 2
    """,
)
def shared_span_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact-substring dedup — the training-data pattern
    from "Deduplicating Training Data Makes Language Models Better":
    documents that are not duplicates as wholes still share verbatim
    spans (boilerplate, licenses, quoted passages). Every distinct
    10-token window per document, shuffled on its 128-bit md5
    fingerprint — never the span text — then grouped to find spans
    present in ≥ 2 documents. Span count is O(tokens) per document and
    the exchange ships fixed-width keys, so the pass stays linear at
    any corpus size; the production follow-up (cut the flagged spans
    out of the losing documents) is a join back on doc_id.
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    spans = docs.select(
        "doc_id", F.explode(dedup_ops.word_shingles("text", n=10)).alias("span")
    )
    return (
        spans.groupBy(F.md5("span").alias("span_fp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "max_dup_span_segments",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ), wins AS (
        SELECT doc_id, pos,
               md5(array_to_string(w[pos:pos+9], ' ')) AS fp
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 9, 1)))
                         AS pos
              FROM w)
    ), shared AS (
        SELECT fp FROM wins GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    ), sh AS (
        SELECT doc_id, pos FROM wins JOIN shared USING (fp)
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM sh
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_len_tokens
    FROM isl GROUP BY doc_id, grp
    """,
)
def max_dup_span_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL cross-document duplicated segments — the suffix-array
    result of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022) WITHOUT the suffix array:
    shared_span_dup_report flags fixed 10-token windows; here
    consecutive shared windows COALESCE into maximal runs
    (gaps-and-islands on window position), so a 500-token verbatim
    license block reports as ONE segment of span_len_tokens ≈ 500,
    not 491 anonymous windows — exactly what the cut-the-span-out
    repair step needs, at arbitrary span length, with no global
    suffix structure.

    Scale shape: one corpus scan explodes positional windows; the
    shuffle ships (fp, doc, pos) fixed-width keys — never span text;
    shared fingerprints come from one grouped distinct-count; the
    coalescing window partitions by doc_id (the standard partitioned-
    window discipline, no global sort). Everything is linear in corpus
    tokens — the suffix array's O(n log n) global sort is replaced by
    a hash shuffle, which is the trade a 1000-executor cluster wants.
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wins = docs.select(
        "doc_id",
        F.explode(dedup_ops.positional_word_shingles("text", n=10)).alias(
            "__w"
        ),
    ).select(
        "doc_id",
        F.col("__w.pos").alias("pos"),
        F.md5(F.col("__w.span")).alias("fp"),
    )
    wins = wins.localCheckpoint(eager=False)  # feeds shared + join-back
    shared = (
        wins.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("fp")
    )
    sh = wins.join(shared, "fp").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = sh.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "__grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        (F.max("pos") - F.min("pos") + F.lit(10)).cast("long").alias(
            "span_len_tokens"
        ),
    ).drop("__grp")


@query(
    "dup_span_repair_report",
    oracle="""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ), wins AS (
        SELECT doc_id, pos,
               md5(array_to_string(w[pos:pos+9], ' ')) AS fp
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, greatest(len(w) - 9, 1)))
                         AS pos
              FROM w)
    ), shared AS (
        SELECT fp FROM wins GROUP BY fp
        HAVING count(DISTINCT doc_id) >= 2
    ), sh AS (
        SELECT doc_id, pos FROM wins JOIN shared USING (fp)
    ), isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM sh
    ), iv AS (
        SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
        FROM isl GROUP BY doc_id, grp
    ), marked AS (
        SELECT doc_id, s, e,
               CASE WHEN s <= coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1)
                    THEN 0 ELSE 1 END AS new_grp
        FROM iv
    ), grouped AS (
        SELECT doc_id, s, e,
               sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS UNBOUNDED PRECEDING) AS g2
        FROM marked
    ), cover AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(cov) AS BIGINT) AS dup_tokens
        FROM (SELECT doc_id, max(e) - min(s) + 1 AS cov,
                     count(*) AS n_iv
              FROM grouped GROUP BY doc_id, g2)
        GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(len(w.w) AS BIGINT) AS n_tokens,
           c.n_dup_spans, c.dup_tokens,
           CAST(floor((c.dup_tokens::DOUBLE / len(w.w)) * 10000.0 + 0.5)
                AS DOUBLE) / 10000.0 AS dup_frac
    FROM cover c JOIN w USING (doc_id)
    """,
)
def dup_span_repair_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair-side accounting for max_dup_span_segments — what a
    curator reads before cutting: per affected document, how many
    TOKENS sit inside cross-document duplicated spans and what fraction
    of the document that is (Lee et al.'s headline "what % of the
    corpus is verbatim duplicate" statistic, at doc grain). Islands of
    shared windows can overlap in TOKEN space even when their window
    positions are disjoint (a 1-window gap still shares 9 tokens), so
    the count is an exact interval UNION: a second gaps-and-islands
    pass merges overlapping [start, end] token intervals (an interval
    opening at s joins the group when s ≤ running max(e) of its
    predecessors — contiguity of the merged cover is guaranteed
    because every member overlapped the running max).

    Scale shape: everything up to the islands is max_dup_span_segments
    (linear, fixed-width shuffles); both coalescing windows partition
    by doc_id; per-doc interval counts are bounded by doc length.
    Output is one row per AFFECTED document."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wins = docs.select(
        "doc_id",
        F.explode(dedup_ops.positional_word_shingles("text", n=10)).alias(
            "__w"
        ),
    ).select(
        "doc_id",
        F.col("__w.pos").alias("pos"),
        F.md5(F.col("__w.span")).alias("fp"),
    )
    wins = wins.localCheckpoint(eager=False)
    shared = (
        wins.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("fp")
    )
    sh = wins.join(shared, "fp").select("doc_id", "pos")
    w1 = Window.partitionBy("doc_id").orderBy("pos")
    iv = (
        sh.withColumn("__grp", F.col("pos") - F.row_number().over(w1))
        .groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(9)).alias("e"),
        )
        .drop("__grp")
    )
    w2 = Window.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(
        w2.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "__new",
        F.when(F.col("s") <= F.coalesce(prev_max, F.lit(-1)), F.lit(0))
        .otherwise(F.lit(1)),
    )
    grouped = marked.withColumn(
        "__g2",
        F.sum("__new").over(w2.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cover = (
        grouped.groupBy("doc_id", "__g2")
        .agg((F.max("e") - F.min("s") + F.lit(1)).alias("__cov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum("__cov").cast("long").alias("dup_tokens"),
        )
    )
    ntok = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return cover.join(ntok, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "dup_tokens",
        round4(F.col("dup_tokens").cast("double") / F.col("n_tokens")).alias(
            "dup_frac"
        ),
    )


# --------------------------------------------------- data quality ----


@query(
    "referential_integrity_audit",

    oracle="""
    SELECT 'orders->customer' AS relation,
           (SELECT count(*) FROM orders) AS n_child,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key conformance audit across the star schema: one row
    per relationship with child cardinality and orphan count (child
    keys with no parent). Orphans are LEFT ANTI joins — for small
    parents (customer/part/supplier) Catalyst broadcasts the parent
    key set, so the fact side is scanned once per relation with no
    shuffle; lineitem→orders goes shuffled-anti, the unavoidable
    big-big case. The lakehouse data-quality gate the medallion silver
    tier would run before publishing.
    """
    tune_session(spark)
    rels = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in rels:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk)
        orphans = c.join(p, c[ck] == p[pk], "left_anti")
        parts.append(
            c.agg(F.count(F.lit(1)).alias("n_child")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(F.lit(name).alias("relation"), "n_child", "n_orphans")
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.union(p_df)
    return out


# ------------------------------------------------ sequence analytics ----


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences: one LEAD window per user (event_id tie-break for
    determinism on equal timestamps), one grouped count. The window
    shuffle partitions by user_id — the same key every sequence
    operator here uses, so at scale the exchanges collapse into one.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return events_ops.transition_counts(ev)


@query(
    "throttled_event_stream",
    oracle="""
    WITH t AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM t
    WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 300000000
    """,
)
def throttled_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit / debounce filter: drop an event when the same
    (user, type) fired within the last 5 minutes — duplicate-click and
    retry-storm suppression, the batch twin of streaming
    ``dropDuplicatesWithinWatermark``. One LAG window on the
    (user, type) key; the 5-minute gap is compared in exact
    microseconds (``unix_micros`` ≡ DuckDB ``epoch_us``), never in
    truncated seconds — the same lesson as the trailing-1h frame fix
    (queries/temporal.py, commit aed936a).
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return events_ops.throttle(ev, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type", "ts"
    )


@query(
    "incremental_near_dup_new_docs",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
    ), t AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, greatest(len(w)-2, 1)),
                              i -> array_to_string(w[i:i+2], ' '))
             ) AS s
      FROM w
    )
    SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
           len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM t a JOIN t b ON a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    """,
)
def incremental_near_dup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: near-duplicates of a NEW batch
    (doc_id % 5 == 0 stands in for today's crawl) against the EXISTING
    corpus, via bipartite banded MinHash-LSH
    (operators/dedup.py:minhash_lsh_candidates_bipartite) + exact
    verification on the shared shingle-hash frame. The daily-pipeline
    shape: the corpus band table persists as a signature store, each
    run shuffles only the delta — cost proportional to the batch, not
    the 100 TB corpus. Oracle = DuckDB brute-force exact 3-shingle
    Jaccard between the two splits (the minhash_lsh_near_dups recall
    pattern, asymmetric roles).
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    ).localCheckpoint(eager=False)
    probe = hashed.filter(F.col("__id") % 5 == 0)
    index = hashed.filter(F.col("__id") % 5 != 0)
    cands = dedup_ops.minhash_lsh_candidates_bipartite(probe, index)
    verified = dedup_ops.minhash_verify_hashed(cands, hashed, threshold=0.8)
    return verified.select(
        F.col("id_a").alias("new_doc_id"),
        F.col("id_b").alias("corpus_doc_id"),
        "jaccard",
    )


@query(
    "unicode_nfc_report",
    oracle="""
    SELECT doc_id,
           nfc_normalize(text) != text AS nfc_changed,
           length(text) AS n_chars_raw,
           length(nfc_normalize(text)) AS n_chars_nfc
    FROM documents
    """,
)
def unicode_nfc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit: which documents change under
    NFC, and by how many code points — the corpus-cleaning step that
    makes combining-mark sequences byte-identical to their precomposed
    forms BEFORE exact dedup/shingling (é as e+U+0301 vs U+00E9 would
    otherwise defeat both). Spark has no NFC builtin, so the operator
    (operators/text.py:nfc_normalize) is an Arrow-batched pandas UDF
    over Python's unicodedata — the same normalization tables DuckDB's
    utf8proc applies, so the oracle's nfc_normalize is a true twin
    (probed equal on combining marks; planted non-ASCII coverage in
    tests/test_scaleops.py — the synthetic corpus itself is ASCII).
    """
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    norm = text_ops.nfc_normalize("text")
    return docs.select(
        "doc_id",
        (norm != F.col("text")).alias("nfc_changed"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_nfc"),
    )


@query(
    "segment_top_spenders_with_ties",
    oracle=f"""
    WITH spend AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               {sql_round4('sum(o.o_totalprice)')} AS total_spend
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, c.c_custkey
    )
    SELECT segment, c_custkey, total_spend,
           CAST(dense_rank() OVER (
               PARTITION BY segment ORDER BY total_spend DESC) AS BIGINT)
               AS spend_rank
    FROM spend
    QUALIFY spend_rank <= 3
    """,
)
def segment_top_spenders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH ties (dense_rank, not row_number): every
    customer at the top 3 spend LEVELS per market segment survives —
    the semantics reports actually want when "top 3" means top 3
    values, and equal spenders must not be dropped arbitrarily. Spend
    is rounded with the shared cross-engine policy BEFORE ranking so
    tie groups are identical on both engines.
    """
    tune_session(spark)
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(round4(F.sum("o_totalprice")).alias("total_spend"))
    )
    w = Window.partitionBy("segment").orderBy(F.col("total_spend").desc())
    return (
        spend.withColumn("spend_rank", F.dense_rank().over(w).cast("long"))
        .filter(F.col("spend_rank") <= 3)
    )


@query(
    "revenue_pareto_curve",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey, {sql_round4('sum(o_totalprice)')} AS revenue
        FROM orders GROUP BY o_custkey
    ), total AS (SELECT sum(revenue) AS total_rev FROM spend)
    SELECT CAST(row_number() OVER w AS BIGINT) AS rank,
           o_custkey,
           revenue,
           {sql_round4('sum(revenue) OVER w / total_rev')} AS cum_share
    FROM spend, total
    WINDOW w AS (ORDER BY revenue DESC, o_custkey)
    QUALIFY rank <= 20
    """,
)
def revenue_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve: the top-20 customers with
    their cumulative share of total revenue — the 80/20 diagnostic.

    Scale shape (the r4 verdict fix): the top-20 is taken with
    ``orderBy().limit(20)`` — Spark plans that as TakeOrderedAndProject
    (per-partition top-20, tiny driver merge), so NO global
    single-partition sort of the per-customer frame ever runs (pinned
    in tests/test_plans.py). The running-share window then covers ≤ 20
    rows; its prefix sums equal the full-frame window's because a
    running sum at rank k only reads rows ranked ≤ k.

    Determinism: revenue is round4-ed BEFORE ranking (the r4 ADVICE
    tie-stability rule, mirroring segment_top_spenders_with_ties), so
    rank membership never depends on engine fold order; ties break on
    the key.
    """
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        round4(F.sum("o_totalprice")).alias("revenue")
    )
    total = spend.agg(F.sum("revenue").alias("total_rev"))
    top = spend.orderBy(F.col("revenue").desc(), F.col("o_custkey")).limit(20)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_share",
            round4(
                F.sum("revenue").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                / F.col("total_rev")
            ),
        )
        .select("rank", "o_custkey", "revenue", "cum_share")
    )


_RFM_CUTS_SQL = ", ".join(
    f"{sql_round4(f'quantile_cont({m}, {p})')} AS {a}{i}"
    for m, a in (("recency_days", "r"), ("frequency", "f"), ("monetary", "m"))
    for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
)


@query(
    "customer_rfm_segments",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate::DATE),
                         (SELECT max(o_orderdate::DATE) FROM orders)) AS recency_days,
               count(*) AS frequency,
               {sql_round4('sum(o_totalprice)')} AS monetary
        FROM orders GROUP BY o_custkey
    ), cuts AS (SELECT {_RFM_CUTS_SQL} FROM base)
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(1 + (recency_days > r1)::INT + (recency_days > r2)::INT
                  + (recency_days > r3)::INT AS BIGINT) AS r_score,
           CAST(1 + (frequency < f3)::INT + (frequency < f2)::INT
                  + (frequency < f1)::INT AS BIGINT) AS f_score,
           CAST(1 + (monetary < m3)::INT + (monetary < m2)::INT
                  + (monetary < m1)::INT AS BIGINT) AS m_score
    FROM base, cuts
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) —
    the classic customer-scoring table, in the scale-safe formulation
    (the r4 verdict fix): quartile CUT-POINTS are computed once as a
    single nine-value aggregate row, broadcast, and each customer's
    score is a comparison against them — no window, no sort, never a
    single-partition shuffle of the customer frame (pinned in
    tests/test_plans.py). Score 1 is best: most recent / most frequent
    / highest spend quartile; equal metric values always share a score
    (value quartiles, not positional NTILE — ties never straddle a
    boundary, which is also what makes the scoring engine-portable).

    Cross-engine determinism: cut-points are exact type-7 interpolated
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont``) —
    exact IEEE doubles for the integer metrics, round4-ed for the float
    one so both engines compare against bit-identical cuts. At 100 TB
    swap ``percentile`` for ``approx_percentile`` (GK): the exact
    aggregate buffers all values in one reducer, GK buffers O(1/ε);
    the comparison-join shape is unchanged.
    """
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max(F.to_date("o_orderdate")).alias("__ref"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            round4(F.sum("o_totalprice")).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days", F.datediff(F.col("__ref"), F.col("__last")).cast("long")
        )
    )
    cuts = base.agg(
        *[
            round4(
                F.percentile(F.col(metric).cast("double"), F.lit(p))
            ).alias(f"{a}{i}")
            for metric, a in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    def _score(metric: str, a: str, best_low: bool) -> Column:
        m = F.col(metric).cast("double")
        if best_low:  # recency: small is good → score grows past each cut
            parts = [(m > F.col(f"{a}{i}")).cast("int") for i in (1, 2, 3)]
        else:  # frequency/monetary: large is good → score grows below cuts
            parts = [(m < F.col(f"{a}{i}")).cast("int") for i in (3, 2, 1)]
        return (F.lit(1) + parts[0] + parts[1] + parts[2]).cast("long")

    return base.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _score("recency_days", "r", True).alias("r_score"),
        _score("frequency", "f", False).alias("f_score"),
        _score("monetary", "m", False).alias("m_score"),
    )


@query(
    "packing_utilization_report",
    oracle=f"""
    WITH tok AS (
        SELECT lang,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           sum(n_tok)::BIGINT AS shard_tokens,
           CAST(ceil(sum(n_tok) / 512.0) AS BIGINT) AS n_seqs,
           (CAST(ceil(sum(n_tok) / 512.0) AS BIGINT) * 512
               - sum(n_tok))::BIGINT AS pad_tokens,
           {sql_round4('''sum(n_tok)::DOUBLE
               / (CAST(ceil(sum(n_tok) / 512.0) AS BIGINT) * 512)''')}
               AS utilization
    FROM tok
    GROUP BY lang
    """,
)
def packing_utilization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency accounting (seq_len=512, sharded by
    lang): tokens, emitted sequences, pad waste, and utilization per
    shard — the number that decides training cost. Concat-and-chop
    (operators/packing.pack_concat_chop) fills every sequence except
    each shard's tail by construction, so per-shard waste is exactly
    ``ceil(tokens/512)·512 - tokens`` — the closed form computed here
    in one grouped pass (the equivalence to the packed output is what
    the packing property tests pin). All-integer math; one exact
    division at the end.
    """
    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", dedup_ops.tokens("text").alias("__t")).select(
        "lang", F.size("__t").cast("long").alias("n_tok")
    )
    seq = F.ceil(F.col("shard_tokens") / F.lit(512.0)).cast("long")
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "shard_tokens",
            seq.alias("n_seqs"),
            (seq * F.lit(512) - F.col("shard_tokens")).alias("pad_tokens"),
            round4(
                F.col("shard_tokens").cast("double") / (seq * F.lit(512)).cast("double")
            ).alias("utilization"),
        )
    )


@query(
    "dow_hour_activity_matrix",
    oracle="""
    SELECT dayofweek(ts) AS dow,
           CAST(hour(ts) AS INTEGER) AS hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY dow, hour
    """,
)
def dow_hour_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity matrix (the usage-heatmap backing
    table): one grouped pass emitting event and distinct-user counts
    per cell. Cross-engine note: Spark's ``dayofweek`` and DuckDB's
    ``dayofweek`` use DIFFERENT conventions (Spark 1=Sunday…7=Saturday;
    DuckDB 0=Sunday…6=Saturday), so the Spark side subtracts 1 to emit
    the DuckDB numbering — the convention is part of the contract, not
    an engine accident.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - F.lit(1)).cast("long").alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------- scale diagnostics ----


def _skew_sql(table: str, key: str) -> str:
    return f"""
    SELECT '{table}.{key}' AS key_col,
           sum(cnt)::BIGINT AS n_rows,
           count(*) AS n_keys,
           max(cnt) AS max_key_rows,
           {sql_round4('max(cnt)::DOUBLE * count(*)::DOUBLE / sum(cnt)::DOUBLE')}
               AS skew_max_over_mean,
           {sql_round4('quantile_cont(cnt::DOUBLE, 0.99)')} AS p99_key_rows
    FROM (SELECT {key}, count(*) AS cnt FROM {table} GROUP BY {key})
    """


@query(
    "join_key_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_sql("events", "user_id"),
            _skew_sql("lineitem", "l_orderkey"),
            _skew_sql("lineitem", "l_partkey"),
            _skew_sql("orders", "o_custkey"),
        ]
    ),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the measurement that decides when
    to reach for the salted join/agg operators (operators/joins.py:240,
    operators/aggregate.py): per candidate join key, the key-count
    distribution's max, p99, and max-over-mean ratio. One groupBy per
    key then a scalar agg over the tiny count frame; at 100 TB this is
    exactly the pre-flight a pipeline runs before choosing a join
    strategy, and it reuses the shuffle the real join would do anyway
    (or runs on a sample). Ratio ~1 = uniform; >> cores = salt it.
    """
    tune_session(spark)
    audits = [
        ("events", "user_id"),
        ("lineitem", "l_orderkey"),
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
    ]
    parts = []
    for table, key in audits:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        mean = F.sum("cnt").cast("double") / F.count(F.lit(1)).cast("double")
        parts.append(
            counts.agg(
                F.lit(f"{table}.{key}").alias("key_col"),
                F.sum("cnt").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("cnt").alias("max_key_rows"),
                round4(F.max("cnt").cast("double") / mean).alias(
                    "skew_max_over_mean"
                ),
                round4(
                    F.percentile(F.col("cnt").cast("double"), F.lit(0.99))
                ).alias("p99_key_rows"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _cardinality_sql(name: str, a: str, ak: str, b: str, bk: str) -> str:
    return f"""
    SELECT '{name}' AS join_name,
           (SELECT count(*) FROM {a}) AS n_left,
           (SELECT count(*) FROM {b}) AS n_right,
           coalesce(sum(ca.cnt * cb.cnt), 0)::BIGINT AS n_out,
           {sql_round4(f'''coalesce(sum(ca.cnt * cb.cnt), 0)::DOUBLE
               / greatest((SELECT count(*) FROM {a}), 1)''')} AS amplification
    FROM (SELECT {ak} AS k, count(*) AS cnt FROM {a} GROUP BY {ak}) ca
    JOIN (SELECT {bk} AS k, count(*) AS cnt FROM {b} GROUP BY {bk}) cb
      USING (k)
    """


@query(
    "join_cardinality_preflight",
    oracle=" UNION ALL ".join(
        [
            _cardinality_sql(
                "lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"
            ),
            _cardinality_sql(
                "orders*customer", "orders", "o_custkey", "customer", "c_custkey"
            ),
            _cardinality_sql(
                "lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"
            ),
        ]
    ),
)
def join_cardinality_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality without running the join:
    |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k) over the two key-count frames —
    the measurement a cost-based optimizer wants and AQE approximates
    from runtime stats, exposed as a pre-flight query (companion to
    join_key_skew_report: skew says HOW a join will shuffle,
    cardinality says how BIG it lands). The count frames are orders of
    magnitude smaller than the fact tables, so the pre-flight costs two
    grouped counts + one join of aggregates; on a 100 TB fact table run
    it on a block sample for an unbiased estimate with the same plan.
    """
    tune_session(spark)
    joins = [
        ("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
    parts = []
    for name, a, ak, b, bk in joins:
        da, db = load_table(spark, sf_dir, a), load_table(spark, sf_dir, b)
        ca = da.groupBy(F.col(ak).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
        cb = db.groupBy(F.col(bk).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
        # FULL OUTER join of the two count frames: matched keys carry
        # the product term, unmatched keys keep their side's count —
        # so n_left/n_right/n_out all fall out of ONE distributed agg
        # (no eager driver-side .count() literals: the r4 verdict nit —
        # a pre-flight advertised as cheap must not cost 6 extra jobs).
        n_left = F.sum(F.coalesce(F.col("ca"), F.lit(0)))
        n_out = F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        parts.append(
            ca.join(cb, "k", "full_outer").agg(
                F.lit(name).alias("join_name"),
                n_left.cast("long").alias("n_left"),
                F.sum(F.coalesce(F.col("cb"), F.lit(0)))
                .cast("long")
                .alias("n_right"),
                n_out.cast("long").alias("n_out"),
                round4(
                    n_out.cast("double") / F.greatest(n_left, F.lit(1)).cast("double")
                ).alias("amplification"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


@query(
    "seasonal_residual_anomalies",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ), spine AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b
    ), types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT t.event_type, s.hr, count(e.event_id) AS n
        FROM spine s CROSS JOIN types t
        LEFT JOIN events e
          ON date_trunc('hour', e.ts) = s.hr AND e.event_type = t.event_type
        GROUP BY t.event_type, s.hr
    ), lagged AS (
        SELECT event_type, hr, n,
               lag(n, 24) OVER (PARTITION BY event_type ORDER BY hr) AS baseline_n
        FROM hourly
    )
    SELECT event_type, hr, n, baseline_n,
           n - baseline_n AS residual,
           CAST(row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(n - baseline_n) DESC, hr) AS BIGINT) AS rank
    FROM lagged
    WHERE baseline_n IS NOT NULL
    QUALIFY rank <= 5
    """,
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly detection on the event stream: each
    hour's count vs the same hour one day earlier (24-step lag on a
    gap-filled hourly grid — the spine guarantees the lag really is
    "yesterday, same hour" even when an hour had zero events), then the
    top-5 largest absolute residuals per series. All arithmetic is
    integer (counts and differences), so the anomaly ranking is exactly
    reproducible cross-engine — no variance/z-score float cut that
    could flip membership at the boundary; consumers scale residuals
    into z-scores downstream if they need them.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    hourly = events_ops.gap_filled_counts(ev, grain="hour")
    return events_ops.seasonal_residual_topk(hourly, lag_buckets=24, k=5).select(
        "event_type",
        F.col("bucket").alias("hr"),
        F.col("n_events").alias("n"),
        "baseline_n",
        "residual",
        "rank",
    )


_ASSOC_MIN_COUNT, _ASSOC_TOPK = 3, 20


def _assoc_oracle() -> str:
    lift = (
        "(CAST(p.c_ab AS DOUBLE) * n.no)"
        " / (CAST(ia.c AS DOUBLE) * CAST(ib.c AS DOUBLE))"
    )
    return f"""
    WITH oi AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS no FROM oi),
    ic AS (SELECT item, count(*) AS c FROM oi GROUP BY item),
    p AS (
        SELECT a.item AS ante, b.item AS cons, count(*) AS c_ab
        FROM oi a JOIN oi b ON a.o = b.o AND a.item <> b.item
        GROUP BY a.item, b.item
        HAVING count(*) >= {_ASSOC_MIN_COUNT}
    )
    SELECT p.ante, p.cons,
           CAST(p.c_ab AS BIGINT) AS n_both,
           {sql_round4('CAST(p.c_ab AS DOUBLE) / n.no')} AS support,
           {sql_round4('CAST(p.c_ab AS DOUBLE) / CAST(ia.c AS DOUBLE)')}
               AS confidence,
           {sql_round4(lift)} AS lift
    FROM p
    JOIN ic ia ON ia.item = p.ante
    JOIN ic ib ON ib.item = p.cons
    CROSS JOIN n
    ORDER BY {lift} DESC, p.ante, p.cons
    LIMIT {_ASSOC_TOPK}
    """


@query("basket_association_rules", oracle=_assoc_oracle())
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directed
    rules antecedent → consequent ranked by LIFT, with support and
    confidence — the Apriori output for itemset size 2, which is the
    production-relevant tier (larger itemsets explode combinatorially
    for marginal value). Min-count floor screens the unstable tail.

    Scale: basket self-join shuffles ONCE on the order key with
    per-basket fan-out (the cooccurrence_edges discipline); item and
    pair counts are keyed aggs; the basket total rides along as a
    broadcast singleton. The top-k cut is ordered by the EXACT lift
    ratio — integer products ≤ 2⁵³ through one IEEE division,
    bit-stable cross-engine (the PMI trick) — and the ln-free lift is
    emitted rounded."""
    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    oi = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("item")
    ).distinct().localCheckpoint(eager=False)
    n = oi.agg(F.countDistinct("o").cast("double").alias("no"))
    ic = oi.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = oi.select(F.col("o"), F.col("item").alias("ante"))
    b = oi.select(F.col("o"), F.col("item").alias("cons"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _ASSOC_MIN_COUNT)
    )
    ia = ic.select(F.col("item").alias("ante"), F.col("c").alias("c_a"))
    ib = ic.select(F.col("item").alias("cons"), F.col("c").alias("c_b"))
    lift = (F.col("c_ab").cast("double") * F.col("no")) / (
        F.col("c_a").cast("double") * F.col("c_b").cast("double")
    )
    return (
        pairs.join(ia, "ante")
        .join(ib, "cons")
        .crossJoin(F.broadcast(n))
        .withColumn("__lift", lift)
        .orderBy(F.desc("__lift"), "ante", "cons")
        .limit(_ASSOC_TOPK)
        .select(
            "ante",
            "cons",
            F.col("c_ab").cast("long").alias("n_both"),
            round4(F.col("c_ab").cast("double") / F.col("no")).alias("support"),
            round4(
                F.col("c_ab").cast("double") / F.col("c_a").cast("double")
            ).alias("confidence"),
            round4(F.col("__lift")).alias("lift"),
        )
    )


_EWMA_ALPHA = 0.3


def _ewma_oracle() -> str:
    a = "CAST(0.3 AS DOUBLE)"
    return f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               CAST(sum(o_totalprice) AS DOUBLE) AS revenue
        FROM orders GROUP BY day
    ),
    ranked AS (
        SELECT day, revenue,
               row_number() OVER (ORDER BY day) AS rn
        FROM daily
    ),
    terms AS (
        SELECT cur.day, cur.revenue AS cur_rev,
               CASE WHEN prev.rn = 1 THEN power(1.0 - {a}, cur.rn - 1)
                    ELSE {a} * power(1.0 - {a}, cur.rn - prev.rn) END
                   * prev.revenue AS term
        FROM ranked cur JOIN ranked prev ON prev.rn <= cur.rn
    ),
    e AS (
        SELECT day, any_value(cur_rev) AS revenue, sum(term) AS ewma
        FROM terms GROUP BY day
    )
    SELECT day,
           {sql_round4('revenue')} AS revenue,
           {sql_round4('ewma')} AS ewma,
           {sql_round4('revenue - ewma')} AS residual
    FROM e
    """


@query("daily_revenue_ewma", oracle=_ewma_oracle())
def daily_revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    residuals — the classic smoothed-trend / anomaly baseline
    (complements the seasonal-naive detector: EWMA tracks level
    shifts, the 24h-lag residual tracks seasonality breaks). The
    recursion ewma_d = α·r_d + (1−α)·ewma_{d−1} (seeded ewma_1 = r_1)
    is unrolled to its closed form — each day is a weighted sum of ALL
    preceding days — and evaluated as a rank-conditioned self-join of
    the DAILY AGGREGATE frame: O(days²) pairs on a frame that is
    O(days) rows at ANY corpus size (the one heavy step, the daily
    aggregation, is a single keyed shuffle; the quadratic part never
    touches raw data). The day ranking reuses a single partitioned-
    window-free ORDER BY over the tiny frame on both engines; weights
    are power((1−α), k) — the same accepted libm class as ln()
    throughout the registry, far inside round4 slack."""
    from pyspark.sql import Window as W

    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("timestamp").alias("day")
        )
        .agg(F.sum("o_totalprice").cast("double").alias("revenue"))
        .localCheckpoint(eager=False)
    )
    ranked = daily.withColumn(
        "rn", F.row_number().over(W.orderBy("day"))
    ).localCheckpoint(eager=False)
    alpha = _EWMA_ALPHA
    cur = ranked.select(
        F.col("day"), F.col("revenue").alias("cur_rev"), F.col("rn").alias("crn")
    )
    prev = ranked.select(F.col("revenue").alias("prev_rev"), F.col("rn").alias("prn"))
    weight = F.when(
        F.col("prn") == 1, F.pow(F.lit(1.0 - alpha), F.col("crn") - 1)
    ).otherwise(
        F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("crn") - F.col("prn"))
    )
    terms = cur.join(prev, F.col("prn") <= F.col("crn")).select(
        "day", "cur_rev", (weight * F.col("prev_rev")).alias("term")
    )
    e = terms.groupBy("day").agg(
        F.any_value(F.col("cur_rev")).alias("revenue"),
        F.sum("term").alias("ewma"),
    )
    return e.select(
        "day",
        round4(F.col("revenue")).alias("revenue"),
        round4(F.col("ewma")).alias("ewma"),
        round4(F.col("revenue") - F.col("ewma")).alias("residual"),
    )


# ------------------------------------------------------ graph analytics ----

def _pagerank_oracle() -> str:
    # 3 unrolled power iterations; float constants go through explicit
    # DOUBLE casts so DuckDB's decimal literals can't shift an ulp vs
    # the Python-float lits on the Spark side.
    tele = "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n"
    damp = "CAST(0.85 AS DOUBLE)"
    rounds = ",\n".join(
        f"""
    c{i} AS (
        SELECT e.dst AS node, sum(r.rank / d.out_deg) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT nodes.node,
               {tele} + {damp} * coalesce(c{i}.contrib, 0.0) AS rank
        FROM nodes CROSS JOIN nn
        LEFT JOIN c{i} ON c{i}.node = nodes.node
    )"""
        for i in (1, 2, 3)
    )
    return f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS out_deg
            FROM edges GROUP BY src),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    {rounds}
    SELECT r3.node AS part_key,
           {sql_round4('r3.rank * 1000000.0')} AS pagerank_ppm
    FROM r3
    """


@query("part_copurchase_pagerank", oracle=_pagerank_oracle())
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics with a FULL differential oracle:
    3-iteration damped PageRank over the part co-purchase graph (parts
    are neighbors when they ship on the same order), the oracle being
    the exact power iteration unrolled into SQL CTEs — every rank of
    every node must match DuckDB bit-for-bit after round4, proving the
    join-based iteration (operators/graph.py) IS the power method and
    not an approximation of it.

    Scale: edge build is one shuffle on the basket key with bounded
    per-basket fan-out; each iteration is one broadcast join of the
    rank vector against the edge list plus one dst-keyed aggregation,
    lineage cut per round with localCheckpoint (the CC discipline).
    Ranks are emitted in parts-per-million: raw ranks are O(1/N) and
    would vanish under the 4-decimal float policy at any real N.

    Every node is emitted (no top-k): rank near-ties at a cut boundary
    are the one place cross-engine fold noise could flip membership, so
    the query keeps the full vector and leaves cutting to consumers."""
    from lab3_lakehouse_spark.operators import graph as graph_ops

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph_ops.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey"
    )
    pr = graph_ops.pagerank(edges, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part_key"),
        round4(F.col("rank") * F.lit(1000000.0)).alias("pagerank_ppm"),
    )


def _lpa_oracle() -> str:
    rounds = ",\n".join(
        f"""
    v{i} AS (
        SELECT e.src AS node, l.label, count(*) AS n
        FROM edges e JOIN l{i - 1} l ON l.node = e.dst
        GROUP BY e.src, l.label
    ),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY n DESC, label) AS rk
            FROM v{i}
        ) q WHERE rk = 1
    )"""
        for i in (1, 2)
    )
    return f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {rounds}
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(label AS BIGINT) AS community
    FROM l2
    """


@query("part_copurchase_communities", oracle=_lpa_oracle())
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection with a FULL differential oracle: 2-round
    synchronous label propagation (Raghavan et al. 2007) over the part
    co-purchase graph, deterministic by construction (majority neighbor
    label, ties to the smallest) — the oracle unrolls both rounds into
    SQL CTEs and every node's final label must hash-match, the same
    proof pattern as the PageRank query.

    Scale (operators/graph.py label_propagation): per round one
    (node, label)-keyed count shuffle + one node-partitioned window —
    no global sort, no driver loop participation, lineage cut per round
    with localCheckpoint. LPA is the linear-cost community pass you can
    actually run on a 100 TB edge list — modularity methods (Louvain)
    need mutable global state that doesn't shard."""
    from lab3_lakehouse_spark.operators import graph as graph_ops

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph_ops.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey"
    )
    out = graph_ops.label_propagation(edges, iterations=2)
    return out.select(
        F.col("node").cast("long").alias("part_key"),
        F.col("label").cast("long").alias("community"),
    )


def _triangle_oracle() -> str:
    coeff = (
        "2.0 * CAST(coalesce(c.nt, 0) AS DOUBLE)"
        " / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0))"
    )
    return f"""
    WITH e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                        greatest(a.l_partkey, b.l_partkey) AS b
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) q GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.a ELSE e.b END AS s,
               CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.b ELSE e.a END AS t
        FROM e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ),
    ot AS (SELECT o.s, o.t, d.deg AS td FROM o JOIN deg d ON d.node = o.t),
    tri AS (
        SELECT w1.s AS x, w1.t AS y, w2.t AS z
        FROM ot w1
        JOIN ot w2 ON w1.s = w2.s
                  AND ((w1.td < w2.td) OR (w1.td = w2.td AND w1.t < w2.t))
        JOIN o c ON c.s = w1.t AND c.t = w2.t
    ),
    cnt AS (
        SELECT node, count(*) AS nt FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) q GROUP BY node
    )
    SELECT CAST(d.node AS BIGINT) AS part_key,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(c.nt, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN {sql_round4(coeff)} ELSE 0.0 END
               AS clustering_coeff
    FROM deg d LEFT JOIN cnt c ON c.node = d.node
    """


@query("part_copurchase_triangles", oracle=_triangle_oracle())
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting + local clustering coefficient per part
    over the co-purchase graph, degree-oriented ("forward" algorithm —
    Schank & Wagner 2005): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, wedges enumerate on
    OUT-degree (which orientation caps at O(√m) even for hubs — a
    hub's edges all point INTO it), and each triangle is produced
    exactly once. The naive neighborhood self-join is quadratic in hub
    degree; on a power-law 100 TB graph that is the difference between
    a bounded wedge join and an exploding one. The oracle mirrors the
    orientation, wedge and closing joins CTE-for-CTE — every node's
    triangle count and coefficient hash-checked.

    Three keyed shuffles (degree count, apex wedge join, closing-edge
    join); output is O(nodes)."""
    from lab3_lakehouse_spark.operators import graph as graph_ops

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph_ops.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", symmetric=False
    )
    out = graph_ops.triangle_stats(edges, normalized=True)
    return out.select(
        F.col("node").cast("long").alias("part_key"),
        F.col("deg").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        round4(F.col("clustering_coeff")).alias("clustering_coeff"),
    )


def _embeddedness_oracle() -> str:
    j = (
        "CAST(coalesce(cm.n_common, 0) AS DOUBLE)"
        " / CAST((da.deg - 1) + (db.deg - 1) - coalesce(cm.n_common, 0)"
        " AS DOUBLE)"
    )
    return f"""
    WITH e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                        greatest(a.l_partkey, b.l_partkey) AS b
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) q GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.a ELSE e.b END AS s,
               CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.b ELSE e.a END AS t
        FROM e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ),
    ot AS (SELECT o.s, o.t, d.deg AS td FROM o JOIN deg d ON d.node = o.t),
    tri AS (
        SELECT w1.s AS x, w1.t AS y, w2.t AS z
        FROM ot w1
        JOIN ot w2 ON w1.s = w2.s
                  AND ((w1.td < w2.td) OR (w1.td = w2.td AND w1.t < w2.t))
        JOIN o c ON c.s = w1.t AND c.t = w2.t
    ),
    ep AS (
        SELECT least(x, y) AS a, greatest(x, y) AS b FROM tri
        UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
        UNION ALL SELECT least(y, z), greatest(y, z) FROM tri
    ),
    cm AS (SELECT a, b, count(*) AS n_common FROM ep GROUP BY a, b)
    SELECT e.a AS part_a, e.b AS part_b,
           CAST(da.deg AS BIGINT) AS deg_a,
           CAST(db.deg AS BIGINT) AS deg_b,
           CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
           {sql_round4(j)} AS jaccard
    FROM e
    LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b
    JOIN deg da ON da.node = e.a
    JOIN deg db ON db.node = e.b
    WHERE coalesce(cm.n_common, 0) >= 3
    ORDER BY {j} DESC, e.a, e.b
    LIMIT 20
    """


@query("copurchase_edge_embeddedness", oracle=_embeddedness_oracle())
def copurchase_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood overlap on the co-purchase graph
    (operators/graph.edge_embeddedness): common-neighbor count and
    neighborhood Jaccard for every adjacent part pair — Granovetter
    embeddedness, i.e. the "related items" score (high = inside a
    community, zero = local bridge). Computed ONLY for pairs that are
    edges, which makes common neighbors exactly the triangles through
    the edge — the degree-oriented enumeration does all the work where
    all-pairs common-neighbor counting is Σ deg² (hub-quadratic, dead
    on a power-law graph). Top-20 cut is ordered by the EXACT Jaccard
    ratio (one IEEE division of ≤2⁵³ integers, bit-stable
    cross-engine), ties on the id pair."""
    from lab3_lakehouse_spark.operators import graph as graph_ops

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph_ops.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", symmetric=False
    )
    out = graph_ops.edge_embeddedness(edges, min_common=3, normalized=True)
    return (
        out.orderBy(F.desc("jaccard"), "a", "b")
        .limit(20)
        .select(
            F.col("a").cast("long").alias("part_a"),
            F.col("b").cast("long").alias("part_b"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.col("n_common").cast("long").alias("n_common"),
            round4(F.col("jaccard")).alias("jaccard"),
        )
    )


_COVER_WIDTH_MIN = 10  # each event opens a 10-minute activity interval


def _coverage_oracle() -> str:
    return f"""
    WITH iv AS (
        SELECT user_id AS key,
               epoch_us(ts) AS s,
               epoch_us(ts + INTERVAL {_COVER_WIDTH_MIN} MINUTE) AS e
        FROM events
    ),
    marked AS (
        SELECT key, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY key ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                     OR s > max(e) OVER (
                        PARTITION BY key ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_seg
        FROM iv
    ),
    segged AS (
        SELECT key, s, e,
               sum(new_seg) OVER (
                   PARTITION BY key ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS seg
        FROM marked
    ),
    segs AS (
        SELECT key, seg, count(*) AS n, min(s) AS ss, max(e) AS se
        FROM segged GROUP BY key, seg
    )
    SELECT key AS user_id,
           CAST(sum(n) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_segments,
           {sql_round4('CAST(sum(se - ss) AS DOUBLE) / 1000000.0')}
               AS covered_s
    FROM segs GROUP BY key
    """


@query("user_activity_coverage", oracle=_coverage_oracle())
def user_activity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage per user: each event opens a 10-minute
    activity interval; overlapping intervals merge and the total
    covered (de-overlapped) time is reported — "how long was the user
    actually active", where naively summing durations double-counts
    bursts. The interval-union primitive complements the kit's
    interval-overlap JOIN; it is the uptime/SLA/session-coverage
    computation. Sweep = two PARTITIONED windows + two grouped aggs,
    everything keyed on the user (ONE shuffle); endpoints are exact
    integer microseconds, so segment lengths are integers until one
    final division (bit-stable cross-engine)."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("ivs"),
        (F.col("ts") + F.expr(f"INTERVAL {_COVER_WIDTH_MIN} MINUTE")).alias(
            "ive"
        ),
    )
    out = events_ops.interval_coverage(
        iv, key_col="user_id", start_col="ivs", end_col="ive"
    )
    return out.select(
        F.col("key").alias("user_id"),
        F.col("n_intervals").cast("long").alias("n_intervals"),
        F.col("n_segments").cast("long").alias("n_segments"),
        round4(F.col("covered_s")).alias("covered_s"),
    )


def _burstiness_oracle() -> str:
    gap = "(epoch_us(g.ts) - epoch_us(g.prev)) / 1000000.0"
    b = (
        "CASE WHEN (stddev_pop({g}) + avg({g})) > 0 THEN"
        " (stddev_pop({g}) - avg({g})) / (stddev_pop({g}) + avg({g}))"
        " ELSE 0.0 END"
    ).format(g=gap)
    return f"""
    WITH g AS (
        SELECT user_id AS "user", ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ),
    s AS (
        SELECT "user",
               CAST(count(*) AS BIGINT) AS n_events,
               {sql_round4(f'avg({gap})')} AS mean_gap_s,
               {sql_round4(f'stddev_pop({gap})')} AS std_gap_s,
               {sql_round4(b)} AS burstiness
        FROM g GROUP BY "user"
    )
    SELECT * FROM s WHERE n_events >= 3
    """


@query("user_burstiness_profile", oracle=_burstiness_oracle())
def user_burstiness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-time profile per user with the Goh–Barabási
    burstiness coefficient B = (σ−μ)/(σ+μ): B → −1 flags metronomic
    automation (polling bots), ≈ 0 Poisson arrivals, → +1 bursty
    organic sessions — the behavioral bot-screen every event pipeline
    wants, and a sanity check on any exponential rate model (μ is the
    MLE mean). One user-partitioned lag window (same shuffle key as
    the aggregation — one shuffle total); gaps are EXACT integer
    microseconds through one IEEE division, so mean/σ agree
    cross-engine to fold order, covered by round4."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    out = events_ops.inter_event_burstiness(ev, min_events=3)
    return out.select(
        "user",
        "n_events",
        round4(F.col("mean_gap_s")).alias("mean_gap_s"),
        round4(F.col("std_gap_s")).alias("std_gap_s"),
        round4(F.col("burstiness")).alias("burstiness"),
    )


# ----------------------------------------------------- KMV set sketches ----

_KMV_K, _KMV_SEED = 64, 11
_KMV_EST_SQL = (
    lambda theta, nc: f"CASE WHEN {nc} < {_KMV_K} THEN CAST({nc} AS DOUBLE) "
    f"ELSE {float(_KMV_K - 1)} * 1152921504606846976.0 / CAST({theta} AS DOUBLE) END"
)


def _kmv_overlap_oracle() -> str:
    h = sketches.sql_hash60("user_id", _KMV_SEED)
    est_u = _KMV_EST_SQL("ps.theta_u", "ps.nc_u")
    return f"""
    WITH du AS (
        SELECT DISTINCT event_type AS segment, user_id FROM events
    ),
    hashed AS (SELECT DISTINCT segment, {h} AS h FROM du),
    cells AS (
        SELECT segment, h,
               row_number() OVER (PARTITION BY segment ORDER BY h) AS rn
        FROM hashed QUALIFY rn <= {_KMV_K}
    ),
    seg_stats AS (
        SELECT segment, max(h) AS theta, count(*) AS nc
        FROM cells GROUP BY segment
    ),
    pairs AS (
        SELECT a.segment AS seg_a, b.segment AS seg_b,
               a.theta AS theta_a, a.nc AS nc_a,
               b.theta AS theta_b, b.nc AS nc_b
        FROM seg_stats a JOIN seg_stats b ON a.segment < b.segment
    ),
    uc AS (
        SELECT p.seg_a, p.seg_b, c.h,
               max(CASE WHEN c.segment = p.seg_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN c.segment = p.seg_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN cells c ON c.segment IN (p.seg_a, p.seg_b)
        GROUP BY p.seg_a, p.seg_b, c.h
    ),
    uk AS (
        SELECT *, row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY h) AS rn
        FROM uc QUALIFY rn <= {_KMV_K}
    ),
    ps AS (
        SELECT seg_a, seg_b, max(h) AS theta_u, count(*) AS nc_u,
               CAST(sum(in_a * in_b) AS BIGINT) AS rho
        FROM uk GROUP BY seg_a, seg_b
    ),
    exact_int AS (
        SELECT da.segment AS seg_a, db.segment AS seg_b,
               count(*) AS n_int
        FROM du da JOIN du db
          ON da.user_id = db.user_id AND da.segment < db.segment
        GROUP BY da.segment, db.segment
    ),
    exact_n AS (SELECT segment, count(*) AS n FROM du GROUP BY segment)
    SELECT p.seg_a, p.seg_b,
           ea.n AS exact_a, eb.n AS exact_b,
           coalesce(ei.n_int, 0) AS exact_int,
           {sql_round4(_KMV_EST_SQL('p.theta_a', 'p.nc_a'))} AS est_a,
           {sql_round4(_KMV_EST_SQL('p.theta_b', 'p.nc_b'))} AS est_b,
           {sql_round4(est_u)} AS est_union,
           {sql_round4(f'(CAST(ps.rho AS DOUBLE) / CAST(ps.nc_u AS DOUBLE)) * ({est_u})')}
               AS est_intersection
    FROM pairs p
    JOIN ps ON ps.seg_a = p.seg_a AND ps.seg_b = p.seg_b
    JOIN exact_n ea ON ea.segment = p.seg_a
    JOIN exact_n eb ON eb.segment = p.seg_b
    LEFT JOIN exact_int ei ON ei.seg_a = p.seg_a AND ei.seg_b = p.seg_b
    """


@query("kmv_audience_overlap", oracle=_kmv_overlap_oracle())
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-INTERSECTION estimation via K-minimum-values sketches —
    the audience-overlap question HLL cannot answer (HLL unions merge;
    intersections need inclusion-exclusion with compounding error; KMV
    estimates them directly from merged cells). Every segment keeps its
    k=64 smallest md5-hash cells (operators/sketches.kmv_cells — one
    shuffle + partitioned window, k rows out per segment regardless of
    corpus size); pair sketches merge cell-wise ("union, keep k
    smallest"), so after the sketch step ALL pair math runs on
    k·segments rows. The oracle rebuilds the exact same cells in SQL —
    estimates are hash-checked cell-for-cell, and the exact distinct /
    intersection counts ride along so the artifact itself shows the
    estimate error. At 100 TB the exact columns are the expensive part
    you'd drop (the production body :func:`kmv_overlap_estimates`
    does); here they are the honesty columns."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("event_type").alias("segment"), F.col("user_id").alias("u")
    ).distinct().localCheckpoint(eager=False)
    exact_n = du.groupBy("segment").agg(F.count(F.lit(1)).alias("n"))
    da = du.select(F.col("segment").alias("seg_a"), "u")
    db = du.select(F.col("segment").alias("seg_b"), "u")
    exact_int = (
        da.join(db, "u")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    return (
        kmv_overlap_estimates(spark, sf_dir)
        .join(exact_n.withColumnRenamed("segment", "seg_a").withColumnRenamed("n", "exact_a"), "seg_a")
        .join(exact_n.withColumnRenamed("segment", "seg_b").withColumnRenamed("n", "exact_b"), "seg_b")
        .join(exact_int, ["seg_a", "seg_b"], "left")
        .select(
            "seg_a",
            "seg_b",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("n_int"), F.lit(0)).alias("exact_int"),
            "est_a",
            "est_b",
            "est_union",
            "est_intersection",
        )
    )


@body("kmv_audience_overlap")
def kmv_overlap_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production body: the per-pair KMV estimates alone — sketch cells
    and pair merges, none of the contract's exact counting."""
    from pyspark.sql import Window

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    cells = sketches.kmv_cells(
        ev, segment_col="event_type", key_col="user_id", k=_KMV_K, seed=_KMV_SEED
    ).localCheckpoint(eager=False)

    seg_stats = cells.groupBy("segment").agg(
        F.max("h").alias("theta"), F.count(F.lit(1)).alias("nc")
    )
    a = seg_stats.select(
        F.col("segment").alias("seg_a"),
        F.col("theta").alias("theta_a"),
        F.col("nc").alias("nc_a"),
    )
    b = seg_stats.select(
        F.col("segment").alias("seg_b"),
        F.col("theta").alias("theta_b"),
        F.col("nc").alias("nc_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("seg_a") < F.col("seg_b"))

    ca = pairs.select("seg_a", "seg_b").join(
        cells.withColumnRenamed("segment", "seg_a"), "seg_a"
    ).select("seg_a", "seg_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    cb = pairs.select("seg_a", "seg_b").join(
        cells.withColumnRenamed("segment", "seg_b"), "seg_b"
    ).select("seg_a", "seg_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    uc = (
        ca.unionByName(cb)
        .groupBy("seg_a", "seg_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("seg_a", "seg_b").orderBy("h")
    uk = uc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)
    ps = uk.groupBy("seg_a", "seg_b").agg(
        F.max("h").alias("theta_u"),
        F.count(F.lit(1)).alias("nc_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("rho"),
    )

    est_u = sketches.kmv_estimate(F.col("theta_u"), F.col("nc_u"), _KMV_K)
    return (
        pairs.join(F.broadcast(ps), ["seg_a", "seg_b"])
        .select(
            "seg_a",
            "seg_b",
            round4(sketches.kmv_estimate(F.col("theta_a"), F.col("nc_a"), _KMV_K)).alias("est_a"),
            round4(sketches.kmv_estimate(F.col("theta_b"), F.col("nc_b"), _KMV_K)).alias("est_b"),
            round4(est_u).alias("est_union"),
            round4(
                (F.col("rho").cast("double") / F.col("nc_u").cast("double")) * est_u
            ).alias("est_intersection"),
        )
    )


def _rolling_kmv_oracle() -> str:
    h = sketches.sql_hash60("user_id", _KMV_SEED)
    est = _KMV_EST_SQL("w.theta", "w.nc")
    return f"""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                        user_id
        FROM events
    ),
    cells AS (
        SELECT day, h FROM (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h) AS rn
            FROM (SELECT DISTINCT day, {h} AS h FROM du) q0
        ) q WHERE rn <= {_KMV_K}
    ),
    spine AS (SELECT DISTINCT day FROM du),
    win_h AS (
        SELECT s.day, c.h FROM spine s
        JOIN cells c ON c.day <= s.day
                    AND c.day >= s.day - INTERVAL 6 DAY
        GROUP BY s.day, c.h
    ),
    w AS (
        SELECT day, max(h) AS theta, count(*) AS nc FROM (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h) AS rn
            FROM win_h
        ) q WHERE rn <= {_KMV_K}
        GROUP BY day
    ),
    exact AS (
        SELECT s.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_exact
        FROM spine s
        JOIN du d ON d.day <= s.day AND d.day >= s.day - INTERVAL 6 DAY
        GROUP BY s.day
    )
    SELECT w.day,
           CAST(w.nc AS BIGINT) AS n_cells,
           {sql_round4(est)} AS est_distinct_7d,
           exact.n_exact AS exact_distinct_7d
    FROM w JOIN exact ON exact.day = w.day
    ORDER BY w.day
    """


@query("rolling_7d_distinct_users", oracle=_rolling_kmv_oracle())
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counting via MERGEABLE KMV sketches: the
    7-day rolling distinct-user series computed by unioning per-day
    sketch cells and re-taking the k smallest — the sketch algebra that
    makes rolling distinct feasible at 100 TB, where the exact form
    must re-scan seven days of raw events per output day (distinct
    does not decompose over windows; sketches do). Per day the state
    is k=64 cells regardless of traffic; any window grain (7d, 30d,
    month-to-date) reuses the SAME daily cells, which is the point.
    The engine-portable md5 hash means the oracle rebuilds every CELL
    identically — the sketch VALUES are differential-checked, not just
    contracted. The exact 7-day count rides along as the honesty
    column (cheap at oracle scale; the sketch path is the one that
    scales)."""
    from pyspark.sql import Window as W

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("timestamp").alias("day"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cells = sketches.kmv_cells(
        du, segment_col="day", key_col="user_id", k=_KMV_K, seed=_KMV_SEED
    ).select(F.col("segment").alias("cday"), "h")
    spine = du.select("day").distinct()
    win_h = (
        spine.join(
            F.broadcast(cells),
            (F.col("cday") <= F.col("day"))
            & (F.col("cday") >= F.col("day") - F.expr("INTERVAL 6 DAY")),
        )
        .select("day", "h")
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("day").orderBy("h"))
    w = (
        win_h.withColumn("rn", rn)
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("day")
        .agg(F.max("h").alias("theta"), F.count(F.lit(1)).alias("nc"))
    )
    exact = (
        spine.join(
            du.select(F.col("day").alias("dday"), "user_id"),
            (F.col("dday") <= F.col("day"))
            & (F.col("dday") >= F.col("day") - F.expr("INTERVAL 6 DAY")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct_7d"))
    )
    return (
        w.join(exact, "day")
        .select(
            "day",
            F.col("nc").cast("long").alias("n_cells"),
            round4(
                sketches.kmv_estimate(F.col("theta"), F.col("nc"), _KMV_K)
            ).alias("est_distinct_7d"),
            "exact_distinct_7d",
        )
        .orderBy("day")
    )


# --------------------------------------- incremental view maintenance ----

_IVM_CUTOFF = "2001-01-01"


def _ivm_oracle() -> str:
    return f"""
    SELECT n.n_name AS nation, o.o_orderstatus,
           count(*) AS n_orders,
           {sql_round4('sum(o.o_totalprice)')} AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, o.o_orderstatus
    """


@query("incremental_join_maintenance", oracle=_ivm_oracle())
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintenance of a materialized join view: the Spark side
    maintains ``orders ⋈ customer ⋈ nation`` INCREMENTALLY — the
    pre-cutoff base join is materialized (localCheckpoint standing in
    for the stored view), and only the post-cutoff order delta joins
    the dimensions before a unionByName — while the oracle recomputes
    the whole join from scratch. The driver hash equality IS the
    maintenance-correctness theorem (ΔFact ⋈ Dim ∪ View ≡ full join,
    for append-only facts with stable dims; dim CHANGES are the SCD2
    surface, operators/merge.py). At 100 TB this is the difference
    between re-joining the full history daily and joining one day's
    append — the delta side is dimension-broadcast, zero fact
    shuffles."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")

    dims = customer.join(
        F.broadcast(nation),
        customer["c_nationkey"] == nation["n_nationkey"],
    ).select("c_custkey", F.col("n_name").alias("nation"))

    base = orders.filter(F.col("o_orderdate") < cutoff)
    delta = orders.filter(F.col("o_orderdate") >= cutoff)

    # the "stored" view: materialized once, never recomputed
    view = (
        base.join(F.broadcast(dims), base["o_custkey"] == dims["c_custkey"])
        .select("nation", "o_orderstatus", "o_totalprice")
        .localCheckpoint(eager=False)
    )
    delta_join = delta.join(
        F.broadcast(dims), delta["o_custkey"] == dims["c_custkey"]
    ).select("nation", "o_orderstatus", "o_totalprice")

    return (
        view.unionByName(delta_join)
        .groupBy("nation", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round4(F.sum("o_totalprice")).alias("total_price"),
        )
    )


#: pinned double literals — both engines' ln(x) agree to ≤1 ulp on the
#: same argument, but their own ln(10.0)/ln(2.0) calls need not.
_LN10_LIT = "2.302585092994046"
_LN2_LIT = "0.6931471805599453"


def _benford_oracle() -> str:
    # first significant digit via integer formatting, NOT log10: casting
    # the floored price to BIGINT then VARCHAR is exact and identical on
    # both engines, where floor(log10(p)) can lose an ulp at powers of 10.
    # (NB: DuckDB CAST(DOUBLE AS BIGINT) rounds-to-nearest while Spark
    # truncates — the explicit floor() makes both exact.)
    digit = (
        "CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),"
        " 1, 1) AS BIGINT)"
    )
    p_exp = f"ln(1.0 + 1.0 / CAST(s.digit AS DOUBLE)) / {_LN10_LIT}"
    chi = f"(c.n - t.nn * ({p_exp})) * (c.n - t.nn * ({p_exp})) / (t.nn * ({p_exp}))"
    return f"""
    WITH d AS (
        SELECT {digit} AS digit FROM orders WHERE o_totalprice >= 1
    ),
    c0 AS (SELECT digit, CAST(count(*) AS DOUBLE) AS n FROM d GROUP BY digit),
    s AS (SELECT CAST(range AS BIGINT) AS digit FROM range(1, 10)),
    c AS (
        SELECT s.digit, coalesce(c0.n, 0.0) AS n
        FROM s LEFT JOIN c0 ON c0.digit = s.digit
    ),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM c)
    SELECT s.digit,
           CAST(c.n AS BIGINT) AS n_orders,
           {sql_round4('c.n / t.nn')} AS observed_share,
           {sql_round4(p_exp)} AS benford_share,
           {sql_round4(chi)} AS chi2_term
    FROM s JOIN c ON c.digit = s.digit CROSS JOIN t
    ORDER BY s.digit
    """


@query("benford_price_audit", oracle=_benford_oracle())
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices — the classic
    fabricated-data / unit-error screen a data-quality pipeline runs on
    any monetary or count column (naturally-grown magnitudes follow
    P(d) = log₁₀(1 + 1/d); synthetic, truncated, or unit-mixed data
    does not — as the chi² terms here will happily show for TPC-H's
    uniform prices). One scan-side digit extraction (integer
    formatting, NOT floor(log₁₀) — exact and identical cross-engine
    where log10 can lose an ulp at powers of ten), one 9-key count, a
    broadcast total, and a 9-row spine so absent digits report 0.
    Emits per-digit observed vs expected share and the Pearson chi²
    contribution; consumers sum the last column against the χ²₈
    critical value."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    ln10 = float(_LN10_LIT)
    digit = (
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        ).cast("long")
    )
    c0 = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    c = spine.join(c0, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0.0)).alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("nn"))
    p_exp = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) / F.lit(
        ln10
    )
    chi = (F.col("n") - F.col("nn") * p_exp) ** 2 / (F.col("nn") * p_exp)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n_orders"),
            round4(F.col("n") / F.col("nn")).alias("observed_share"),
            round4(p_exp).alias("benford_share"),
            round4(chi).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_ENTROPY_COLS = (
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
)


def _entropy_oracle() -> str:
    blocks = []
    for tbl, col in _ENTROPY_COLS:
        blocks.append(f"""
    SELECT '{tbl}' AS table_name, '{col}' AS column_name,
           CAST(any_value(t.nn) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           {sql_round4(f'-sum((c.cnt / t.nn) * ln(c.cnt / t.nn)) / {_LN2_LIT}')}
               AS entropy_bits
    FROM (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM {tbl}
          WHERE {col} IS NOT NULL GROUP BY {col}) c
    CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS nn FROM {tbl}
                WHERE {col} IS NOT NULL) t""")
    return "\nUNION ALL\n".join(blocks) + "\nORDER BY table_name, column_name"


@query("categorical_entropy_report", oracle=_entropy_oracle())
def categorical_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of every low-cardinality categorical
    column across the warehouse — the profiling signal that catches
    collapsed upstream feeds (entropy → 0 when a column degrades to a
    constant) and id-leaks (entropy ≈ log₂ n when a 'category' is
    secretly unique). One grouped count per column with its total
    riding along as a broadcast singleton; the per-table scans are
    column-pruned to the single audited column. Six columns → six
    tiny aggregation plans unioned; the whole report is O(distinct
    values) rows of state per column, mergeable across partitions."""
    tune_session(spark)
    ln2 = float(_LN2_LIT)
    parts = []
    for tbl, col in _ENTROPY_COLS:
        df = load_table(spark, sf_dir, tbl).filter(F.col(col).isNotNull())
        c = df.groupBy(col).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        t = c.agg(F.sum("cnt").alias("nn"))
        p = F.col("cnt") / F.col("nn")
        parts.append(
            c.crossJoin(F.broadcast(t)).agg(
                F.lit(tbl).alias("table_name"),
                F.lit(col).alias("column_name"),
                F.any_value(F.col("nn")).cast("long").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                round4(-F.sum(p * F.log(p)) / F.lit(ln2)).alias("entropy_bits"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.orderBy("table_name", "column_name")


# ------------------------------------------------- distribution drift ----

_PSI_BUCKETS, _PSI_WIDTH = 10, 50.0
_PSI_SPLIT = "2024-01-16"


def _psi_oracle() -> str:
    # smoothed shares: (n + 0.5) / (N + 0.5 * buckets) keeps ln() finite
    # on empty buckets, identically on both engines
    share = lambda n, N: (
        f"(CAST({n} AS DOUBLE) + 0.5) / (CAST({N} AS DOUBLE) + {0.5 * _PSI_BUCKETS})"
    )
    pa, pb = share("n_ref", "tot_ref"), share("n_cur", "tot_cur")
    return f"""
    WITH ev AS (
        SELECT value, ts < TIMESTAMP '{_PSI_SPLIT}' AS is_ref,
               CAST(greatest(0, least({_PSI_BUCKETS - 1},
                          floor(value / {_PSI_WIDTH}))) AS BIGINT) AS bucket
        FROM events WHERE value IS NOT NULL
    ),
    counts AS (
        SELECT bucket,
               CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        FROM ev GROUP BY bucket
    ),
    spine AS (SELECT CAST(range AS BIGINT) AS bucket FROM range({_PSI_BUCKETS})),
    filled AS (
        SELECT s.bucket,
               coalesce(c.n_ref, 0) AS n_ref,
               coalesce(c.n_cur, 0) AS n_cur
        FROM spine s LEFT JOIN counts c ON c.bucket = s.bucket
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS DOUBLE) AS tot_ref,
               CAST(sum(n_cur) AS DOUBLE) AS tot_cur
        FROM filled
    )
    SELECT bucket, n_ref, n_cur,
           {sql_round4(pa)} AS p_ref,
           {sql_round4(pb)} AS p_cur,
           {sql_round4(f"(({pa}) - ({pb})) * ln(({pa}) / ({pb}))")} AS psi_term
    FROM filled CROSS JOIN tot
    """


@query("distribution_drift_psi", oracle=_psi_oracle())
def distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data drift monitoring: Population Stability Index of
    the event-value distribution, reference period vs current (the
    metric every production data pipeline alarms on before a model
    retrains on shifted data). Fixed-width buckets — the cut points are
    CONSTANTS, not data-dependent quantiles, so bucketing is a
    scan-side expression with no preliminary pass — and the smoothed
    shares ((n + ½) / (N + ½·B)) keep ln finite on empty buckets
    without an epsilon-guard divergence between engines. One grouped
    pass over the fact table; the bucket spine and the totals are
    broadcast singletons. Per-bucket PSI terms are emitted (sum ≥ 0.2
    is the conventional drift alarm); consumers sum — keeping the
    reduction out of the query leaves the bucket-level attribution,
    which is what you actually debug with."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    out = events_ops.value_drift_psi(
        ev, split_ts=_PSI_SPLIT, n_buckets=_PSI_BUCKETS, bucket_width=_PSI_WIDTH
    )
    return out.select(
        "bucket",
        "n_ref",
        "n_cur",
        round4(F.col("p_ref")).alias("p_ref"),
        round4(F.col("p_cur")).alias("p_cur"),
        round4(F.col("psi_term")).alias("psi_term"),
    )


def _ks_oracle() -> str:
    return f"""
    WITH ev AS (
        SELECT CAST(value AS DOUBLE) AS v,
               ts < TIMESTAMP '{_PSI_SPLIT}' AS is_ref
        FROM events WHERE value IS NOT NULL
    ),
    c AS (
        SELECT v,
               sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
               sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
        FROM ev GROUP BY v
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
               CAST(sum(n_cur) AS DOUBLE) AS tc
        FROM c
    ),
    cum AS (
        SELECT v,
               CAST(sum(n_ref) OVER (ORDER BY v) AS DOUBLE) AS cr,
               CAST(sum(n_cur) OVER (ORDER BY v) AS DOUBLE) AS cc
        FROM c
    )
    SELECT CAST(tot.tr AS BIGINT) AS n_ref,
           CAST(tot.tc AS BIGINT) AS n_cur,
           {sql_round4('abs(cum.cr / tot.tr - cum.cc / tot.tc)')} AS ks_stat,
           cum.v AS at_value
    FROM cum CROSS JOIN tot
    WHERE tot.tr > 0 AND tot.tc > 0
    ORDER BY abs(cum.cr / tot.tr - cum.cc / tot.tc) DESC, cum.v
    LIMIT 1
    """


@query("distribution_drift_ks", oracle=_ks_oracle())
def distribution_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov drift statistic of the
    event-value distribution, reference vs current period — the
    nonparametric complement to distribution_drift_psi: PSI is binned
    (blind to shifts inside a bucket), KS is the exact largest
    single-point CDF gap. The scale problem is that a CDF is a running
    sum over a GLOBAL value ordering — the un-partitioned-window
    anti-pattern — so the operator (operators/events.value_drift_ks)
    uses the two-phase ranking discipline of global_row_number:
    approx_percentile range-buckets the distinct-value frame (sketch
    error skews bucket sizes, never correctness), cumsums run inside
    buckets under a PARTITIONED window, and the ≤64-row per-bucket
    prefix totals broadcast back; the sup is a TakeOrdered. The DuckDB
    oracle computes the same sup with a plain global window (fine at
    oracle scale), and the CDF doubles compare bit-for-bit: integer
    cumsums through one correctly-rounded IEEE division each."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    out = events_ops.value_drift_ks(ev, split_ts=_PSI_SPLIT)
    return out.select(
        "n_ref",
        "n_cur",
        round4(F.col("ks_stat")).alias("ks_stat"),
        "at_value",
    )


def _chi2_oracle() -> str:
    e = "(c.n_ref + 0.5) * (tot.tc / tot.tr)"
    return f"""
    WITH ev AS (
        SELECT event_type, ts < TIMESTAMP '{_PSI_SPLIT}' AS is_ref FROM events
    ),
    c AS (
        SELECT event_type,
               CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
        FROM ev GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
               CAST(sum(n_cur) AS DOUBLE) AS tc
        FROM c
    )
    SELECT c.event_type, c.n_ref, c.n_cur,
           {sql_round4(e)} AS expected_cur,
           {sql_round4(f"(c.n_cur - ({e})) * (c.n_cur - ({e})) / ({e})")}
               AS chi2_term
    FROM c CROSS JOIN tot
    """


@query("categorical_drift_chi2", oracle=_chi2_oracle())
def categorical_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square categorical drift — the CATEGORICAL complement to the
    drift pair (PSI is binned-continuous, KS exact-continuous): did the
    event-TYPE mix shift between the reference and current periods?
    Per category, the expected current count under reference
    proportions (half-count smoothed, the PSI convention — keeps the
    ratio finite for categories absent from the reference) and its
    χ² term (n_cur − e)²/e; consumers sum the terms against the
    χ²(k−1) critical value. Same period split as PSI/KS. One grouped
    pass over the fact table (map-side partial agg on the category
    key), totals as a broadcast singleton — output bounded by category
    count, not rows."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("__r")
    ).groupBy("event_type").agg(
        F.sum(F.when(F.col("__r"), 1).otherwise(0)).cast("long").alias("n_ref"),
        F.sum(F.when(F.col("__r"), 0).otherwise(1)).cast("long").alias("n_cur"),
    )
    tot = c.agg(
        F.sum("n_ref").cast("double").alias("tr"),
        F.sum("n_cur").cast("double").alias("tc"),
    )
    e = (F.col("n_ref") + F.lit(0.5)) * (F.col("tc") / F.col("tr"))
    return c.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_ref",
        "n_cur",
        round4(e).alias("expected_cur"),
        round4((F.col("n_cur") - e) * (F.col("n_cur") - e) / e).alias(
            "chi2_term"
        ),
    )


# ----------------------------------------------------- novelty rate ----

def _novelty_oracle() -> str:
    return f"""
    WITH first_seen AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS d0
        FROM events GROUP BY user_id
    ),
    graded AS (
        SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day,
               e.user_id,
               CAST(date_trunc('day', e.ts) AS TIMESTAMP) = f.d0 AS is_new
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
    ),
    per_day AS (
        SELECT day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
               CAST(count(DISTINCT CASE WHEN is_new THEN user_id END) AS BIGINT)
                   AS n_new
        FROM graded GROUP BY day
    )
    SELECT day, n_active, n_new,
           {sql_round4('CAST(n_new AS DOUBLE) / CAST(n_active AS DOUBLE)')}
               AS novelty_rate
    FROM per_day
    """


@query("daily_user_novelty_rate", oracle=_novelty_oracle())
def daily_user_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning decomposition: per day, how many active users
    are being seen for the FIRST time. The naive formulation is a
    running distinct over an ever-growing window — state that grows
    with history and can't shard. The scale-safe form derives a
    first-seen DIMENSION (one grouped min per user — the same shuffle
    key the activity count needs anyway) and joins it back, so both
    aggregations shard on user_id and nothing accumulates: the pattern
    for any "cumulative distinct" ask at 100 TB. Count-distinct per day
    handles users with multiple events; the rate is exact integer
    division under round4."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    out = events_ops.daily_user_novelty(ev)
    return out.select(
        "day",
        "n_active",
        "n_new",
        round4(F.col("novelty_rate")).alias("novelty_rate"),
    )
