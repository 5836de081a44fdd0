"""Inferential and frontier analytics (round 10 continuation): skyline
(Pareto-frontier) selection, Kaplan–Meier survival, Welch's two-sample
t-test, Spearman rank correlation, Gini/Lorenz concentration, daily
autocorrelation, and graph degree assortativity.

Every query carries a FULL DuckDB oracle. Cross-engine determinism
follows the engine conventions (queries/_util.py): exact integer
arithmetic wherever possible (ranks, counts, microsecond epochs,
degrees), ``round4``-pinned intermediates whenever a float aggregate is
REUSED downstream (so both engines continue from the identical double),
and ``round4`` on every emitted float. ``ln``/``exp``/``sqrt`` appear
only on bit-identical inputs: IEEE ``sqrt`` is correctly rounded
(bit-equal cross-engine) and the ≤1-ulp ``ln``/``exp`` libm skew is
absorbed by the output rounding — the established surprisal/entropy
precedent (queries/statops.py).

No counterpart in the reference (SURVEY §2.7 extension surface).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab3_lakehouse_spark.catalog import fan_out, load_table
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.queries._util import round4, sql_round4
from lab3_lakehouse_spark.queries.llmdata import lsh_near_dup_pairs
from lab3_lakehouse_spark.queries.registry import body, query
from lab3_lakehouse_spark.session import tune_session

# ------------------------------------------------------------ skyline ----

_SKYLINE_SCHEMA = "p_partkey long, p_retailprice double, p_size int"

_SKYLINE_ORACLE = """
    SELECT CAST(p.p_partkey AS BIGINT) AS part_key,
           p.p_retailprice AS retail_price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
"""


def _local_skyline(batches: Iterator) -> Iterator:
    """Partition-local skyline prune (block-nested-loop step of the
    distributed skyline): sort by (price asc, size desc) and drop every
    row whose size is STRICTLY below the running max of earlier rows —
    such a row is certainly dominated (an earlier row has price <= and
    size >, strict in size, or price < with size >=). Ties and
    equal-size survivors are KEPT (conservative superset); the exact
    global stage finishes the job. Output is O(local frontier), so the
    global stage sees candidates, not the table."""
    import pandas as pd  # noqa: F401  (schema contract)

    for pdf in batches:
        if len(pdf) == 0:
            yield pdf
            continue
        s = pdf.sort_values(
            ["p_retailprice", "p_size"], ascending=[True, False]
        ).reset_index(drop=True)
        run = s["p_size"].cummax().shift(1)
        keep = ~(run > s["p_size"])  # NaN (first row) compares False -> kept
        yield s[keep]


@query("part_price_size_skyline", oracle=_SKYLINE_ORACLE)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (Börzsönyi et al. 2001): the
    parts not dominated on (price ↓, size ↑) — "no other part is at
    least as cheap AND at least as big, strictly better in one". The
    naive formulation is an all-pairs anti-join (the oracle's
    NOT EXISTS — quadratic, dead at scale); the distributed algorithm
    is the classic two-phase skyline: (1) a partition-LOCAL prune
    (mapInPandas, one sort + cummax per partition, no shuffle) whose
    union is a tiny superset of the answer — on uniform data the local
    frontier is O(log² n) rows — and (2) an EXACT dominance check on
    the surviving candidates via one per-price aggregate plus one
    running-max window over the candidates' distinct prices (a frame
    that is O(frontier), so the unpartitioned window is bounded at any
    corpus size). A candidate is dominated iff the max size at a
    STRICTLY cheaper price is >= its size, or the max size at ITS OWN
    price is > its size. Raw parquet doubles are compared, never
    arithmetic — bit-stable cross-engine."""
    tune_session(spark)
    part = fan_out(
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        # NULL dimensions are excluded from the dominance order in BOTH
        # engines (the oracle filters identically) — without the pin,
        # DuckDB's NOT EXISTS would keep a NULL-price row that Spark's
        # inner join drops
        .filter(
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
    )
    # one prune pass feeds BOTH consumers (the candidate probe side and
    # the per-price frontier build) — without the checkpoint the
    # mapInPandas sort runs twice over the full table
    cand = part.mapInPandas(_local_skyline, schema=_SKYLINE_SCHEMA)
    cand = cand.localCheckpoint(eager=False)
    by_price = cand.groupBy("p_retailprice").agg(
        F.max("p_size").alias("__mx")
    )
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    strict = by_price.select(
        "p_retailprice",
        F.col("__mx").alias("__same_mx"),
        F.max("__mx").over(w).alias("__strict_mx"),
    )
    # coalesce guards the NULL __strict_mx of the cheapest price row
    out = cand.join(F.broadcast(strict), "p_retailprice").filter(
        ~F.coalesce(F.col("__strict_mx") >= F.col("p_size"), F.lit(False))
        & ~(F.col("__same_mx") > F.col("p_size"))
    )
    return out.select(
        F.col("p_partkey").cast("long").alias("part_key"),
        F.col("p_retailprice").alias("retail_price"),
        F.col("p_size").cast("long").alias("size"),
    )


# ------------------------------------------------------ Kaplan–Meier ----

_KM_VALUE_MIN = 130.0   # "conversion" = first purchase with value >= 130
_US_PER_HOUR = 3_600_000_000  # life-table granularity: 1 hour


def _km_oracle() -> str:
    return f"""
    WITH firsts AS (
        SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY user_id
    ),
    hits AS (
        SELECT user_id, min(epoch_us(ts)) AS td
        FROM events
        WHERE event_type = 'purchase' AND value >= {_KM_VALUE_MIN!r}
        GROUP BY user_id
    ),
    horizon AS (SELECT max(epoch_us(ts)) AS tmax FROM events),
    subj AS (
        SELECT CASE WHEN h.td IS NOT NULL
                    THEN (h.td - f.t0) // {_US_PER_HOUR}
                    ELSE (x.tmax - f.t0) // {_US_PER_HOUR} END AS dur_h,
               CASE WHEN h.td IS NOT NULL THEN 1 ELSE 0 END AS evt
        FROM firsts f
        LEFT JOIN hits h USING (user_id)
        CROSS JOIN horizon x
    ),
    total AS (SELECT count(*) AS n FROM subj),
    durs AS (
        SELECT dur_h, count(*) AS c_all, sum(evt) AS d
        FROM subj GROUP BY dur_h
    ),
    risk AS (
        SELECT dur_h, d,
               t.n - coalesce(sum(c_all) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM durs CROSS JOIN total t
    ),
    deaths AS (SELECT dur_h, d, n_risk FROM risk WHERE d > 0),
    curve AS (
        SELECT dur_h, d, n_risk,
               sum(CASE WHEN d < n_risk
                        THEN ln((n_risk - d) / CAST(n_risk AS DOUBLE))
                        ELSE 0.0 END) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lnsum,
               max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (
                   ORDER BY dur_h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS hit_zero
        FROM deaths
    )
    SELECT CAST(dur_h AS BIGINT) AS dur_hours,
           CAST(d AS BIGINT) AS n_events,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE {sql_round4('exp(lnsum)')} END AS survival
    FROM curve
    """


@query("kaplan_meier_conversion", oracle=_km_oracle())
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-conversion: per user,
    the duration from their FIRST event to their first HIGH-VALUE
    purchase (value >= 130); users who never convert are right-CENSORED
    at the corpus horizon — the estimator uses them correctly (they
    leave the risk set without counting as conversions), which a naive
    "average time among converters" gets wrong. S(t) = prod over event
    times <= t of (1 - d_i / n_i), with n_i the at-risk count
    (dur >= t_i, censored-at-t still at risk — the standard KM tie
    convention).

    Scale shape: everything up to the curve is keyed on user_id (two
    grouped aggs + one join, ONE shuffle key); durations are bucketed
    to exact integer HOURS (life-table granularity) so the curve frame
    is bounded by the horizon in hours at ANY corpus size — the
    unpartitioned cumulative windows run on that bounded frame, never
    on subjects. Microsecond epochs and hour buckets are exact integer
    arithmetic (``DIV``); the only floats are the (n-d)/n ratio (one
    IEEE division of exact ints — bit-stable), its ln, and the final
    exp — round4-absorbed. d = n (risk set wiped out) short-circuits to
    survival 0 rather than ln(0), which Spark NULLs but DuckDB -infs.
    """
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("t_us")
    )
    firsts = ev.groupBy("user_id").agg(F.min("t_us").alias("t0"))
    hits = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= F.lit(_KM_VALUE_MIN))
        )
        .groupBy("user_id")
        .agg(F.min("t_us").alias("td"))
    )
    horizon = ev.agg(F.max("t_us").alias("tmax"))
    subj = (
        firsts.join(hits, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr(
                f"CASE WHEN td IS NOT NULL THEN (td - t0) DIV {_US_PER_HOUR} "
                f"ELSE (tmax - t0) DIV {_US_PER_HOUR} END"
            ).alias("dur_h"),
            F.when(F.col("td").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("evt"),
        )
    )
    total = subj.agg(F.count(F.lit(1)).alias("n"))
    durs = subj.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("c_all"), F.sum("evt").alias("d")
    )
    w_prev = Window.orderBy("dur_h").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        durs.crossJoin(F.broadcast(total))
        .select(
            "dur_h",
            "d",
            (
                F.col("n")
                - F.coalesce(F.sum("c_all").over(w_prev), F.lit(0))
            ).alias("n_risk"),
        )
        .filter(F.col("d") > 0)
    )
    w_cum = Window.orderBy("dur_h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            (F.col("n_risk") - F.col("d")) / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    wiped = F.when(F.col("d") >= F.col("n_risk"), F.lit(1)).otherwise(F.lit(0))
    curve = risk.select(
        "dur_h",
        "d",
        "n_risk",
        F.sum(term).over(w_cum).alias("lnsum"),
        F.max(wiped).over(w_cum).alias("hit_zero"),
    )
    return curve.select(
        F.col("dur_h").cast("long").alias("dur_hours"),
        F.col("d").cast("long").alias("n_events"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(round4(F.exp("lnsum")))
        .alias("survival"),
    )


# ------------------------------------------------------ Welch t-test ----

_WELCH_A = "purchase"
_WELCH_B = "click"


def _welch_oracle() -> str:
    # variance from raw sums — the SAME formula Spark evaluates, so both
    # engines pin the identical round4 double before the t / df math
    ma = sql_round4("s1a / na")
    mb = sql_round4("s1b / nb")
    va = sql_round4("(s2a - s1a * s1a / na) / (na - 1)")
    vb = sql_round4("(s2b - s1b * s1b / nb) / (nb - 1)")
    return f"""
    WITH sums AS (
        SELECT CAST(count(*) FILTER (WHERE event_type = '{_WELCH_A}') AS DOUBLE) AS na,
               sum(value)         FILTER (WHERE event_type = '{_WELCH_A}') AS s1a,
               sum(value * value) FILTER (WHERE event_type = '{_WELCH_A}') AS s2a,
               CAST(count(*) FILTER (WHERE event_type = '{_WELCH_B}') AS DOUBLE) AS nb,
               sum(value)         FILTER (WHERE event_type = '{_WELCH_B}') AS s1b,
               sum(value * value) FILTER (WHERE event_type = '{_WELCH_B}') AS s2b
        FROM events
        WHERE event_type IN ('{_WELCH_A}', '{_WELCH_B}') AND value IS NOT NULL
    ),
    pinned AS (
        SELECT na, nb, {ma} AS ma, {mb} AS mb, {va} AS va, {vb} AS vb
        FROM sums
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ma AS mean_a, mb AS mean_b, va AS var_a, vb AS var_b,
           {sql_round4('(ma - mb) / sqrt(va / na + vb / nb)')} AS t_stat,
           {sql_round4(
               '(va / na + vb / nb) * (va / na + vb / nb)'
               ' / ((va / na) * (va / na) / (na - 1)'
               '  + (vb / nb) * (vb / nb) / (nb - 1))'
           )} AS welch_df
    FROM pinned
    """


@query("welch_ttest_purchase_click", oracle=_welch_oracle())
def welch_ttest_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between purchase and
    click event values — the A/B-test primitive (never assume pooled
    variance on observational segments). Means and sample variances
    come from ONE conditional aggregation pass (count / Σx / Σx² per
    arm — map-side combinable, shuffle is 1 row), are round4-PINNED,
    and the t statistic and Welch–Satterthwaite df are closed-form
    arithmetic on the pinned doubles — bit-identical cross-engine.
    Scale: a single scan with partial aggregation; output is one row
    regardless of corpus size."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_WELCH_A, _WELCH_B)
        & F.col("value").isNotNull()
    )
    is_a = F.col("event_type") == _WELCH_A
    v = F.col("value")
    sums = ev.agg(
        F.count(F.when(is_a, 1)).cast("double").alias("na"),
        F.sum(F.when(is_a, v)).alias("s1a"),
        F.sum(F.when(is_a, v * v)).alias("s2a"),
        F.count(F.when(~is_a, 1)).cast("double").alias("nb"),
        F.sum(F.when(~is_a, v)).alias("s1b"),
        F.sum(F.when(~is_a, v * v)).alias("s2b"),
    )
    na, nb = F.col("na"), F.col("nb")
    pinned = sums.select(
        na,
        nb,
        round4(F.col("s1a") / na).alias("ma"),
        round4(F.col("s1b") / nb).alias("mb"),
        round4(
            (F.col("s2a") - F.col("s1a") * F.col("s1a") / na) / (na - 1)
        ).alias("va"),
        round4(
            (F.col("s2b") - F.col("s1b") * F.col("s1b") / nb) / (nb - 1)
        ).alias("vb"),
    )
    ma, mb, va, vb = (F.col(c) for c in ("ma", "mb", "va", "vb"))
    sea, seb = va / na, vb / nb
    return pinned.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        va.alias("var_a"),
        vb.alias("var_b"),
        round4((ma - mb) / F.sqrt(sea + seb)).alias("t_stat"),
        round4(
            (sea + seb) * (sea + seb)
            / (sea * sea / (na - 1) + seb * seb / (nb - 1))
        ).alias("welch_df"),
    )


# ------------------------------------------------- Spearman (ties) ----


def _spearman_oracle() -> str:
    r = (
        "(n * sxy - sx * sy)"
        " / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))"
    )
    return f"""
    WITH base AS (
        SELECT event_type,
               value,
               CAST(hour(ts) AS DOUBLE) AS h
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT event_type,
               rank() OVER (PARTITION BY event_type ORDER BY value)
                 + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0
                 AS rx,
               rank() OVER (PARTITION BY event_type ORDER BY h)
                 + (count(*) OVER (PARTITION BY event_type, h) - 1) / 2.0
                 AS ry
        FROM base
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               sum(rx) AS sx, sum(ry) AS sy, sum(rx * ry) AS sxy,
               sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        FROM ranked GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           {sql_round4(r)} AS spearman_rho
    FROM sums
    """


@query("spearman_value_hour", oracle=_spearman_oracle())
def spearman_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-corrected) between event value
    and hour-of-day, per event type — the monotonic-association
    screen that Pearson misses on non-linear but ordered effects
    ("do values drift later in the day?"). Ties get AVERAGE ranks
    (min-rank + (tie_count-1)/2 — fractional .5 ranks are exact
    binary doubles), then rho is Pearson on the ranks via closed-form
    sums. Every rank and sum is exact integer-or-half arithmetic below
    2^53, so numerator and denominator are bit-identical cross-engine;
    IEEE sqrt is correctly rounded — the ONLY rounding is the emitted
    round4.

    Scale shape: ranking is two windows partitioned BY EVENT TYPE
    (the analysis key — each group sorts within its own partition
    range, the per-key sort is Spark's bread and butter), then one
    grouped sum pass; shuffle is keyed on event_type throughout. At
    extreme per-key cardinality the exact ranks would swap to a KLL
    CDF approximation (operators/sketches.py) — documented
    alternative, not needed at any tested SF."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        "value",
        F.hour("ts").cast("double").alias("h"),
    )
    wv = Window.partitionBy("event_type").orderBy("value")
    wh = Window.partitionBy("event_type").orderBy("h")
    tv = Window.partitionBy("event_type", "value")
    th = Window.partitionBy("event_type", "h")
    ranked = base.select(
        "event_type",
        (
            F.rank().over(wv) + (F.count(F.lit(1)).over(tv) - 1) / 2.0
        ).alias("rx"),
        (
            F.rank().over(wh) + (F.count(F.lit(1)).over(th) - 1) / 2.0
        ).alias("ry"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return sums.select(
        "event_type",
        n.cast("long").alias("n_events"),
        round4(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("spearman_rho"),
    )


# ------------------------------------------------------ Gini / Lorenz ----


def _gini_oracle() -> str:
    g = "(2.0 * srx - (n + 1.0) * sx) / (n * sx)"
    return f"""
    WITH spend AS (
        SELECT c.c_mktsegment AS segment,
               o.o_custkey AS k,
               {sql_round4('sum(o.o_totalprice)')} AS x
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY segment, k
    ),
    ranked AS (
        SELECT segment, x,
               CAST(row_number() OVER (
                   PARTITION BY segment ORDER BY x, k) AS DOUBLE) AS rn
        FROM spend
    ),
    sums AS (
        SELECT segment,
               CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx,
               sum(rn * x) AS srx
        FROM ranked GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n_customers,
           {sql_round4('sx')} AS total_spend,
           {sql_round4(g)} AS gini
    FROM sums
    """


@query("gini_segment_spend", oracle=_gini_oracle())
def gini_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer spend per market segment — the
    Lorenz-curve summary ("how unequal is revenue across customers"),
    computed by the exact rank formula G = (2·Σ rn·x − (n+1)·Σx)/(n·Σx)
    with spend ascending and row_number ties broken on the customer key
    (deterministic in both engines). Per-customer spend is round4-
    PINNED before ranking so both engines rank the identical doubles.

    Scale shape: one grouped agg keyed on the customer (fact scanned
    once), one ranking window PARTITIONED by segment (per-key sort),
    one grouped sum — all shuffles on analysis keys, output is
    O(segments)."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    spend = (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("k"),
        )
        .agg(round4(F.sum("o_totalprice")).alias("x"))
    )
    w = Window.partitionBy("segment").orderBy("x", "k")
    ranked = spend.select(
        "segment", "x", F.row_number().over(w).cast("double").alias("rn")
    )
    sums = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("rn") * F.col("x")).alias("srx"),
    )
    n, sx, srx = F.col("n"), F.col("sx"), F.col("srx")
    return sums.select(
        "segment",
        n.cast("long").alias("n_customers"),
        round4(sx).alias("total_spend"),
        round4((2.0 * srx - (n + 1.0) * sx) / (n * sx)).alias("gini"),
    )


# ------------------------------------------------------------- ACF ----

_ACF_MAX_LAG = 7


def _acf_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               {sql_round4('CAST(sum(o_totalprice) AS DOUBLE)')} AS rev
        FROM orders GROUP BY day
    ),
    ranked AS (
        SELECT rev, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    m AS (SELECT {sql_round4('avg(rev)')} AS mu FROM ranked),
    den AS (
        SELECT sum((rev - mu) * (rev - mu)) AS d
        FROM ranked CROSS JOIN m
    ),
    lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT l.lag, a.rev AS xa, b.rev AS xb
        FROM lags l
        JOIN ranked a ON true
        JOIN ranked b ON b.rn = a.rn + l.lag
    )
    SELECT p.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {sql_round4('sum((xa - mu) * (xb - mu)) / max(den.d)')} AS acf
    FROM pairs p CROSS JOIN m CROSS JOIN den
    GROUP BY p.lag
    """


@query("acf_daily_revenue", oracle=_acf_oracle())
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..7 — the
    weekly-seasonality / momentum diagnostic (a lag-7 spike = weekly
    cycle; slow decay = trend — the Box–Jenkins model-identification
    step). r_k = Σ(x_t − μ)(x_{t+k} − μ) / Σ(x_t − μ)² with the GLOBAL
    mean (standard ACF, not per-lag means). The daily revenue AND the
    mean are round4-pinned so both engines form identical centered
    products; the remaining float sums differ only in order (round4-
    absorbed).

    Scale shape mirrors the trend family (theilsen/holt/ewma): the
    fact table collapses to the O(days) daily frame FIRST, and every
    window/join after that — the ranking window, the 7 lead columns
    from ONE window pass, the mean/denominator 1-row broadcasts —
    runs on that bounded frame. One fact shuffle total."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(round4(F.sum("o_totalprice").cast("double")).alias("rev"))
    w = Window.orderBy("day")
    leads = daily.select(
        "rev",
        *[
            F.lead("rev", k).over(w).alias(f"l{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    m = daily.agg(round4(F.avg("rev")).alias("mu"))
    den = daily.crossJoin(F.broadcast(m)).agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))
              ).alias("d")
    )
    stack_expr = "stack({}, {}) as (lag, xb)".format(
        _ACF_MAX_LAG,
        ", ".join(f"{k}, l{k}" for k in range(1, _ACF_MAX_LAG + 1)),
    )
    pairs = leads.select(F.col("rev").alias("xa"), F.expr(stack_expr)).filter(
        F.col("xb").isNotNull()
    )
    out = (
        pairs.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(den))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            round4(
                F.sum(
                    (F.col("xa") - F.col("mu")) * (F.col("xb") - F.col("mu"))
                )
                / F.max("d")
            ).alias("acf"),
        )
    )
    return out.select(F.col("lag").cast("int").alias("lag"), "n_pairs", "acf")


# ------------------------------------------- degree assortativity ----


def _assortativity_oracle() -> str:
    r = (
        "(m * sxy - sx * sy)"
        " / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))"
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
        SELECT node, CAST(count(*) AS DOUBLE) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e
        ) q GROUP BY node
    ),
    directed AS (
        SELECT a AS u, b AS v FROM e
        UNION ALL
        SELECT b, a FROM e
    ),
    pairs AS (
        SELECT du.deg AS x, dv.deg AS y
        FROM directed d
        JOIN deg du ON du.node = d.u
        JOIN deg dv ON dv.node = d.v
    ),
    sums AS (
        SELECT CAST(count(*) AS DOUBLE) AS m,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
               sum(x * x) AS sxx, sum(y * y) AS syy
        FROM pairs
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           {sql_round4(r)} AS assortativity
    FROM sums
    """


@query("copurchase_degree_assortativity", oracle=_assortativity_oracle())
def copurchase_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of endpoint degrees over the DIRECTED edge list
    (each undirected edge counted both ways, the standard convention) —
    positive = hubs link to hubs (social-like), negative = hub-and-
    spoke (technological/retail-like). The one-number mixing summary
    that complements the per-edge embeddedness view.

    All inputs are exact integers (degrees, counts), so the Pearson
    sums are exact below 2^53 and the closed-form ratio is bit-stable
    cross-engine (IEEE sqrt is correctly rounded); round4 only on the
    emitted coefficient. Scale shape: the edge build shuffles once on
    the order key (bounded basket fan-out), degrees are one grouped
    count, and the degree joins broadcast the O(nodes) degree frame —
    output is one row."""
    from lab3_lakehouse_spark.operators import graph as graph_ops

    tune_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # one edge build for FIVE consumers (degrees ×2, directed ×2, the
    # edge count) — without the checkpoint the basket self-join +
    # distinct re-executes per consumer (measured 9.8 s -> ~5 s at
    # sf0.1)
    edges = graph_ops.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", symmetric=False
    ).localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("deg"))
    )
    directed = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    pairs = (
        directed.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    m = F.col("m")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return (
        sums.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            round4(
                (m * sxy - sx * sy)
                / F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
            ).alias("assortativity"),
        )
    )


# --------------------------------------- out-of-fold target encoding ----

_TE_K = 5
_TE_SEED = 83


def _target_encoding_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("o_orderkey", _TE_SEED)
    return f"""
    WITH assigned AS (
        SELECT o_orderpriority AS category,
               CAST({h} % {_TE_K} AS INT) AS fold,
               o_totalprice AS y
        FROM orders
    ),
    per AS (
        SELECT category, fold,
               CAST(count(*) AS DOUBLE) AS n_f, sum(y) AS s_f
        FROM assigned GROUP BY category, fold
    ),
    tot AS (
        SELECT category,
               CAST(sum(n_f) AS DOUBLE) AS n_c, sum(s_f) AS s_c
        FROM per GROUP BY category
    )
    SELECT p.category, p.fold,
           CAST(p.n_f AS BIGINT) AS n_rows,
           CASE WHEN t.n_c > p.n_f THEN
               {sql_round4('(t.s_c - p.s_f) / (t.n_c - p.n_f)')}
           END AS oof_mean,
           {sql_round4('t.s_c / t.n_c')} AS full_mean,
           CASE WHEN t.n_c > p.n_f THEN
               {sql_round4(
                   't.s_c / t.n_c - (t.s_c - p.s_f) / (t.n_c - p.n_f)'
               )}
           END AS leak_delta
    FROM per p JOIN tot t ON t.category = p.category
    """


@query("fold_target_encoding", oracle=_target_encoding_oracle())
def fold_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-SAFE version of the
    most effective categorical feature there is (category → mean of
    the target): each row's encoding is the category mean computed
    WITHOUT its own fold, so the feature never contains the row's own
    label (in-fold encoding leaks the target and inflates validation
    scores — the classic silent ML bug). Folds are the engine's
    portable-hash convention (`crossval_fold_balance`): fold(row) =
    hash60(order key) % k, deterministic across engines, reruns and
    partitionings. OOF mean falls out of ONE grouped pass via the
    subtraction identity (Σ_cat − Σ_fold)/(n_cat − n_fold) — no k-way
    re-scan. `leak_delta` (full-mean minus OOF-mean) is the audit
    column: large values = folds too small for the cardinality.

    Scale shape: one grouped agg keyed on (category, fold), one
    O(categories) rollup joined back — the fact table is scanned once;
    output is categories × k rows."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    assigned = orders.select(
        F.col("o_orderpriority").alias("category"),
        (portable_hash60(F.col("o_orderkey").cast("string"), _TE_SEED)
         % _TE_K).cast("int").alias("fold"),
        F.col("o_totalprice").alias("y"),
    )
    per = assigned.groupBy("category", "fold").agg(
        F.count(F.lit(1)).cast("double").alias("n_f"),
        F.sum("y").alias("s_f"),
    )
    tot = per.groupBy("category").agg(
        F.sum("n_f").alias("n_c"), F.sum("s_f").alias("s_c")
    )
    j = per.join(F.broadcast(tot), "category")
    # degenerate-fold guard: a category whose rows all hash into ONE
    # fold has n_c == n_f, where 0/0 is NULL in Spark but NaN under
    # DuckDB's IEEE division — make both engines emit NULL explicitly
    oof = F.when(
        F.col("n_c") > F.col("n_f"),
        (F.col("s_c") - F.col("s_f")) / (F.col("n_c") - F.col("n_f")),
    )
    full = F.col("s_c") / F.col("n_c")
    return j.select(
        "category",
        "fold",
        F.col("n_f").cast("long").alias("n_rows"),
        round4(oof).alias("oof_mean"),
        round4(full).alias("full_mean"),
        round4(full - oof).alias("leak_delta"),
    )


# ------------------------------------- embedding feature covariance ----

_COV_DIM = 64

_COV_PARTIAL_SCHEMA = (
    "i int, j int, sxy double, sxi double, sxj double, cnt long"
)


def _gram_partials(batches: Iterator) -> Iterator:
    """Per-Arrow-batch partial Gram matrix: one numpy X^T X on the
    batch (float64 — float32 accumulation would diverge from the
    oracle's DOUBLE sums) plus the per-dimension sums, emitted as
    upper-triangle cell rows. Each batch collapses to d(d+1)/2 rows
    no matter how many vectors it holds — the distributed covariance
    pattern that never shuffles vectors, only d×d cells."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(_COV_DIM)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        g = x.T @ x
        s = x.sum(axis=0)
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "sxy": g[iu, ju],
                "sxi": s[iu],
                "sxj": s[ju],
                "cnt": np.full(len(iu), len(x), dtype=np.int64),
            }
        )


def _covariance_oracle() -> str:
    cov = "sxy / n - (sxi / n) * (sxj / n)"
    return f"""
    WITH u AS (
        SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {_COV_DIM})) AS i) i
    ),
    cells AS (
        SELECT a.i - 1 AS i, b.i - 1 AS j,
               sum(a.v * b.v) AS sxy,
               sum(a.v) AS sxi, sum(b.v) AS sxj,
               CAST(count(*) AS DOUBLE) AS n
        FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    covs AS (SELECT i, j, n, {cov} AS cov FROM cells),
    diag AS (SELECT i, cov AS var FROM covs WHERE i = j)
    SELECT c.i, c.j,
           CAST(c.n AS BIGINT) AS n_vectors,
           {sql_round4('c.cov')} AS cov,
           {sql_round4('c.cov / sqrt(di.var * dj.var)')} AS corr
    FROM covs c
    JOIN diag di ON di.i = c.i
    JOIN diag dj ON dj.i = c.j
    """


@query("embedding_feature_covariance", oracle=_covariance_oracle())
def embedding_feature_covariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature covariance / correlation audit of the embedding tier —
    the vector-quality diagnostic norm checks can't see: highly
    correlated dimensions mean the effective rank is far below d
    (wasted capacity, a collapsed or badly-whitened encoder), and it
    is the input to any PCA/whitening decision. Computed as a
    distributed Gram matrix: mapInPandas emits per-batch d(d+1)/2
    partial cells (one numpy X^T X per Arrow batch — vectors NEVER
    shuffle, only the fixed-size cell grid does), then one grouped sum
    finishes cov = E[xy] − E[x]E[y]. The oracle recomputes the same
    sums by exploding the array — quadratic per-row work that is the
    reason the engine side does the fold in numpy.

    Output is the d(d+1)/2 upper triangle with Pearson correlation
    (diag joins broadcast — the frame is O(d²), corpus-independent)."""
    tune_session(spark)
    emb = fan_out(
        load_table(spark, sf_dir, "embeddings").select("embedding")
    )
    partials = emb.mapInPandas(_gram_partials, schema=_COV_PARTIAL_SCHEMA)
    cells = partials.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sxi").alias("sxi"),
        F.sum("sxj").alias("sxj"),
        F.sum("cnt").cast("double").alias("n"),
    )
    n = F.col("n")
    cov = F.col("sxy") / n - (F.col("sxi") / n) * (F.col("sxj") / n)
    covs = cells.select("i", "j", n.alias("n"), cov.alias("cov"))
    diag = covs.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("var")
    )
    return (
        covs.join(F.broadcast(diag), covs["i"] == diag["d"])
        .drop("d")
        .withColumnRenamed("var", "vi")
        .join(F.broadcast(diag), covs["j"] == diag["d"])
        .drop("d")
        .withColumnRenamed("var", "vj")
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n_vectors"),
            round4(F.col("cov")).alias("cov"),
            round4(F.col("cov") / F.sqrt(F.col("vi") * F.col("vj"))).alias(
                "corr"
            ),
        )
    )


# ------------------------------------------------- Mann–Whitney U ----

_MW_A = "purchase"
_MW_B = "click"


def _mannwhitney_oracle() -> str:
    z = "(u_a - mu_u) / sqrt((na * nb / 12.0) * ((nn + 1.0) - tie_t / (nn * (nn - 1.0))))"
    return f"""
    WITH base AS (
        SELECT event_type, value FROM events
        WHERE event_type IN ('{_MW_A}', '{_MW_B}') AND value IS NOT NULL
    ),
    vals AS (
        SELECT value,
               CAST(count(*) AS DOUBLE) AS t,
               CAST(count(*) FILTER (WHERE event_type = '{_MW_A}')
                    AS DOUBLE) AS t_a
        FROM base GROUP BY value
    ),
    ranked AS (
        SELECT t, t_a,
               coalesce(sum(t) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (t + 1.0) / 2.0 AS rank_avg
        FROM vals
    ),
    sums AS (
        SELECT sum(t_a) AS na, sum(t - t_a) AS nb, sum(t) AS nn,
               sum(t_a * rank_avg) AS r_a,
               sum(t * t * t - t) AS tie_t
        FROM ranked
    ),
    stats AS (
        SELECT na, nb, nn,
               r_a - na * (na + 1.0) / 2.0 AS u_a,
               na * nb / 2.0 AS mu_u,
               tie_t
        FROM sums
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           u_a AS u_stat,
           {sql_round4(z)} AS z_score
    FROM stats
    """


@query("mannwhitney_value_shift", oracle=_mannwhitney_oracle())
def mannwhitney_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between purchase and click values —
    the NONPARAMETRIC two-sample location test (Welch's t answers "are
    the means different?" assuming CLT on the means; U answers "does
    one arm stochastically dominate?" with no distributional assumption
    — the robust choice for skewed engagement values). Tie-corrected
    normal approximation: U = R_a − n_a(n_a+1)/2 with AVERAGE ranks,
    σ²_U = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))).

    Scale shape — the reason this formulation and not a global window:
    ranking collapses to ONE groupBy(value) (distinct values, not
    rows), a running-count window over that bounded distinct frame,
    and one closing agg. No global sort of the fact table, no
    unpartitioned window over rows. Every rank is an exact half-integer
    and every sum an exact product below 2^53, so U and the z-score
    are bit-stable cross-engine (IEEE sqrt correctly rounded);
    round4 only on the emitted z."""
    tune_session(spark)
    base = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MW_A, _MW_B) & F.col("value").isNotNull()
    )
    vals = base.groupBy("value").agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.count(F.when(F.col("event_type") == _MW_A, 1))
        .cast("double")
        .alias("t_a"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "t",
        "t_a",
        (
            F.coalesce(F.sum("t").over(w), F.lit(0.0))
            + (F.col("t") + 1.0) / 2.0
        ).alias("rank_avg"),
    )
    sums = ranked.agg(
        F.sum("t_a").alias("na"),
        F.sum(F.col("t") - F.col("t_a")).alias("nb"),
        F.sum("t").alias("nn"),
        F.sum(F.col("t_a") * F.col("rank_avg")).alias("r_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "tie_t"
        ),
    )
    na, nb, nn = F.col("na"), F.col("nb"), F.col("nn")
    u_a = F.col("r_a") - na * (na + 1.0) / 2.0
    mu_u = na * nb / 2.0
    var_u = (na * nb / 12.0) * (
        (nn + 1.0) - F.col("tie_t") / (nn * (nn - 1.0))
    )
    return sums.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        u_a.alias("u_stat"),
        round4((u_a - mu_u) / F.sqrt(var_u)).alias("z_score"),
    )


# --------------------------------------- two-proportion conversion z ----


def _conversion_ztest_oracle() -> str:
    z = (
        "CASE WHEN (c_a + c_b) > 0 AND (c_a + c_b) < (n_a + n_b) THEN "
        + sql_round4(
            "(c_a / n_a - c_b / n_b)"
            " / sqrt((c_a + c_b) / (n_a + n_b)"
            " * (1.0 - (c_a + c_b) / (n_a + n_b))"
            " * (1.0 / n_a + 1.0 / n_b))"
        )
        + " ELSE NULL END"
    )
    return f"""
    WITH firsts AS (
        SELECT user_id, event_type AS arm FROM (
            SELECT user_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ) q WHERE rn = 1
    ),
    conv AS (
        SELECT user_id, 1 AS converted FROM events
        WHERE event_type = 'purchase' AND value >= {_KM_VALUE_MIN!r}
        GROUP BY user_id
    ),
    arms AS (
        SELECT f.arm,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(count(c.user_id) AS DOUBLE) AS c
        FROM firsts f LEFT JOIN conv c USING (user_id)
        WHERE f.arm IN ('view', 'click')
        GROUP BY f.arm
    ),
    wide AS (
        SELECT max(CASE WHEN arm = 'view' THEN n END) AS n_a,
               max(CASE WHEN arm = 'view' THEN c END) AS c_a,
               max(CASE WHEN arm = 'click' THEN n END) AS n_b,
               max(CASE WHEN arm = 'click' THEN c END) AS c_b
        FROM arms
    )
    SELECT CAST(n_a AS BIGINT) AS n_view,
           CAST(c_a AS BIGINT) AS conv_view,
           CAST(n_b AS BIGINT) AS n_click,
           CAST(c_b AS BIGINT) AS conv_click,
           {sql_round4('c_a / n_a')} AS rate_view,
           {sql_round4('c_b / n_b')} AS rate_click,
           {z} AS z_score
    FROM wide
    """


@query("conversion_rate_ztest", oracle=_conversion_ztest_oracle())
def conversion_rate_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion by FIRST-TOUCH arm:
    users whose first event is a view vs a click, converted = ever made
    a HIGH-VALUE purchase (value >= 130, the Kaplan–Meier contract's
    terminal event — plain "ever purchased" saturates at rate 1.0 on
    this corpus and the pooled variance degenerates to 0). The
    pooled-proportion z — the proportions counterpart to the Welch
    (means) and Mann–Whitney (ranks) tests, completing the A/B
    toolkit. First touch is min_by over the exact (ts, event_id) pair,
    so equal-timestamp firsts are pinned identically in both engines;
    an all-converted/none-converted pool (variance 0) short-circuits
    to NULL z rather than an ANSI divide-by-zero. All inputs are exact
    counts — one user-keyed grouped pass + a conversion join — so the
    z is closed-form IEEE arithmetic on exact integers; round4 on the
    emitted rates and z. Output is one row; shuffle is keyed on
    user_id throughout."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("arm")
    )
    conv = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= F.lit(_KM_VALUE_MIN))
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    arms = (
        firsts.join(conv, "user_id", "left")
        .filter(F.col("arm").isin("view", "click"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.count("converted").cast("double").alias("c"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "view", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "view", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "click", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "click", F.col("c"))).alias("c_b"),
    )
    n_a, c_a = F.col("n_a"), F.col("c_a")
    n_b, c_b = F.col("n_b"), F.col("c_b")
    pool = (c_a + c_b) / (n_a + n_b)
    z = F.when(
        ((c_a + c_b) > 0) & ((c_a + c_b) < (n_a + n_b)),
        round4(
            (c_a / n_a - c_b / n_b)
            / F.sqrt(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b))
        ),
    )
    return wide.select(
        n_a.cast("long").alias("n_view"),
        c_a.cast("long").alias("conv_view"),
        n_b.cast("long").alias("n_click"),
        c_b.cast("long").alias("conv_click"),
        round4(c_a / n_a).alias("rate_view"),
        round4(c_b / n_b).alias("rate_click"),
        z.alias("z_score"),
    )


# --------------------------------------- Holt–Winters (weekly, add.) ----

#: smoothing constants as PAIRED pinned literals (the Holt convention:
#: neither engine ever computes a complement)
_HW_A, _HW_A1 = 0.3, 0.7     # level
_HW_B, _HW_B1 = 0.1, 0.9     # trend
_HW_G, _HW_G1 = 0.2, 0.8     # seasonal
_HW_P = 7                    # weekly period


def _holt_winters_oracle() -> str:
    a, a1 = f"CAST({_HW_A} AS DOUBLE)", f"CAST({_HW_A1} AS DOUBLE)"
    b, b1 = f"CAST({_HW_B} AS DOUBLE)", f"CAST({_HW_B1} AS DOUBLE)"
    g, g1 = f"CAST({_HW_G} AS DOUBLE)", f"CAST({_HW_G1} AS DOUBLE)"
    lnew = f"({a} * (r.rev - h.s[1]) + {a1} * (h.l + h.b))"
    bnew = f"({b} * ({lnew} - h.l) + {b1} * h.b)"
    snew = f"({g} * (r.rev - {lnew}) + {g1} * h.s[1])"
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               {sql_round4('CAST(sum(o_totalprice) AS DOUBLE)')} AS rev
        FROM orders GROUP BY day
    ),
    ranked AS MATERIALIZED (
        SELECT day, rev, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    init AS MATERIALIZED (
        SELECT {sql_round4(f'sum(rev) / {_HW_P}.0')} AS l0
        FROM ranked WHERE rn <= {_HW_P}
    ),
    seed AS MATERIALIZED (
        SELECT CAST({_HW_P} AS BIGINT) AS rn,
               i.l0 AS l, CAST(0.0 AS DOUBLE) AS b,
               list(r.rev - i.l0 ORDER BY r.rn) AS s
        FROM ranked r CROSS JOIN init i WHERE r.rn <= {_HW_P}
        GROUP BY i.l0
    ),
    hw(rn, day, rev, fc, l, b, s) AS (
        SELECT rn, CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), l, b, s
        FROM seed
        UNION ALL
        SELECT r.rn, r.day, r.rev,
               h.l + h.b + h.s[1],
               {lnew}, {bnew},
               h.s[2:{_HW_P}] || [{snew}]
        FROM hw h JOIN ranked r ON r.rn = h.rn + 1
    )
    SELECT day, rev,
           {sql_round4('fc')} AS forecast,
           {sql_round4('rev - fc')} AS residual,
           {sql_round4('l')} AS level,
           {sql_round4('b')} AS trend
    FROM hw WHERE rn > {_HW_P}
    """


@query("holt_winters_weekly", oracle=_holt_winters_oracle())
def holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters TRIPLE exponential smoothing on daily revenue —
    additive weekly seasonality on top of the kit's level (EWMA) and
    level+trend (Holt) stages: l_t = α(x_t − s_{t−7}) + (1−α)(l+b),
    b_t = β(l_t − l) + (1−β)b, s_t = γ(x_t − l_t) + (1−γ)s_{t−7}. The
    in-sample one-step forecast (l + b + s_{t−7}, made BEFORE
    observing day t) and its residual are the output — the residual
    stream is what anomaly alarms should watch once a weekly cycle
    exists (a plain Holt flags every Saturday). Init: l₇ = round4-
    pinned mean of the first week, b₇ = 0, s_i = x_i − l₇ (documented
    choice, identical by construction in both engines); output starts
    at day 8.

    Same scale discipline as Holt/CUSUM: the recursion is inherently
    sequential, so it runs as ONE ordered array fold over the
    round4-pinned O(days) daily frame — the data-sized work is the
    daily groupBy; the fold is calendar-bounded at any corpus size.
    The seasonal state rides the fold as a 7-slot array rotated each
    step (slice + append — what the oracle's list slicing mirrors
    CTE-for-CTE), and every update mixes pinned inputs with prior
    state in pure IEEE arithmetic, so the recursion agrees
    bit-for-bit before the output round4."""
    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(round4(F.sum("o_totalprice").cast("double")).alias("rev"))
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("xs")
    )
    a, a1 = F.lit(_HW_A), F.lit(_HW_A1)
    b, b1 = F.lit(_HW_B), F.lit(_HW_B1)
    g, g1 = F.lit(_HW_G), F.lit(_HW_G1)
    zero = F.lit(0.0).cast("double")
    p = _HW_P

    out_t = (
        "array<struct<day:timestamp,rev:double,forecast:double,"
        "level:double,trend:double>>"
    )

    def fold(acc, x):
        n = acc["n"]
        # warm-up: collect the first week's revs
        warm = n < F.lit(p - 1)
        # week complete: pin l0, derive the seasonal vector
        pre_full = F.concat(acc["pre"], F.array(x["rev"]))
        l0 = round4(
            F.aggregate(pre_full, zero, lambda s, v: s + v) / F.lit(float(p))
        )
        s_init = F.transform(pre_full, lambda v: v - l0)
        # steady state: the HW update
        s1 = F.element_at(acc["s"], 1)
        lnew = a * (x["rev"] - s1) + a1 * (acc["l"] + acc["b"])
        bnew = b * (lnew - acc["l"]) + b1 * acc["b"]
        snew = g * (x["rev"] - lnew) + g1 * s1
        fc = acc["l"] + acc["b"] + s1
        return F.struct(
            F.when(warm, acc["l"])
            .when(n == F.lit(p - 1), l0)
            .otherwise(lnew)
            .alias("l"),
            F.when(n < F.lit(p), zero).otherwise(bnew).alias("b"),
            F.when(warm, acc["s"])
            .when(n == F.lit(p - 1), s_init)
            .otherwise(
                F.concat(F.slice(acc["s"], 2, p - 1), F.array(snew))
            )
            .alias("s"),
            F.when(n < F.lit(p), pre_full).otherwise(acc["pre"]).alias("pre"),
            (n + F.lit(1)).alias("n"),
            F.when(
                n >= F.lit(p),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(
                            x["day"].alias("day"),
                            x["rev"].alias("rev"),
                            fc.alias("forecast"),
                            lnew.alias("level"),
                            bnew.alias("trend"),
                        )
                    ),
                ),
            )
            .otherwise(acc["out"])
            .alias("out"),
        )

    folded = arr.select(
        F.aggregate(
            F.col("xs"),
            F.struct(
                zero.alias("l"),
                zero.alias("b"),
                F.array().cast("array<double>").alias("s"),
                F.array().cast("array<double>").alias("pre"),
                F.lit(0).cast("int").alias("n"),
                F.array().cast(out_t).alias("out"),
            ),
            fold,
            lambda acc: acc["out"],
        ).alias("out")
    )
    r = folded.select(F.explode("out").alias("r"))
    return r.select(
        F.col("r.day").alias("day"),
        F.col("r.rev").alias("rev"),
        round4(F.col("r.forecast")).alias("forecast"),
        round4(F.col("r.rev") - F.col("r.forecast")).alias("residual"),
        round4(F.col("r.level")).alias("level"),
        round4(F.col("r.trend")).alias("trend"),
    )


# ----------------------------------- persisted decontamination tier ----

_DECON_BITS = 1 << 16
_DECON_K = 3
_DECON_THRESH = 0.5
#: bloom hash seed base (operators/sketches._BLOOM_SEED0) — pinned here
#: for the oracle twin
_DECON_SEED0 = 100


def _decon_bloom_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    pos = [
        f"({sql_hash60('sh', _DECON_SEED0 + s)} % {_DECON_BITS})"
        for s in range(_DECON_K)
    ]
    member = " AND ".join(
        f"(SELECT count(*) FROM bits b WHERE b.bit = {p}) > 0" for p in pos
    )
    return f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ),
    t AS (
        SELECT doc_id,
               list_distinct(
                 list_transform(generate_series(1, greatest(len(w)-2, 1)),
                                i -> array_to_string(w[i:i+2], ' '))
               ) AS s
        FROM w
    ),
    bench_sh AS (
        SELECT DISTINCT unnest(s) AS sh FROM t WHERE doc_id % 10 = 0
    ),
    bits AS (
        SELECT DISTINCT ({sql_hash60('sh', _DECON_SEED0)} % {_DECON_BITS})
            AS bit FROM bench_sh
        UNION
        SELECT DISTINCT ({sql_hash60('sh', _DECON_SEED0 + 1)} % {_DECON_BITS})
            FROM bench_sh
        UNION
        SELECT DISTINCT ({sql_hash60('sh', _DECON_SEED0 + 2)} % {_DECON_BITS})
            FROM bench_sh
    ),
    corp AS (
        SELECT doc_id, unnest(s) AS sh FROM t WHERE doc_id % 10 <> 0
    ),
    probed AS (
        SELECT c.doc_id, c.sh,
               ({member}) AS bloom_pass,
               exists(SELECT 1 FROM bench_sh b WHERE b.sh = c.sh)
                   AS exact_hit
        FROM corp c
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(CASE WHEN bloom_pass THEN 1 END) AS BIGINT)
                   AS n_pass,
               CAST(count(CASE WHEN exact_hit THEN 1 END) AS BIGINT)
                   AS n_exact
        FROM probed GROUP BY doc_id
    )
    SELECT doc_id, n_shingles,
           {sql_round4('n_pass::DOUBLE / n_shingles')} AS bloom_frac,
           {sql_round4('n_exact::DOUBLE / n_shingles')} AS exact_frac,
           (n_pass >= n_exact) AS no_false_negatives
    FROM per_doc
    WHERE n_pass::DOUBLE / n_shingles >= {_DECON_THRESH}
    """


@query("decontamination_bloom_store", oracle=_decon_bloom_oracle())
def decontamination_bloom_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a PERSISTED Bloom tier — the
    store pattern (BM25 postings / media signatures / IVF-PQ codes)
    applied to the contamination check: benchmark shingles are folded
    into an append-only set-bit table ONCE (two append batches here —
    appends never read the store, and batches compose because Bloom
    bits are a union), and every corpus refresh then probes its
    shingles against the ≤ 2^16-row bit table broadcast into the scan —
    membership-in-ANY-benchmark (the C4/Dolma-style set test, distinct
    from `decontamination_ngram_overlap`'s best-single-benchmark-doc
    match), with NO join against benchmark text at probe time. The
    probe emits the exact-join fraction next to the Bloom fraction:
    bloom >= exact on every row (no false negatives — a hard guarantee
    the output carries as a checked column), and the gap is the
    measured FP inflation (~ (1-e^(-kn/m))^k).

    Scale shape: append cost ∝ batch; the bit table is fixed-size
    (benchmarks don't grow with the corpus), so probe cost is one
    corpus scan with 3 broadcast joins and a doc-keyed agg — no
    corpus-sized shuffle. Hashes are the portable md5 family, so the
    oracle rebuilds the very same bits bit-for-bit."""
    from lab3_lakehouse_spark.operators import sketches
    from lab3_lakehouse_spark.queries._util import scratch_dir

    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    shingled = docs.select(
        "doc_id", F.explode(dedup_ops.word_shingles("text", 3)).alias("sh")
    )
    import shutil

    root = scratch_dir("bloomstore_")
    try:
        # two disjoint benchmark batches -> two appends (the store
        # contract)
        for m in (0, 10):
            batch = shingled.filter(F.col("doc_id") % 20 == m).select(
                "sh"
            ).distinct()
            sketches.bloom_store_append(
                root, batch, "sh", n_bits=_DECON_BITS, n_hashes=_DECON_K
            )
        bits = sketches.bloom_store_bits(spark, root)
        # pin before the scratch store is removed: the returned frame
        # must stay re-evaluable after the finally below (the same
        # try/finally + eager-checkpoint convention every other
        # persisted-store registry entry follows)
        return _decon_probe_report(shingled, bits).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _decon_probe_report(shingled: DataFrame, bits: DataFrame) -> DataFrame:
    """Shared probe tail of the batch and streaming Bloom-tier entries:
    corpus shingles through the stored bit set (3 broadcast joins,
    never a corpus shuffle), exact-join truth column alongside, per-doc
    rollup, contamination cut."""
    from lab3_lakehouse_spark.operators import sketches

    corp = shingled.filter(F.col("doc_id") % 10 != 0)
    probed = sketches.bloom_probe(
        corp, F.col("sh"), bits, _DECON_BITS, _DECON_K
    )
    bench_sh = (
        shingled.filter(F.col("doc_id") % 10 == 0).select("sh").distinct()
    )
    probed = probed.join(
        F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "sh", "left"
    )
    per_doc = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.count(F.when(F.col("bloom_pass"), 1)).cast("long").alias("n_pass"),
        F.count(F.when(F.col("__hit").isNotNull(), 1))
        .cast("long")
        .alias("n_exact"),
    )
    return per_doc.filter(
        F.col("n_pass").cast("double") / F.col("n_shingles")
        >= F.lit(_DECON_THRESH)
    ).select(
        "doc_id",
        "n_shingles",
        round4(F.col("n_pass").cast("double") / F.col("n_shingles")).alias(
            "bloom_frac"
        ),
        round4(F.col("n_exact").cast("double") / F.col("n_shingles")).alias(
            "exact_frac"
        ),
        (F.col("n_pass") >= F.col("n_exact")).alias("no_false_negatives"),
    )


@query("streaming_bloom_decontamination", oracle=_decon_bloom_oracle())
def streaming_bloom_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Bloom decontamination tier fed by a STREAM — the continuous
    lid on `decontamination_bloom_store`, completing the store-family
    symmetry (BM25 got its streaming writer in `streaming_bm25_index`;
    the membership tier gets the same here): benchmark documents
    arrive as a file stream (4 JSON slices, maxFilesPerTrigger=2 →
    multiple real micro-batches), every micro-batch folds its shingles
    into the persisted bit table via streaming/ingest.
    stream_bloom_append, and after the stream drains the SAME corpus
    probe as the batch entry must produce the identical contamination
    report — the oracle is the batch entry's, verbatim. Replay is
    fully idempotent for this store (re-appended bits de-duplicate —
    no df/tf double-count analog), the best-behaved member of the
    store family. Per-batch cost ∝ batch; probe cost is one corpus
    scan + 3 broadcast joins at any stream age."""
    import shutil

    from lab3_lakehouse_spark.operators import sketches
    from lab3_lakehouse_spark.queries._util import scratch_dir
    from lab3_lakehouse_spark.streaming.ingest import stream_bloom_append

    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    shingled = docs.select(
        "doc_id", F.explode(dedup_ops.word_shingles("text", 3)).alias("sh")
    )
    src = scratch_dir("bloom_stream_src_")
    store = scratch_dir("bloom_stream_store_")
    try:
        docs.filter(F.col("doc_id") % 10 == 0).select(
            "doc_id", "text", "source"
        ).repartition(4).write.mode("overwrite").json(src)
        sq = stream_bloom_append(
            spark, src, store,
            n_bits=_DECON_BITS, n_hashes=_DECON_K, max_files_per_trigger=2,
        )
        sq.processAllAvailable()
        sq.stop()
        bits = sketches.bloom_store_bits(spark, store)
        return _decon_probe_report(shingled, bits).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


# ------------------------------------------ Heaps' vocabulary growth ----

_HEAPS_CKPTS = 32


def _heaps_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+'))
            AS token
        FROM documents
    ),
    bounds AS (
        SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents
    ),
    ckpts AS (
        SELECT k.k,
               b.lo + ((b.hi - b.lo) * k.k) // {_HEAPS_CKPTS} AS c
        FROM (SELECT unnest(generate_series(1, {_HEAPS_CKPTS})) AS k) k
        CROSS JOIN bounds b
    ),
    firsts AS (
        SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token
    ),
    vocab AS (
        SELECT c.k, CAST(count(f.token) AS BIGINT) AS v
        FROM ckpts c LEFT JOIN firsts f ON f.first_doc <= c.c
        GROUP BY c.k
    ),
    toksz AS (
        SELECT c.k, CAST(count(t.token) AS BIGINT) AS n
        FROM ckpts c LEFT JOIN tok t ON t.doc_id <= c.c
        GROUP BY c.k
    ),
    pts AS (
        SELECT v.k, v.v, s.n, ln(CAST(s.n AS DOUBLE)) AS lx,
               ln(CAST(v.v AS DOUBLE)) AS ly
        FROM vocab v JOIN toksz s ON s.k = v.k
        WHERE v.v > 0 AND s.n > 0
    ),
    fit AS (
        SELECT (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) AS beta,
               (sy - (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) * sx)
                   / cnt AS logk
        FROM (
            SELECT CAST(count(*) AS DOUBLE) AS cnt,
                   sum(lx) AS sx, sum(ly) AS sy, sum(lx * ly) AS sxy,
                   sum(lx * lx) AS sxx
            FROM pts
        )
    )
    SELECT p.k AS ckpt, p.n AS n_tokens, p.v AS vocab,
           {sql_round4('f.beta')} AS heaps_beta,
           {sql_round4('f.logk')} AS heaps_logk
    FROM pts p CROSS JOIN fit f
    """


@query("heaps_vocabulary_growth", oracle=_heaps_oracle())
def heaps_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: V(n) ≈ K·n^β measured at 32
    checkpoints along ingestion order (doc_id), with β from a log-log
    OLS — the corpus-health twin of the Zipf rank fit (`zipf_fit_tokens`
    checks the frequency DISTRIBUTION; this checks vocabulary GROWTH —
    β far above the corpus baseline = OCR noise / unmerged near-dup
    sources injecting junk types; β collapsing toward 0 = a corpus
    that has stopped contributing new diversity, the data-curation
    signal for when more crawl stops paying).

    Exact at scale without a cumulative global sort: each TOKEN
    contributes through its FIRST occurrence (one grouped min over the
    token stream), each checkpoint's vocabulary is then a bounded
    32-row histogram rollup — never a running-distinct over rows.
    Checkpoints are exact integer arithmetic on the doc-id range;
    counts are exact; the only floats are the two ln()s into the
    closed-form OLS (libm-on-identical-ints, round4-absorbed)."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    )
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    ckpts = (
        spark.range(1, _HEAPS_CKPTS + 1)
        .withColumnRenamed("id", "k")
        .crossJoin(F.broadcast(bounds))
        .select(
            "k",
            F.expr(f"lo + ((hi - lo) * k) DIV {_HEAPS_CKPTS}").alias("c"),
        )
    )
    firsts = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    vocab = (
        F.broadcast(ckpts)
        .join(firsts, F.col("first_doc") <= F.col("c"), "left")
        .groupBy("k")
        .agg(F.count("token").cast("long").alias("v"))
    )
    toksz = (
        F.broadcast(ckpts)
        .join(tok, F.col("doc_id") <= F.col("c"), "left")
        .groupBy("k")
        .agg(F.count("token").cast("long").alias("n"))
    )
    pts = (
        vocab.join(toksz, "k")
        .filter((F.col("v") > 0) & (F.col("n") > 0))
        .select(
            "k",
            "v",
            "n",
            F.log(F.col("n").cast("double")).alias("lx"),
            F.log(F.col("v").cast("double")).alias("ly"),
        )
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    cnt, sx, sy = F.col("cnt"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    beta = (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
    fit = sums.select(
        round4(beta).alias("heaps_beta"),
        round4((sy - beta * sx) / cnt).alias("heaps_logk"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        F.col("k").cast("long").alias("ckpt"),
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        "heaps_beta",
        "heaps_logk",
    )


# ------------------------------------------------ hard-negative mining ----

_HN_ANCHOR_MOD = 31   # anchors: vec_id % 31 == 0 (~16 of 500 at sf0.01)
_HN_K = 5


def _hard_negative_oracle() -> str:
    cos = "list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[])"
    return f"""
    WITH ranked AS (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               c.vec_id AS negative_id, c.label AS negative_label,
               {cos} AS cosine,
               CAST(row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {cos} DESC, c.vec_id) AS BIGINT) AS rank
        FROM embeddings a
        JOIN embeddings c ON c.label <> a.label
        WHERE a.vec_id % {_HN_ANCHOR_MOD} = 0
        QUALIFY rank <= {_HN_K}
    )
    SELECT anchor_id, anchor_label, negative_id, negative_label, rank,
           {sql_round4('cosine')} AS cosine
    FROM ranked
    """


def _hard_negatives_exact(emb: DataFrame) -> DataFrame:
    """The exact (brute-force) hard-negative path shared by the catalog
    entry and the store-probe recall contract: bounded anchors
    broadcast into one JVM-side cosine scan, label-mismatch filter
    BEFORE scoring, top-k window per anchor."""
    from lab3_lakehouse_spark.functions.vector import cosine_similarity

    anchors = emb.filter(F.col("vec_id") % _HN_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("__avec"),
    )
    scored = emb.join(
        F.broadcast(anchors),
        F.col("label") != F.col("anchor_label"),
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine_similarity(F.col("__avec"), F.col("embedding")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _HN_K)
    )


@query("hard_negative_mining", oracle=_hard_negative_oracle())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for a
    deterministic anchor sample, the top-k most-similar vectors with a
    DIFFERENT label — the pairs that actually move a contrastive loss
    (random negatives are trivially separable a few epochs in; hard
    negatives close to the decision boundary are what improves the
    encoder — the curation step of every dense-retrieval recipe).
    Filter-then-score: the label-mismatch predicate lands BEFORE any
    cosine is computed, so no same-label similarity is ever scored.

    Scale shape is the brute-force eval class (`retrieval_label_mrr`):
    the bounded anchor set broadcasts into one corpus scan (JVM-side
    left-fold cosine, no Python round-trip), one anchor-keyed top-k
    window on the scored frame. At production corpus sizes the scan
    leg swaps for the persisted IVF-PQ store probe
    (`ann_store_ivfpq_topk`) with k oversampled before the label
    filter — same output contract."""
    tune_session(spark)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return _hard_negatives_exact(emb).select(
        "anchor_id",
        "anchor_label",
        "negative_id",
        "negative_label",
        "rank",
        round4(F.col("cosine")).alias("cosine"),
    )


# -------------------------------------------- multi-touch attribution ----

_ATTR_WINDOW_DAYS = 7
_ATTR_POS_FIRST = 0.4   # U-shaped (position-based) credit: 40/20/40
_ATTR_POS_LAST = 0.4


def _attribution_oracle() -> str:
    w_us = _ATTR_WINDOW_DAYS * 86_400_000_000
    credit = f"""
        CASE WHEN k = 1 THEN 1.0
             WHEN k = 2 THEN 0.5
             WHEN rn = 1 THEN CAST({_ATTR_POS_FIRST} AS DOUBLE)
             WHEN rn = k THEN CAST({_ATTR_POS_LAST} AS DOUBLE)
             ELSE CAST(0.2 AS DOUBLE) / (k - 2)
        END
    """
    return f"""
    WITH purch AS (
        SELECT event_id AS conv_id, user_id, epoch_us(ts) AS t_p, value
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    touch AS (
        SELECT user_id, event_id AS touch_id, event_type AS channel,
               epoch_us(ts) AS t_t
        FROM events WHERE event_type IN ('view', 'click')
    ),
    joined AS (
        SELECT p.conv_id, p.value, t.touch_id, t.channel, t.t_t,
               row_number() OVER (
                   PARTITION BY p.conv_id ORDER BY t.t_t, t.touch_id
               ) AS rn,
               count(*) OVER (PARTITION BY p.conv_id) AS k
        FROM purch p
        JOIN touch t ON t.user_id = p.user_id
                    AND t.t_t < p.t_p AND t.t_t >= p.t_p - {w_us}
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           {sql_round4(f'sum(({credit}) * value)')} AS credited_revenue,
           {sql_round4(f'sum({credit})')} AS credited_conversions
    FROM joined
    GROUP BY channel
    """


@query("multi_touch_attribution", oracle=_attribution_oracle())
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch revenue attribution: every
    purchase distributes its value over the view/click touches of the
    SAME user in the preceding 7 days — first touch 40%, last touch
    40%, middle touches split 20% (k=1 → 100%, k=2 → 50/50; the
    standard position-based rule) — answering "which channel earns the
    revenue" where last-touch over-credits closers and first-touch
    over-credits prospectors. Credits per conversion sum to exactly 1
    by construction, so Σ credited_revenue over channels equals total
    touched revenue (the books balance — a tested invariant).

    Scale shape: the touch join is keyed on user_id (ONE shuffle; the
    time-window predicate prunes inside the per-user join group — the
    as-of/interval family's discipline, never a time-range cross
    join); per-conversion position/count come from one window over the
    joined frame partitioned by conversion id; one grouped rollup
    ends it. Credit weights are exact rationals of small ints; the
    only order-dependent float sums are the final credited sums
    (round4-absorbed)."""
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.unix_micros("ts").alias("t_p"),
        "value",
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("t_t"),
    )
    w_us = _ATTR_WINDOW_DAYS * 86_400_000_000
    joined = purch.join(touch, "user_id").filter(
        (F.col("t_t") < F.col("t_p")) & (F.col("t_t") >= F.col("t_p") - w_us)
    )
    w = Window.partitionBy("conv_id").orderBy("t_t", "touch_id")
    wk = Window.partitionBy("conv_id")
    pos = joined.select(
        "conv_id",
        "value",
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(F.col("rn") == 1, F.lit(_ATTR_POS_FIRST))
        .when(F.col("rn") == F.col("k"), F.lit(_ATTR_POS_LAST))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return pos.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.countDistinct("conv_id").cast("long").alias("n_conversions"),
        round4(F.sum(credit * F.col("value"))).alias("credited_revenue"),
        round4(F.sum(credit)).alias("credited_conversions"),
    )


# --------------------------------- hard negatives via the ANN store ----

_HNS_OVERSAMPLE = 20   # store-probe depth before the label filter
_HNS_FLOOR = 0.6       # recall floor vs the exact hard negatives

_HNS_ORACLE = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_anchors,
           CAST({_HN_K} * count(*) AS BIGINT) AS n_exact_pairs,
           true AS recall_ok
    FROM embeddings WHERE vec_id % {_HN_ANCHOR_MOD} = 0
"""


@query("hard_negative_store_mining", oracle=_HNS_ORACLE)
def hard_negative_store_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining through the PERSISTED IVF-PQ store — the
    scale path `hard_negative_mining` documents, wired for real: the
    index lives as parquet tiers (init + two parity appends, the
    ann_store_ivfpq_topk shape), each anchor probes the store at
    OVERSAMPLED depth (top-20 before the label filter — the label
    predicate can't push into the index, so the probe must over-fetch
    to survive it; with 10 roughly-balanced labels ~90% of candidates
    survive), the label filter + top-5 re-cut run on the bounded probe
    result, and the contract is per-pair recall against the EXACT
    brute-force hard negatives (shared `_hard_negatives_exact` path)
    with a 0.6 floor — bounded by the IVF routing's ~0.9 recall, not
    by the label filter. One corpus scan for the exact leg, an index
    sliver read for the store leg; at 100 TB only the store leg
    remains (the exact leg IS the verification scaffolding)."""
    import shutil

    from lab3_lakehouse_spark.operators import similarity as sim_ops
    from lab3_lakehouse_spark.queries._util import scratch_dir

    tune_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _hard_negatives_exact(emb).select(
        "anchor_id", "negative_id"
    )
    anchors = emb.filter(F.col("vec_id") % _HN_ANCHOR_MOD == 0)
    root = scratch_dir("hns_store_")
    try:
        fit = sim_ops.ivfpq_store_init(
            root, emb, "vec_id", "embedding",
            n_centroids=16, dim=64, m=8, n_codes=32,
        )
        for residue in (0, 1):
            sim_ops.ivfpq_store_append(
                spark, root,
                emb.filter(F.pmod("vec_id", F.lit(2)) == residue),
                "vec_id", "embedding",
                meta=fit,  # same-process appends reuse the just-written fit
            )
        probed = sim_ops.ivfpq_store_topk(
            spark, root, emb, anchors, "vec_id", "embedding",
            k=_HNS_OVERSAMPLE, n_probe=8, rerank=400, meta=fit,
        ).localCheckpoint(eager=False)
        labels = emb.select(
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
        )
        alabels = emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("anchor_label"),
        )
        filtered = (
            probed.withColumnRenamed("neighbor_id", "negative_id")
            .join(F.broadcast(labels), "negative_id")
            .join(F.broadcast(alabels), "query_id")
            .filter(
                (F.col("negative_label") != F.col("anchor_label"))
                & (F.col("negative_id") != F.col("query_id"))
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("negative_id").asc()
        )
        store_top = (
            filtered.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= _HN_K)
            .select(
                F.col("query_id").alias("anchor_id"),
                "negative_id",
            )
            .withColumn("__hit", F.lit(1))
        )
        joined = exact.join(
            store_top, ["anchor_id", "negative_id"], "left"
        )
        out = joined.agg(
            F.countDistinct("anchor_id").cast("long").alias("n_anchors"),
            F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
                >= F.lit(_HNS_FLOOR)
            ).alias("recall_ok"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------ code-switch lang-mix audit ----

_CS_WIN = 32   # tokens per chunk (non-overlapping: stride == window)


def _code_switch_oracle() -> str:
    from lab3_lakehouse_spark.operators.text import LANG_MARKERS

    score = {
        lang: (
            "len(list_filter(c, w -> list_contains(['"
            + "','".join(m)
            + "'], w)))"
        )
        for lang, m in LANG_MARKERS.items()
    }
    greatest = "greatest(" + ", ".join(f"s_{x}" for x in score) + ")"
    case = (
        f"CASE WHEN {greatest} = 0 THEN 'und' "
        + " ".join(f"WHEN s_{x} = {greatest} THEN '{x}'" for x in score)
        + " END"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ),
    starts AS (
        SELECT doc_id, w,
               unnest(generate_series(0,
                   greatest(CAST(ceil((len(w) - {_CS_WIN}) / {_CS_WIN}.0)
                            AS BIGINT), 0))) AS i
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, i,
               w[i * {_CS_WIN} + 1 : i * {_CS_WIN} + {_CS_WIN}] AS c
        FROM starts
    ),
    scored AS (
        SELECT doc_id, i,
               {", ".join(f"{sql} AS s_{x}" for x, sql in score.items())}
        FROM chunks
    ),
    pred AS (SELECT doc_id, i, {case} AS p FROM scored),
    perlang AS (
        SELECT doc_id, p, CAST(count(*) AS BIGINT) AS c
        FROM pred WHERE p <> 'und' GROUP BY doc_id, p
    ),
    major AS (
        SELECT doc_id, p AS majority_lang, c AS major_cnt
        FROM perlang
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY c DESC, p) = 1
    ),
    perdoc AS (
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(CASE WHEN p <> 'und' THEN 1 END) AS BIGINT)
                   AS n_lang_chunks,
               CAST(count(DISTINCT CASE WHEN p <> 'und' THEN p END)
                   AS BIGINT) AS n_langs
        FROM pred d GROUP BY d.doc_id
    )
    SELECT p.doc_id, p.n_chunks, p.n_langs,
           m.majority_lang,
           CASE WHEN p.n_lang_chunks > 0
                THEN m.major_cnt::DOUBLE / p.n_lang_chunks END
               AS majority_share,
           (p.n_langs >= 2) AS is_code_switched
    FROM perdoc p LEFT JOIN major m USING (doc_id)
    WHERE p.n_chunks >= 2
    """


@query("code_switch_langmix", oracle=_code_switch_oracle())
def code_switch_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CHUNK language-mix audit (code-switching detection): each
    document is cut into non-overlapping 32-token windows
    (operators/text.chunk_token_windows — the same chunker the
    embedding pipeline uses), each window is language-ID'd with the
    marker heuristic, and the per-doc rollup reports how many distinct
    languages appear and how dominant the majority is. Doc-level
    lang-ID (`lang_id_predictions`) calls a 50/50 en/es document
    "en" and moves on; for an LLM corpus, mixed-language documents
    need flagging BEFORE tokenizer/mix decisions (they wreck per-lang
    quotas and curriculum buckets). majority_share is an exact
    int/int division; the majority tie breaks on (count desc, lang) in
    both engines.

    Scale shape: the chunk explode is scan-side with ~len/32 bounded
    fan-out, scoring is pure Catalyst array filtering, and everything
    aggregates on doc_id — one shuffle key; output is O(docs)."""
    from lab3_lakehouse_spark.operators import text as text_ops

    tune_session(spark)
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # score the token SLICE directly (lang_id_from_tokens) — routing
    # through chunk_token_windows' rejoined chunk string would pay an
    # array_join + re-split per window for nothing (measured ~1.5x)
    toks = F.split(F.lower(F.col("text")), r"\s+")
    last_start = F.greatest(
        F.ceil((F.size(toks) - F.lit(_CS_WIN)) / F.lit(_CS_WIN)).cast("long"),
        F.lit(0).cast("long"),
    )
    chunks = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), last_start)).alias("i"),
        toks.alias("__toks"),
    ).select(
        "doc_id",
        text_ops.lang_id_from_tokens(
            F.slice(
                F.col("__toks"), (F.col("i") * _CS_WIN + 1).cast("int"),
                _CS_WIN,
            )
        ).alias("p"),
    )
    perdoc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(F.col("p") != "und", 1))
        .cast("long")
        .alias("n_lang_chunks"),
        F.countDistinct(F.when(F.col("p") != "und", F.col("p")))
        .cast("long")
        .alias("n_langs"),
    )
    perlang = (
        chunks.filter(F.col("p") != "und")
        .groupBy("doc_id", "p")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wm = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("p"))
    major = (
        perlang.withColumn("__r", F.row_number().over(wm))
        .filter(F.col("__r") == 1)
        .select(
            "doc_id",
            F.col("p").alias("majority_lang"),
            F.col("c").alias("major_cnt"),
        )
    )
    return (
        perdoc.join(major, "doc_id", "left")
        .filter(F.col("n_chunks") >= 2)
        .select(
            "doc_id",
            "n_chunks",
            "n_langs",
            "majority_lang",
            F.when(
                F.col("n_lang_chunks") > 0,
                F.col("major_cnt").cast("double")
                / F.col("n_lang_chunks").cast("double"),
            ).alias("majority_share"),
            (F.col("n_langs") >= 2).alias("is_code_switched"),
        )
    )


# --------------------------------------- cross-source calibration ----


def _calibration_oracle() -> str:
    pr = (
        "CASE WHEN n_s > 1 THEN (rs - 1.0) / (n_s - 1.0) ELSE 0.5 END"
    )
    return f"""
    WITH t AS (SELECT doc_id, source, n_chars FROM documents),
    per AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
               count(*) OVER (PARTITION BY source) AS n_s
        FROM t
    ),
    granks AS (
        SELECT n_chars AS g_val,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rg
        FROM t
    ),
    total AS (SELECT count(*) AS n FROM t),
    mapped AS (
        SELECT p.doc_id, p.source, p.n_chars,
               {pr} AS pr,
               CAST(floor(({pr}) * (tt.n - 1) + 0.5) AS BIGINT) + 1 AS g
        FROM per p CROSS JOIN total tt
    )
    SELECT m.doc_id, m.source,
           CAST(m.n_chars AS BIGINT) AS n_chars,
           {sql_round4('m.pr')} AS source_quantile,
           CAST(g.g_val AS BIGINT) AS calibrated_n_chars
    FROM mapped m JOIN granks g ON g.rg = m.g
    """


@query("source_length_calibration", oracle=_calibration_oracle())
def source_length_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile calibration (quantile normalization): each
    document's length maps to the GLOBAL length at its within-source
    quantile — the remedy when per-source scores aren't comparable
    (every corpus-mixing pipeline hits this: source A's '90th
    percentile' and source B's are different absolute scales, so a
    single global threshold over- or under-selects per source; mapping
    through ranks puts every source on the pooled scale). n_chars
    stands in for the per-source quality-classifier score — the
    operator contract (value in, calibrated value out) is scale-free.

    Scale shape: the within-source quantile is a per-key ranking
    window; the global side uses the engine's TWO-PHASE global ranking
    (operators/windows.global_row_number — approx-percentile buckets +
    per-bucket row_number + offsets, never a single-partition sort;
    rank exactness independent of cut accuracy), and the rank→value
    lookup is an equi-join on the rank. Quantiles are exact rationals
    of exact ints; the floor(x+0.5) target-rank round is the engines'
    shared IEEE expression. Ties pin on doc_id in both engines."""
    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    per = t.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).alias("rs"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    glob = win_ops.global_row_number(
        t.select(F.col("n_chars").alias("g_val"), "doc_id"),
        "g_val",
        ["doc_id"],
        rank_col="rg",
        ascending=True,
    ).select("g_val", "rg")
    total = t.agg(F.count(F.lit(1)).alias("n"))
    pr = F.when(
        F.col("n_s") > 1,
        (F.col("rs") - 1.0) / (F.col("n_s") - 1.0),
    ).otherwise(F.lit(0.5))
    mapped = per.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "source",
        "n_chars",
        pr.alias("pr"),
        (
            F.floor(pr * (F.col("n") - 1) + F.lit(0.5)).cast("long")
            + F.lit(1)
        ).alias("g"),
    )
    return mapped.join(glob, mapped["g"] == glob["rg"]).select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        round4(F.col("pr")).alias("source_quantile"),
        F.col("g_val").cast("long").alias("calibrated_n_chars"),
    )


_CAL_THR_PR = 0.75
_CAL_TOL = 0.02


def _calibration_audit_oracle() -> str:
    return f"""
    WITH cal AS ({_calibration_oracle()}),
    granks AS (
        SELECT n_chars AS g_val,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rg
        FROM documents
    ),
    total AS (SELECT count(*) AS n FROM documents),
    thr AS (
        SELECT g_val AS thr FROM granks, total
        WHERE rg = CAST(floor({_CAL_THR_PR} * (n - 1) + 0.5) AS BIGINT) + 1
    ),
    per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               sum((n_chars > thr)::INT) AS raw_above,
               sum((calibrated_n_chars > thr)::INT) AS cal_above
        FROM cal CROSS JOIN thr
        GROUP BY source
    ),
    pooled AS (
        SELECT sum(cal_above)::DOUBLE / sum(n_docs) AS pooled_share FROM per
    )
    SELECT source, n_docs,
           {sql_round4('raw_above::DOUBLE / n_docs')} AS raw_share,
           {sql_round4('cal_above::DOUBLE / n_docs')} AS cal_share,
           abs(cal_above::DOUBLE / n_docs - pooled_share) <= {_CAL_TOL}
               AS within_tol
    FROM per CROSS JOIN pooled
    """


@query("calibration_threshold_audit", oracle=_calibration_audit_oracle())
def calibration_threshold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit that CLOSES the calibration loop: the whole point of
    `source_length_calibration` is that one global threshold then
    selects the same fraction from every source — so this entry applies
    one (the pooled p75 value, by the calibration's own rank→value
    rule) to BOTH scales and measures, per source, the selected share
    on the raw scale vs the calibrated scale. Raw shares scatter (each
    source's length distribution sits differently against a pooled
    cut — the over-/under-selection a mixing pipeline suffers without
    calibration); calibrated shares must agree across sources to
    within ``|share − pooled| ≤ 0.02`` (quantile mapping pins each
    source's share to the pooled rate up to 1/n_s rank granularity).

    Consumes `source_length_calibration`'s OUTPUT frame verbatim —
    audit over the operator, not a re-derivation — plus one global
    ranking for the threshold value (two-phase global_row_number,
    never a single-partition sort). Booleans are computed from the
    same exact integers in both engines, so the pin is bit-stable."""
    from lab3_lakehouse_spark.operators import windows as win_ops

    tune_session(spark)
    cal = source_length_calibration(spark, sf_dir)
    t = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    glob = win_ops.global_row_number(
        t.select(F.col("n_chars").alias("g_val"), "doc_id"),
        "g_val",
        ["doc_id"],
        rank_col="rg",
        ascending=True,
    ).select("g_val", "rg")
    total = t.agg(F.count(F.lit(1)).alias("n"))
    thr = (
        glob.crossJoin(F.broadcast(total))
        .filter(
            F.col("rg")
            == F.floor(
                F.lit(_CAL_THR_PR) * (F.col("n") - 1) + F.lit(0.5)
            ).cast("long")
            + F.lit(1)
        )
        .select(F.col("g_val").alias("__thr"))
    )
    per = (
        cal.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("n_chars") > F.col("__thr")).cast("long")
            ).alias("__raw_above"),
            F.sum(
                (F.col("calibrated_n_chars") > F.col("__thr")).cast("long")
            ).alias("__cal_above"),
        )
    )
    pooled = per.agg(
        (
            F.sum("__cal_above").cast("double")
            / F.sum("n_docs").cast("double")
        ).alias("__pooled")
    )
    nd = F.col("n_docs").cast("double")
    return per.crossJoin(F.broadcast(pooled)).select(
        "source",
        "n_docs",
        round4(F.col("__raw_above").cast("double") / nd).alias("raw_share"),
        round4(F.col("__cal_above").cast("double") / nd).alias("cal_share"),
        (
            F.abs(F.col("__cal_above").cast("double") / nd - F.col("__pooled"))
            <= F.lit(_CAL_TOL)
        ).alias("within_tol"),
    )


# --------------------------------------- canonical dup selection ----


def _canonical_oracle() -> str:
    return """
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id, lang, n_chars,
               list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.w, b.w))::DOUBLE
              / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.8
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
    ), members AS MATERIALIZED (
        SELECT c.doc_id, c.component, d.n_chars
        FROM comp c JOIN t d ON d.doc_id = c.doc_id
    ), canon AS MATERIALIZED (
        SELECT component, doc_id AS canonical_id,
               n_chars AS canonical_chars
        FROM members
        QUALIFY row_number() OVER (
            PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
    )
    SELECT m.doc_id, m.component,
           c.canonical_id,
           (m.doc_id = c.canonical_id) AS is_canonical,
           CAST(count(*) OVER (PARTITION BY m.component) AS BIGINT)
               AS n_members,
           CAST(c.canonical_chars AS BIGINT) AS canonical_chars
    FROM members m JOIN canon c ON c.component = m.component
    """


@query("dup_canonical_selection", oracle=_canonical_oracle())
def dup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-ONE materialization for near-dup groups — the step every
    dedup pipeline actually ends with: each connected component of
    near-dup pairs elects a CANONICAL document (longest text, doc_id
    tiebreak — 'keep the most complete copy', not keep-smallest-id
    which throws away content on truncated mirrors) and every member
    maps to it. The output IS the rewrite table: join it to the corpus
    and keep is_canonical (or redirect references through
    canonical_id). Same pair tier + hash-min components as
    dup_groups_connected (recursive-closure oracle, exact cross-engine
    agreement on the graph op); the election adds one component-keyed
    window over the members frame — O(dup docs), not O(corpus)."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _canonical_from_pairs(
        docs, dedup_ops.banded_word_jaccard_pairs(docs)
    )


@body("dup_canonical_selection")
def dup_canonical_selection_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production body: the same election over the banded-LSH pair
    source (:func:`queries.llmdata.lsh_near_dup_pairs`)."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _canonical_from_pairs(docs, lsh_near_dup_pairs(docs))


def _canonical_from_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    cc = dedup_ops.connected_components(pairs, "id_a", "id_b")
    members = cc.select(F.col("vertex").alias("doc_id"), "component").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    wc = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    canon = (
        members.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_id"),
            F.col("n_chars").alias("canonical_chars"),
        )
    )
    return (
        members.join(F.broadcast(canon), "component")
        .select(
            "doc_id",
            "component",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
            F.count(F.lit(1))
            .over(Window.partitionBy("component"))
            .cast("long")
            .alias("n_members"),
            F.col("canonical_chars").cast("long").alias("canonical_chars"),
        )
    )


#: The oracle-side twin of
#: :func:`operators.dedup.banded_word_jaccard_pairs`'s banding —
#: same (lang, band) equi-join, same {b, b+1} probe from the smaller
#: side, same integer 5·min ≥ 4·max guard before the intersect, so the
#: DuckDB leg's quadratic constant drops identically (output unchanged:
#: the blocking is lossless). Splice after ``WITH RECURSIVE``.
_BANDED_PAIRS_CTES = """t AS MATERIALIZED (
        SELECT doc_id, lang,
               list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents
    ), tn AS MATERIALIZED (
        SELECT doc_id, lang, w, len(w) AS n, length(bin(len(w))) AS band
        FROM t
    ), pairs AS MATERIALIZED (
        SELECT least(a.doc_id, b.doc_id) AS id_a,
               greatest(a.doc_id, b.doc_id) AS id_b
        FROM (SELECT doc_id, lang, w, n, band FROM tn
              UNION ALL
              SELECT doc_id, lang, w, n, band + 1 AS band FROM tn) a
        JOIN tn b
          ON a.lang = b.lang AND a.band = b.band
         AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
         AND 5 * a.n >= 4 * b.n
        WHERE len(list_intersect(a.w, b.w))::DOUBLE
              / (a.n + b.n - len(list_intersect(a.w, b.w))) >= 0.8
    )"""


_SPLIT_SEED = 71
_SPLIT_TRAIN_OF_10 = 8


def _leakage_split_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("component", _SPLIT_SEED)
    return f"""
    WITH RECURSIVE {_BANDED_PAIRS_CTES}, edges AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.u
    ), comp AS MATERIALIZED (
        SELECT u AS doc_id, min(r) AS component FROM reach GROUP BY u
    ), assigned AS MATERIALIZED (
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS n_members,
           CASE WHEN {h} % 10 < {_SPLIT_TRAIN_OF_10}
                THEN 'train' ELSE 'val' END AS split
    FROM assigned
    """


@query("leakage_safe_split_assignment", oracle=_leakage_split_oracle())
def leakage_safe_split_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/validation split that near-dups CANNOT straddle — the
    eval-integrity step naive random splits get wrong: if two
    near-copies land on opposite sides, validation loss measures
    memorization, not generalization (the same failure class
    decontamination guards against benchmarks, applied to the
    pipeline's own held-out split). The unit of assignment is the
    near-dup CONNECTED COMPONENT (singletons are their own component),
    and the split is a deterministic portable hash of the component id
    — so no pair with Jaccard ≥ 0.8 can ever cross splits, BY
    CONSTRUCTION, on any engine, under any partitioning, and the
    assignment is reproducible without storing it. 80/20 via
    hash60(component) % 10 < 8 (the crossval_fold_balance convention).

    Same pair tier + hash-min components as dup_groups_connected
    (recursive-closure oracle — the cross-engine check verifies the
    GRAPH agreement, the hard part; the split rule is then pure
    hashing); at scale the pair source swaps to the banded LSH tier
    exactly as in dup_canonical_selection. Output is the per-doc
    assignment table a data loader joins on."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _leakage_split_from_pairs(
        docs, dedup_ops.banded_word_jaccard_pairs(docs)
    )


@body("leakage_safe_split_assignment")
def leakage_safe_split_assignment_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production body: the same split over the banded-LSH pair source
    (:func:`queries.llmdata.lsh_near_dup_pairs`)."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _leakage_split_from_pairs(docs, lsh_near_dup_pairs(docs))


def _leakage_split_from_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    cc = dedup_ops.connected_components(pairs, "id_a", "id_b").select(
        F.col("vertex").alias("doc_id"), "component"
    )
    assigned = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    return assigned.select(
        "doc_id",
        "component",
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .cast("long")
        .alias("n_members"),
        F.when(
            portable_hash60(F.col("component"), _SPLIT_SEED) % 10
            < _SPLIT_TRAIN_OF_10,
            F.lit("train"),
        )
        .otherwise(F.lit("val"))
        .alias("split"),
    )


def _incr_split_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("component", _SPLIT_SEED)
    hv = sql_hash60("vertex", _SPLIT_SEED)
    return f"""
    WITH RECURSIVE {_BANDED_PAIRS_CTES}, old_edges AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
        WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
    ), old_reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM old_edges)
        UNION
        SELECT e.v, old_reach.r
        FROM old_reach JOIN old_edges e ON e.u = old_reach.u
    ), comp_of AS MATERIALIZED (
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component
        FROM documents d
        LEFT JOIN (
            SELECT u AS doc_id, min(r) AS component
            FROM old_reach GROUP BY u
        ) c ON c.doc_id = d.doc_id
        WHERE d.doc_id % 5 <> 0
    ), contracted AS MATERIALIZED (
        SELECT CASE WHEN p.id_a % 5 = 0 THEN p.id_a
                    ELSE ca.component END AS u,
               CASE WHEN p.id_b % 5 = 0 THEN p.id_b
                    ELSE cb.component END AS v
        FROM pairs p
        LEFT JOIN comp_of ca ON ca.doc_id = p.id_a
        LEFT JOIN comp_of cb ON cb.doc_id = p.id_b
        WHERE p.id_a % 5 = 0 OR p.id_b % 5 = 0
    ), cedges AS MATERIALIZED (
        SELECT u, v FROM contracted
        UNION
        SELECT v AS u, u AS v FROM contracted
    ), creach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM cedges)
        UNION
        SELECT e.v, creach.r FROM creach JOIN cedges e ON e.u = creach.u
    ), ccomp AS MATERIALIZED (
        SELECT u AS vertex, min(r) AS cluster FROM creach GROUP BY u
    ), cstats AS MATERIALIZED (
        SELECT cluster,
               count(DISTINCT vertex) AS n_comps,
               min(vertex) AS min_comp,
               count(DISTINCT CASE WHEN {hv} % 10 < {_SPLIT_TRAIN_OF_10}
                                   THEN 'train' ELSE 'val' END) AS n_splits
        FROM ccomp WHERE vertex % 5 <> 0 GROUP BY cluster
    ), assigned AS MATERIALIZED (
        SELECT n.doc_id,
               coalesce(s.min_comp,
                        coalesce(cc.cluster, n.doc_id)) AS component,
               coalesce(s.n_comps, 0) AS n_comps,
               coalesce(s.n_splits, 0) AS n_splits
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) n
        LEFT JOIN ccomp cc ON cc.vertex = n.doc_id
        LEFT JOIN cstats s ON s.cluster = cc.cluster
    )
    SELECT doc_id, component,
           CAST(n_comps AS BIGINT) AS n_matched_components,
           CASE WHEN {h} % 10 < {_SPLIT_TRAIN_OF_10}
                THEN 'train' ELSE 'val' END AS split,
           CASE WHEN n_comps = 0 THEN 'fresh'
                WHEN n_comps = 1 THEN 'inherited'
                WHEN n_splits = 1 THEN 'bridged'
                ELSE 'conflict' END AS status
    FROM assigned
    """


@query("incremental_split_maintenance", oracle=_incr_split_oracle())
def incremental_split_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Assign a NEW ingest batch (doc_id % 5 == 0, the
    incremental_near_dup_new_docs convention) to the train/val split
    WITHOUT recomputing the global near-dup graph — the production
    shape of :func:`leakage_safe_split_assignment` at 100 TB, where
    existing assignments are immutable (checkpoints already trained on
    them) and each day's batch must join the right side of the fence.

    Rule, per new doc: contract every ≥0.8-Jaccard pair that touches
    the batch onto the EXISTING corpus components (corpus doc → its
    component id; component ids are corpus doc ids, disjoint from the
    batch's ids), run connected components over that contracted
    batch-sized graph, and then

    - cluster touches no corpus component → ``fresh``: component = the
      cluster's min new doc id (new-new near-dups share it — two fresh
      near-copies can't straddle either), split = the component hash;
    - exactly one corpus component → ``inherited``: the new doc joins
      it, split = that component's (unchanged) split;
    - ≥2 corpus components, all hashing to one side → ``bridged``:
      assigned to the min component; no pair straddles because the
      sides agree;
    - ≥2 components on OPPOSITE sides → ``conflict``: the batch doc
      bridges train and val — leak-freedom is impossible without
      reassigning history, so it's flagged for quarantine (assigned
      min-component's side; downstream drops or audits ``conflict``
      rows). This is the honest failure mode every incremental splitter
      has; surfacing it beats silently leaking.

    Existing assignments never change BY CONSTRUCTION — the operator
    emits only batch rows and never rewrites the corpus table (pinned,
    with the no-straddle property, by tests/test_advstats.py). In all
    cases split = hash60(component) % 10, so the loader's reproduce-
    without-storing contract carries over unchanged.

    Scale shape: the pair tier here is the exact word-Jaccard twin (so
    the oracle can replay it); the production body
    (:func:`incremental_split_maintenance_lsh`) feeds the same
    downstream the whole-corpus self-join MinHash-LSH pairs of
    minhash_lsh_near_dups instead. That pair source still costs ∝ the
    corpus; the batch-proportional shape would take the bipartite
    batch-vs-corpus candidates of incremental_near_dup_new_docs from
    the persisted band store. The rest is already batch-sized: one
    corpus-components probe keyed on the matched doc ids and a CC
    over the contracted batch graph."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _incremental_split_from_pairs(
        docs, dedup_ops.banded_word_jaccard_pairs(docs)
    )


@body("incremental_split_maintenance")
def incremental_split_maintenance_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production body: the same upkeep over the banded-LSH pair source
    (:func:`queries.llmdata.lsh_near_dup_pairs`)."""
    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _incremental_split_from_pairs(docs, lsh_near_dup_pairs(docs))


def _incremental_split_from_pairs(
    docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Everything downstream of the pair tier in
    :func:`incremental_split_maintenance`; the entry feeds the
    oracle-replayable exact tier, its body the banded-LSH pairs."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    pairs = pairs.localCheckpoint(eager=False)
    is_new = F.col("doc_id") % 5 == 0

    # existing corpus components (the state a production run would READ
    # from the stored assignment table, not recompute — recomputed here
    # so the entry is self-contained on the gate corpus)
    old_pairs = pairs.filter(
        (F.col("id_a") % 5 != 0) & (F.col("id_b") % 5 != 0)
    )
    comp_of = (
        docs.filter(~is_new)
        .select("doc_id")
        .join(
            dedup_ops.connected_components(
                old_pairs, "id_a", "id_b"
            ).select(F.col("vertex").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("component")
        )
    )

    # contract batch-touching pairs onto corpus component ids: corpus
    # ids are % 5 != 0 and component ids are corpus ids, so the two
    # vertex spaces can never collide with batch ids (% 5 == 0)
    new_pairs = pairs.filter(
        (F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0)
    )
    ca = comp_of.select(
        F.col("doc_id").alias("id_a"), F.col("component").alias("__comp_a")
    )
    cb = comp_of.select(
        F.col("doc_id").alias("id_b"), F.col("component").alias("__comp_b")
    )
    contracted = (
        new_pairs.join(ca, "id_a", "left")
        .join(cb, "id_b", "left")
        .select(
            F.when(F.col("id_a") % 5 == 0, F.col("id_a"))
            .otherwise(F.col("__comp_a"))
            .alias("u"),
            F.when(F.col("id_b") % 5 == 0, F.col("id_b"))
            .otherwise(F.col("__comp_b"))
            .alias("v"),
        )
    )
    ccomp = dedup_ops.connected_components(contracted, "u", "v").select(
        F.col("vertex").alias("vertex"), F.col("component").alias("cluster")
    )

    split_of = lambda c: F.when(  # noqa: E731 — the one hash rule, twice
        portable_hash60(c, _SPLIT_SEED) % 10 < _SPLIT_TRAIN_OF_10,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    cstats = (
        ccomp.filter(F.col("vertex") % 5 != 0)
        .groupBy("cluster")
        .agg(
            F.countDistinct("vertex").alias("n_comps"),
            F.min("vertex").alias("min_comp"),
            F.countDistinct(split_of(F.col("vertex"))).alias("n_splits"),
        )
    )
    assigned = (
        docs.filter(is_new)
        .select("doc_id")
        .join(ccomp, F.col("doc_id") == F.col("vertex"), "left")
        .join(cstats, "cluster", "left")
        .select(
            "doc_id",
            F.coalesce(
                "min_comp", F.coalesce("cluster", "doc_id")
            ).alias("component"),
            F.coalesce("n_comps", F.lit(0)).cast("long").alias("n_comps"),
            F.coalesce("n_splits", F.lit(0)).alias("n_splits"),
        )
    )
    return assigned.select(
        "doc_id",
        "component",
        F.col("n_comps").alias("n_matched_components"),
        split_of(F.col("component")).alias("split"),
        F.when(F.col("n_comps") == 0, F.lit("fresh"))
        .when(F.col("n_comps") == 1, F.lit("inherited"))
        .when(F.col("n_splits") == 1, F.lit("bridged"))
        .otherwise(F.lit("conflict"))
        .alias("status"),
    )


# ---------------------------------------- Neyman-allocated sampling ----

_NEY_BUDGET = 200
_NEY_SEED = 97


def _neyman_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    sigma = sql_round4("sqrt((s2 - s1 * s1 / nh) / nh)")
    h = sql_hash60("doc_id", _NEY_SEED)
    return f"""
    WITH strat AS (
        SELECT source,
               CAST(count(*) AS DOUBLE) AS nh,
               sum(CAST(n_chars AS DOUBLE)) AS s1,
               sum(CAST(n_chars AS DOUBLE) * n_chars) AS s2
        FROM documents GROUP BY source
    ),
    pinned AS (
        SELECT source, nh, {sql_round4('nh')} * {sigma} AS wgt, {sigma} AS sigma
        FROM strat
    ),
    tot AS (SELECT sum(wgt) AS wsum FROM pinned),
    alloc AS (
        SELECT p.source, p.nh, p.sigma,
               least(CAST(p.nh AS BIGINT),
                     greatest(CAST(1 AS BIGINT),
                              CAST(floor({_NEY_BUDGET} * p.wgt / t.wsum + 0.5)
                                   AS BIGINT))) AS n_alloc
        FROM pinned p CROSS JOIN tot t
    ),
    ranked AS (
        SELECT d.doc_id, d.source, d.n_chars,
               row_number() OVER (
                   PARTITION BY d.source ORDER BY {h}, d.doc_id) AS rn
        FROM documents d
    )
    SELECT r.doc_id, r.source,
           CAST(r.n_chars AS BIGINT) AS n_chars,
           a.n_alloc,
           CAST(a.nh AS BIGINT) AS stratum_size,
           {sql_round4('a.sigma')} AS stratum_sigma
    FROM ranked r JOIN alloc a ON a.source = r.source
    WHERE r.rn <= a.n_alloc
    """


@query("neyman_stratified_sample", oracle=_neyman_oracle())
def neyman_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-ALLOCATED stratified sample: the 200-doc budget is split
    across sources ∝ N_h·σ_h (stratum size × within-stratum std of
    n_chars) — the survey-sampling optimum that proportional
    allocation isn't: a small but wildly-variable source gets MORE
    slots than its share, a large homogeneous one fewer, minimizing
    the pooled estimator's variance for a fixed budget (the eval-set
    construction rule when annotation budget is the constraint). The
    draw inside each stratum is the engine's deterministic md5-rank
    convention (same split on any rerun, any engine). σ_h and the
    allocation weights are round4-PINNED before the floor(·+0.5)
    rounding so both engines allocate identical integers.

    Scale shape: one grouped-moments pass (map-side combinable),
    a ≤-sources allocation broadcast, one per-stratum hash-rank
    window — all shuffles keyed on source."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    x = F.col("n_chars").cast("double")
    strat = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
    )
    sigma = round4(
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nh"))
            / F.col("nh")
        )
    )
    pinned = strat.select(
        "source",
        "nh",
        (round4(F.col("nh")) * sigma).alias("wgt"),
        sigma.alias("sigma"),
    )
    tot = pinned.agg(F.sum("wgt").alias("wsum"))
    alloc = pinned.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        "sigma",
        F.least(
            F.col("nh").cast("long"),
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(
                    _NEY_BUDGET * F.col("wgt") / F.col("wsum") + F.lit(0.5)
                ).cast("long"),
            ),
        ).alias("n_alloc"),
    )
    wr = Window.partitionBy("source").orderBy(
        portable_hash60(F.col("doc_id").cast("string"), _NEY_SEED), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", "n_chars", F.row_number().over(wr).alias("rn")
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rn") <= F.col("n_alloc"))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "n_alloc",
            F.col("nh").cast("long").alias("stratum_size"),
            round4(F.col("sigma")).alias("stratum_sigma"),
        )
    )


# ------------------------------------------- DP Laplace count release ----

_DP_EPS = 1.0
_DP_SEED = 103
_TWO60_ADV = float(1 << 60)


def _dp_counts_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("category", _DP_SEED)
    u = f"(({h})::DOUBLE / CAST({_TWO60_ADV!r} AS DOUBLE))"
    noise = (
        f"CASE WHEN abs({u} - 0.5) < 1e-15 THEN 0.0 "
        f"ELSE -(1.0 / {_DP_EPS}) * CASE WHEN {u} > 0.5 THEN 1.0 ELSE -1.0 END"
        f" * ln(1.0 - 2.0 * abs({u} - 0.5)) END"
    )
    return f"""
    WITH counts AS (
        SELECT o_orderpriority AS category, count(*) AS n
        FROM orders GROUP BY o_orderpriority
    )
    SELECT category,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           {sql_round4(f'n + ({noise})')} AS n_noisy
    FROM counts
    """


@query("dp_noisy_counts", oracle=_dp_counts_oracle())
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private count release (Laplace mechanism,
    Dwork et al. 2006): per-category order counts + Laplace(Δf/ε)
    noise with sensitivity Δf = 1 (one order moves one count) —
    completing the governance family next to the k-anonymity /
    l-diversity / t-closeness AUDITS: those measure re-identification
    risk of data you keep; this is the mechanism for the statistics
    you RELEASE. The noise draw is the engine's portable-hash
    convention (inverse-CDF Laplace from the md5 uniform — the
    bootstrap's Poisson-draw pattern), so the 'randomness' is a pure
    function of (category, seed): both engines redraw bit-identical
    noise and the differential check covers the mechanism, not just
    the counts. In production the seed is drawn fresh per release and
    never persisted — determinism here is the test harness's property,
    not a DP property (a fixed public seed would leak; documented, not
    hidden). True counts are NOT emitted.

    Scale: one grouped count (map-side combinable) + scalar noise
    expressions; output is O(categories)."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    tune_session(spark)
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.col("o_orderpriority").alias("category")
    ).agg(F.count(F.lit(1)).alias("n"))
    u = (
        portable_hash60(F.col("category"), _DP_SEED).cast("double")
        / F.lit(_TWO60_ADV)
    )
    centered = u - F.lit(0.5)
    noise = F.when(F.abs(centered) < F.lit(1e-15), F.lit(0.0)).otherwise(
        -F.lit(1.0 / _DP_EPS)
        * F.when(centered > 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        "category",
        F.lit(float(_DP_EPS)).alias("epsilon"),
        round4(F.col("n") + noise).alias("n_noisy"),
    )


# ------------------------------------------ Jaro-Winkler record linkage ----

_JW_THRESH = 0.9

_JW_ORACLE = f"""
    WITH p AS (
        SELECT p_partkey, p_brand, lower(p_name) AS nm,
               split_part(lower(p_name), ' ', 1) AS tok1
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           {{r4}} AS jw
    FROM p a
    JOIN p b ON a.p_brand = b.p_brand AND a.tok1 = b.tok1
            AND a.p_partkey < b.p_partkey
    WHERE jaro_winkler_similarity(a.nm, b.nm) >= {_JW_THRESH}
""".format(r4=sql_round4("jaro_winkler_similarity(a.nm, b.nm)"))


@query("jaro_winkler_name_matches", oracle=_JW_ORACLE)
def jaro_winkler_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage by Jaro–Winkler similarity — the name-matching
    metric built for human-entered strings (rewards shared prefixes,
    tolerates transpositions) where Levenshtein
    (`fuzzy_part_name_matches`) counts raw edits. Spark has no JW
    builtin, so this is the documented Arrow-batched pandas-UDF slot
    for string metrics the JVM lacks (operators/dedup.jaro_winkler_udf
    — verified equal to DuckDB's builtin on transposition / prefix /
    empty / disjoint cases, which is what lets the oracle replay it
    with `jaro_winkler_similarity`). The UDF only ever sees the
    BLOCKED pair frame — (brand, first-token) equi-join keys cut the
    2000-part corpus to ~10k candidate pairs — never an n² cross
    product: Python off the hot path, blocking on it.

    Scale shape: one blocking self-join keyed on (brand, tok1), the
    bounded pair frame through the Arrow UDF, a pushed filter on the
    score. At 100 TB the blocking keys are the whole ballgame
    (documented: add phonetic/sorted-neighborhood keys as blocks skew)."""
    tune_session(spark)
    part = fan_out(load_table(spark, sf_dir, "part"))
    p = part.select(
        "p_partkey",
        "p_brand",
        F.lower(F.col("p_name")).alias("nm"),
        F.split(F.lower(F.col("p_name")), " ").getItem(0).alias("tok1"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.p_brand") == F.col("b.p_brand"),
            F.col("a.tok1") == F.col("b.tok1"),
            F.col("a.p_partkey") < F.col("b.p_partkey"),
        ],
    ).select(
        F.col("a.p_partkey").alias("id_a"),
        F.col("b.p_partkey").alias("id_b"),
        F.col("a.nm").alias("__na"),
        F.col("b.nm").alias("__nb"),
    )
    jw = dedup_ops.jaro_winkler_udf()
    scored = pairs.select(
        "id_a", "id_b", jw(F.col("__na"), F.col("__nb")).alias("__jw")
    )
    return scored.filter(F.col("__jw") >= F.lit(_JW_THRESH)).select(
        "id_a", "id_b", round4(F.col("__jw")).alias("jw")
    )


# ---------------------------------------- conformal quality gate ----

#: one-sided miscoverage level: the kept-rate guarantee is
#: P(new doc passes) >= 1 - alpha under exchangeability
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 1, 5  # alpha = 0.2
_CONF_SEED = 83


def _conformal_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("doc_id", _CONF_SEED)
    return f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(length(text) AS DOUBLE)
                   / len(regexp_split_to_array(text, '\\s+')) AS score,
               {h} % 2 = 0 AS is_cal
        FROM documents
    ), ranked AS (
        SELECT source, score,
               row_number() OVER (
                   PARTITION BY source ORDER BY score, doc_id
               ) AS rn
        FROM scored WHERE is_cal
    ), counts AS (
        SELECT source,
               CAST(count(CASE WHEN is_cal THEN 1 END) AS BIGINT)
                   AS n_cal,
               CAST(count(CASE WHEN NOT is_cal THEN 1 END) AS BIGINT)
                   AS n_holdout
        FROM scored GROUP BY source
    ), ks AS (
        SELECT source, n_cal, n_holdout,
               CAST({_CONF_ALPHA_NUM} * (n_cal + 1)
                    // {_CONF_ALPHA_DEN} AS BIGINT) AS k_rank
        FROM counts
    ), taus AS (
        SELECT k.source, k.n_cal, k.n_holdout, k.k_rank, r.score AS tau
        FROM ks k LEFT JOIN ranked r
          ON r.source = k.source AND r.rn = k.k_rank
    )
    SELECT t.source, t.n_cal, t.n_holdout, t.k_rank,
           {sql_round4('t.tau')} AS tau,
           {sql_round4(
               "sum(CASE WHEN t.tau IS NULL OR s.score >= t.tau"
               " THEN 1.0 ELSE 0.0 END) / count(*)")}
               AS holdout_keep_rate
    FROM taus t JOIN scored s ON s.source = t.source AND NOT s.is_cal
    GROUP BY t.source, t.n_cal, t.n_holdout, t.k_rank, t.tau
    """


@query("conformal_quality_threshold", oracle=_conformal_oracle())
def conformal_quality_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source quality-filter threshold with a FINITE-SAMPLE keep
    guarantee — split conformal prediction (Vovk et al.; Lei et al.
    2018) applied to corpus curation: a quality cut chosen by eyeball
    ("drop the bottom whatever") gives no statement about how much of
    tomorrow's (exchangeable) data it rejects, while the conformal cut
    τ = the ⌊α·(n_cal+1)⌋-th smallest calibration score guarantees
    P(new doc's score ≥ τ) ≥ 1−α exactly, for ANY score distribution,
    with no asymptotics. The score here is mean word length
    (chars/token — an exact int/int division, so both engines rank
    identically with the doc_id tie-break); the calibration split is
    the deterministic portable-hash half, so the whole construction is
    reproducible without storing it. The emitted holdout keep rate is
    the guarantee's empirical check (≈ 1−α up to binomial noise;
    k_rank = 0 means n_cal is too small for the level and the gate
    keeps everything — surfaced, not hidden).

    Scale shape: one scoring scan; ranking runs under a window
    PARTITIONED by source (parallel across sources — at 100 TB the
    per-source calibration sort is the textbook partitioned top-k,
    prunable to k_rank rows per source); the τ table is
    |sources|-bounded and broadcasts back onto the holdout scan."""
    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    tune_session(spark)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "source",
        (
            F.length("text").cast("double")
            / F.size(F.split(F.col("text"), r"\s+"))
        ).alias("score"),
        (portable_hash60(F.col("doc_id"), _CONF_SEED) % 2 == 0).alias(
            "is_cal"
        ),
    ).localCheckpoint(eager=False)
    ranked = (
        scored.filter("is_cal")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("score", "doc_id")
            ),
        )
        .select(
            F.col("source").alias("cal_source"),
            F.col("score").alias("cal_score"),
            "rn",
        )
    )
    counts = scored.groupBy("source").agg(
        F.count(F.when(F.col("is_cal"), 1)).cast("long").alias("n_cal"),
        F.count(F.when(~F.col("is_cal"), 1)).cast("long").alias("n_holdout"),
    )
    ks = counts.select(
        "source",
        "n_cal",
        "n_holdout",
        F.expr(
            f"CAST(({_CONF_ALPHA_NUM} * (n_cal + 1)) div {_CONF_ALPHA_DEN} "
            "AS BIGINT)"
        ).alias("k_rank"),
    )
    taus = ks.join(
        ranked,
        (F.col("cal_source") == F.col("source"))
        & (F.col("rn") == F.col("k_rank")),
        "left",
    ).select("source", "n_cal", "n_holdout", "k_rank",
             F.col("cal_score").alias("tau"))
    holdout = scored.filter(~F.col("is_cal")).select("source", "score")
    return (
        holdout.join(F.broadcast(taus), "source")
        .groupBy("source", "n_cal", "n_holdout", "k_rank", "tau")
        .agg(
            round4(
                F.sum(
                    F.when(
                        F.col("tau").isNull()
                        | (F.col("score") >= F.col("tau")),
                        F.lit(1.0),
                    ).otherwise(F.lit(0.0))
                )
                / F.count(F.lit(1))
            ).alias("holdout_keep_rate")
        )
        .select(
            "source",
            "n_cal",
            "n_holdout",
            "k_rank",
            round4(F.col("tau")).alias("tau"),
            "holdout_keep_rate",
        )
    )


# ------------------------------------ streaming split assignment ----


def _stream_split_oracle() -> str:
    from lab3_lakehouse_spark.operators.sketches import sql_hash60

    h = sql_hash60("component", _SPLIT_SEED)
    hc = sql_hash60("component", _SPLIT_SEED)
    return f"""
    WITH RECURSIVE w AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
        FROM documents
    ), t AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(
                   list_transform(generate_series(1, greatest(len(w)-2, 1)),
                                  i -> array_to_string(w[i:i+2], ' '))
               ) AS s
        FROM w
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= 0.8
    ), old_edges AS MATERIALIZED (
        SELECT id_a AS u, id_b AS v FROM pairs
        WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
        WHERE id_a % 5 <> 0 AND id_b % 5 <> 0
    ), old_reach(u, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM old_edges)
        UNION
        SELECT e.v, old_reach.r
        FROM old_reach JOIN old_edges e ON e.u = old_reach.u
    ), comp_of AS MATERIALIZED (
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component
        FROM documents d
        LEFT JOIN (
            SELECT u AS doc_id, min(r) AS component
            FROM old_reach GROUP BY u
        ) c ON c.doc_id = d.doc_id
        WHERE d.doc_id % 5 <> 0
    ), matches AS MATERIALIZED (
        SELECT CASE WHEN p.id_a % 5 = 0 THEN p.id_a
                    ELSE p.id_b END AS doc_id,
               c.component
        FROM pairs p JOIN comp_of c
          ON c.doc_id = CASE WHEN p.id_a % 5 = 0 THEN p.id_b
                             ELSE p.id_a END
        WHERE (p.id_a % 5 = 0) <> (p.id_b % 5 = 0)
    ), agg AS MATERIALIZED (
        SELECT doc_id,
               count(DISTINCT component) AS n_comps,
               min(component) AS min_comp,
               count(DISTINCT CASE WHEN {hc} % 10 < {_SPLIT_TRAIN_OF_10}
                                   THEN 'train' ELSE 'val' END)
                   AS n_splits
        FROM matches GROUP BY doc_id
    ), assigned AS MATERIALIZED (
        SELECT n.doc_id,
               coalesce(a.min_comp, n.doc_id) AS component,
               coalesce(a.n_comps, 0) AS n_comps,
               coalesce(a.n_splits, 0) AS n_splits
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) n
        LEFT JOIN agg a ON a.doc_id = n.doc_id
    )
    SELECT doc_id, component,
           CAST(n_comps AS BIGINT) AS n_matched_components,
           CASE WHEN {h} % 10 < {_SPLIT_TRAIN_OF_10}
                THEN 'train' ELSE 'val' END AS split,
           CASE WHEN n_comps = 0 THEN 'fresh'
                WHEN n_comps = 1 THEN 'inherited'
                WHEN n_splits = 1 THEN 'bridged'
                ELSE 'conflict' END AS status
    FROM assigned
    """


@query("streaming_split_assignment", oracle=_stream_split_oracle())
def streaming_split_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Store-backed CONTINUOUS split assignment: arriving documents are
    assigned to train/val as they land, by probing the persisted
    MinHash signature store of the frozen corpus index
    (streaming/ingest.stream_split_assignment) — the always-on
    companion of :func:`incremental_split_maintenance`. Per micro-batch:
    band candidates vs the ``bands`` tier, exact shingle-hash-Jaccard
    verify vs the ``hashes`` tier (corpus TEXT is never re-read — the
    store contract), component lookup in the ``assign`` tier, then
    inherit / hash-fresh / bridged / conflict exactly as in the batch
    op. The index is FROZEN between re-index cadences, which buys the
    two properties a streaming assigner needs: results independent of
    micro-batch boundaries and arrival order, and fully idempotent
    replay (deterministic rows, id-dedup on read). Intra-stream
    near-dup clusters are the batch op's job at re-index time.

    Similarity is 3-word-shingle Jaccard ≥ 0.8 (the minhash store's
    native measure; the batch op's word-Jaccard variant is a config
    choice). The oracle recomputes everything brute-force —
    corpus components by recursive closure, matches by exact shingle
    Jaccard — so the driver verifies LSH recall end-to-end; sound
    because every true pair in this corpus sits at j ≥ 0.9 where the
    16-band miss probability is < 5e-8 (the minhash_lsh_near_dups
    argument).

    Scale shape: per batch — banded probe join keyed on (band, bh),
    verify and component lookups keyed on candidate ids, one grouped
    pass per batch; appends are batch-cost (the store is never read by
    a write). Necessity: stream + store probe at call time."""
    import shutil

    from lab3_lakehouse_spark import stores
    from lab3_lakehouse_spark.queries._util import scratch_dir
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    tune_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    store = scratch_dir("split_assign_store_")
    src = scratch_dir("split_assign_src_")
    try:
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        hashed = corpus.select(
            F.col("doc_id").alias("__id"),
            dedup_ops.shingle_hashes("text", 3).alias("__h"),
        ).localCheckpoint(eager=True)
        # index build: signature tiers + the assignment tier (corpus
        # components from the store's own LSH pair source). Band ONCE
        # (r14): the same (__id, band, bh) frame is appended to the
        # bands tier AND self-joined into the corpus candidate pairs —
        # the r13 form computed the 64-permutation signatures twice.
        lsh_params = (64, 16, 42)  # (num_perm, bands, seed) — ONE tuple
        banded = dedup_ops.banded_signatures(
            hashed, *lsh_params
        ).localCheckpoint(eager=False)
        dedup_ops.minhash_store_append(
            store, hashed, num_perm=lsh_params[0], bands=lsh_params[1],
            seed=lsh_params[2], banded=banded, banded_params=lsh_params,
        )
        pairs = dedup_ops.minhash_verify_hashed(
            dedup_ops.minhash_lsh_candidates_from_bands(banded),
            hashed,
            threshold=0.8,
        )
        comps = (
            corpus.select("doc_id")
            .join(
                dedup_ops.connected_components(
                    pairs, "id_a", "id_b"
                ).select(F.col("vertex").alias("doc_id"), "component"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("component", "doc_id").alias("component"),
            )
        )
        stores.append_rows(comps, store, "assign", buckets=1)
        # the arrival stream: the batch docs, micro-batched by file
        docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", "text", "source"
        ).repartition(3).write.mode("overwrite").json(src)
        sq = st_ingest.stream_split_assignment(
            spark, src, store, max_files_per_trigger=1
        )
        sq.processAllAvailable()
        sq.stop()
        out = (
            stores.read_tier(spark, store, "stream_assign")
            .dropDuplicates(["doc_id"])
            .select(
                "doc_id",
                "component",
                "n_matched_components",
                "split",
                "status",
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
