"""Grouped aggregation operators.

Generalizes the reference's two gold-tier aggregates:

- A1 daily revenue: ``groupBy(PULocationID, DOLocationID,
  date_trunc('day', pickup))`` → sum/count/avg/avg
  (``src/etl_pipeline.py:107-116``)
- A2 hourly demand: ``groupBy(PULocationID, hour(pickup))`` →
  count/avg (``src/etl_pipeline.py:130-136``)

into ``time_bucketed_agg`` over arbitrary tables, plus the wider
aggregation surface the reference lacks (rollup/cube/grouping sets,
exact + approximate distinct).

Scale notes: every operator here is a single Catalyst hash-aggregate —
partial (map-side combine) + shuffle-by-keys + final. No collect, no
driver loop. Group-key cardinality, not input size, bounds state, so the
same plan holds at 100 TB. Skewed group keys are handled by AQE
(``spark.sql.adaptive.skewJoin``/coalesce) rather than hand-salting; for
pathological single-key skew use ``salted_agg`` below.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: time grains supported by date_trunc in both Spark and ANSI engines.
GRAINS = ("year", "quarter", "month", "week", "day", "hour", "minute")


def time_bucketed_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    grain: str,
    aggs: Sequence[Column],
    bucket_name: str = "bucket",
) -> DataFrame:
    """A1/A2 generalized: group by columns + a truncated-time bucket.

    ``grain='day'`` reproduces A1's ``date_trunc('day', …)`` key;
    ``grain='hour'`` with ``part_extract`` semantics is covered by
    ``time_part_agg``.
    """
    if grain not in GRAINS:
        raise ValueError(f"grain must be one of {GRAINS}")
    key = F.date_trunc(grain, F.col(ts_col)).alias(bucket_name)
    return df.groupBy(*[F.col(c) for c in group_cols], key).agg(*aggs)


def time_part_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    part: str,
    aggs: Sequence[Column],
    part_name: str | None = None,
) -> DataFrame:
    """A2 generalized: group by columns + an extracted time part
    (hour-of-day, day-of-week, …) rather than a truncated bucket."""
    extractors = {
        "hour": F.hour,
        "dayofweek": F.dayofweek,
        "dayofmonth": F.dayofmonth,
        "month": F.month,
        "year": F.year,
        "minute": F.minute,
    }
    if part not in extractors:
        raise ValueError(f"part must be one of {sorted(extractors)}")
    key = extractors[part](F.col(ts_col)).alias(part_name or f"{part}_of_{ts_col}")
    return df.groupBy(*[F.col(c) for c in group_cols], key).agg(*aggs)


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """Hierarchical subtotals (absent from the reference; SURVEY §2.7)."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """All-combinations subtotals (absent from the reference; SURVEY §2.7)."""
    return df.cube(*keys).agg(*aggs)


def distinct_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Exact distinct — one shuffle on the projected columns."""
    return (df.select(*cols) if cols else df).distinct()


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    salt_buckets: int = 32,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase salted sum/count for pathologically skewed group keys.

    Phase 1 aggregates on (keys, salt) — spreading a hot key over
    ``salt_buckets`` reducers — then phase 2 combines partials. For
    algebraic aggregates (sum/count, and avg = sum/count) this is exact.
    Spark's partial aggregation already does this job in the common case;
    use this only when a single group key dominates a partition *after*
    partial agg (e.g. high-cardinality payload under one key).

    The salt is deterministic row content (``xxhash64`` of ``salt_cols``,
    default: every hashable column — MapType columns are excluded, as
    ``xxhash64`` rejects them) — a nondeterministic salt feeding the
    shuffle key is the SPARK-23207 lost/duplicated-rows hazard under
    fetch-failure recomputation (see ``joins.skew_salted_join``).

    Pass a unique-id column as ``salt_cols`` whenever rows can be FULLY
    duplicate (common in exactly the skewed workloads this targets):
    identical rows hash to one salt bucket, so the content-hash default
    would funnel every copy of a hot duplicated row to a single reducer
    — the skew this exists to break.
    """
    from lab3_lakehouse_spark.operators.joins import _hashable_salt_source

    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in _hashable_salt_source(df, salt_cols)]),
        F.lit(salt_buckets),
    )
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
        )
    )
    return phase1.groupBy(*keys).agg(
        F.sum("__cnt").alias("cnt"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def hll_sketch_rollup(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-key Datasketches-HLL sketches of ``value_col`` — the
    MERGEABLE distinct-count building block: sketches persist as
    binary columns in a rollup tier and re-aggregate to any coarser
    grain with :func:`hll_merge` (union is lossless), so "distinct
    users per day" rolls up to per-month/global without ever
    rescanning raw events. ``approx_count_distinct`` cannot do this —
    its estimate doesn't compose; this is why continuous aggregates at
    100 TB store sketches, not numbers.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("hll"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_merge(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hll",
) -> DataFrame:
    """Merge per-fine-key sketches to coarser ``keys`` (lossless HLL
    union) and estimate: ``(keys, n_distinct_est)``."""
    grouped = (
        sketches.groupBy(*keys) if keys else sketches.groupBy(F.lit(1).alias("__g"))
    )
    out = grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias("n_distinct_est")
    )
    return out.drop("__g") if not keys else out
