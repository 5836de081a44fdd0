"""Column derivation / typed projection operators.

Generalizes the reference's projections:

- P1 timestamp parse (``etl_pipeline.py:56,59``; ``utils.py:17-18``),
- P2 date-part partition columns (``etl_pipeline.py:61-62``),
- P3 schema-pinning casts (``utils.py:19-24``),
- P4 derived metric — duration minutes from two timestamps
  (``utils.py:38-41``),
- P5 schema-tolerant conditional projection (``etl_pipeline.py:55,58``).

All pure ``withColumn`` expressions — narrow (no shuffle), fully inside
whole-stage codegen, and Catalyst prunes/pushes around them freely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_timestamps(df: DataFrame, cols: list[str], fmt: str | None = None) -> DataFrame:
    """P1 + P5: parse string → timestamp for each column that exists
    (schema-tolerant, like the reference's ``if c in df.columns`` probe)."""
    for c in cols:
        if c in df.columns:
            df = df.withColumn(c, F.to_timestamp(F.col(c), fmt) if fmt else F.to_timestamp(F.col(c)))
    return df


def cast_columns(df: DataFrame, types: dict[str, T.DataType], strict: bool = False) -> DataFrame:
    """P3 generalized: pin a schema contract by casting.

    ``strict=False`` (default) skips absent columns (P5 tolerance);
    ``strict=True`` raises, for tiers where the contract is load-bearing.
    """
    missing = [c for c in types if c not in df.columns]
    if strict and missing:
        raise ValueError(f"cast_columns: missing columns {missing}")
    for c, dtype in types.items():
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast(dtype))
    return df


def add_date_parts(df: DataFrame, ts_col: str, parts: tuple[str, ...] = ("year", "month")) -> DataFrame:
    """P2: derive partition columns from an event-time column."""
    extractors = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "hour": F.hour,
        "date": F.to_date,
    }
    for p in parts:
        df = df.withColumn(p, extractors[p](F.col(ts_col)))
    return df


def duration_minutes(start_ts: str | Column, end_ts: str | Column) -> Column:
    """P4: minutes between two timestamps, as a column expression.

    Long-seconds difference like the reference (``utils.py:38-41``), but
    via cast (one codegen expr) instead of two ``unix_timestamp`` calls.
    """
    s = F.col(start_ts) if isinstance(start_ts, str) else start_ts
    e = F.col(end_ts) if isinstance(end_ts, str) else end_ts
    return (e.cast("long") - s.cast("long")) / F.lit(60.0)
