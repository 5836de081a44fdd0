"""Incremental time-bucket rollups (continuous-aggregate maintenance).

A persisted rollup tier keyed by (group keys…, bucket_ts) holds
*mergeable partial aggregates* — count, sum, min, max — instead of
finalized values.  Refreshing with a new batch then never rescans the
raw table: aggregate the batch alone, pull only the rollup rows whose
buckets the batch touched (the "dirty" buckets), combine additively,
and upsert.  Finalized measures that are NOT additive (avg) are derived
from the partials at read time.

Scale shape (100 TB raw, append-mostly): refresh cost is
O(batch + dirty-bucket rows), independent of raw-table size; the
upsert path is the engine's ``merge_into`` (Delta file-pruned MERGE
when available, staged rewrite otherwise), and the dirty-bucket pull
broadcasts the batch's key set, so no rollup-table shuffle happens.

Reference parity: generalizes the reference's static gold aggregates
(`src/etl_pipeline.py:104-142` — daily revenue / hourly demand,
recomputed from scratch each run) into incrementally maintained
hypertable-style rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_lakehouse_spark import fs

#: partial-aggregate columns a rollup row carries for one measure.
PARTIALS = ("cnt", "sum_v", "min_v", "max_v")


def rollup_partials(
    df: DataFrame,
    *,
    ts_col: str,
    bucket: str,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Mergeable partials per (keys…, bucket_ts) for one value column."""
    bucket_ts = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    return df.groupBy(*keys, bucket_ts).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def combine_partials(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Re-aggregate partial rows sharing (keys…, bucket_ts) — the
    associative merge that makes incremental refresh equal a full
    recompute."""
    return parts.groupBy(*keys, "bucket_ts").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def table_exists(spark: SparkSession, path: str, fmt: str = "parquet") -> bool:
    """Existence probe that never launches a Spark job on the happy path.

    Classic sessions: :func:`lab3_lakehouse_spark.fs.exists`. Spark
    Connect sessions have no ``_jvm`` (py4j private API is gone), so
    fall back to a driver-side schema probe catching
    ``AnalysisException`` ONLY — a missing path analyzes
    as PATH_NOT_FOUND, while transient FS errors / corrupt footers /
    permission failures raise other exception types and propagate (see
    the refresh_rollup comment for why a broad except would be
    history-destroying)."""
    if getattr(spark, "_jvm", None) is not None:
        return fs.exists(spark, path)
    from pyspark.errors import AnalysisException

    try:
        spark.read.format(fmt).load(path).schema
        return True
    except AnalysisException:
        return False


def refresh_rollup(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    *,
    ts_col: str,
    bucket: str,
    keys: list[str],
    value_col: str,
    fmt: str = "parquet",
) -> None:
    """Merge one new batch into the persisted rollup at ``path``.

    Only dirty buckets are read back (broadcast semi-join on the
    batch's key set) and only their upserted rows travel through
    ``merge_into`` — raw history is never rescanned.
    """
    from lab3_lakehouse_spark.sources import medallion

    delta = rollup_partials(
        batch, ts_col=ts_col, bucket=bucket, keys=keys, value_col=value_col
    )
    merge_keys = [*keys, "bucket_ts"]
    # Explicit existence probe, NOT try/except around the read: a bare
    # except would treat any transient FS error / corrupt footer /
    # permission failure as "first refresh" and overwrite the persisted
    # rollup with only this batch's partials, destroying history. With
    # the probe, read failures on an existing table propagate.
    if not table_exists(spark, path, fmt):
        medallion.materialize(delta, path, fmt=fmt)
        return
    target = medallion.read_tier(spark, path, fmt)
    dirty = target.join(F.broadcast(delta.select(*merge_keys)), merge_keys, "left_semi")
    combined = combine_partials(dirty.unionByName(delta), keys)
    medallion.merge_into(spark, path, combined, merge_keys, fmt=fmt)


def finalize(rolled: DataFrame, keys: list[str]) -> DataFrame:
    """Read-time view: derive non-mergeable measures from partials."""
    return rolled.select(
        *keys,
        "bucket_ts",
        F.col("cnt").alias("n_rows"),
        F.col("sum_v").alias("total"),
        (F.col("sum_v") / F.col("cnt")).alias("mean"),
        F.col("min_v").alias("vmin"),
        F.col("max_v").alias("vmax"),
    )
