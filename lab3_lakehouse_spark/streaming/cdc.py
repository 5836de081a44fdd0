"""Streaming CDC apply: "APPLY CHANGES INTO" for a lakehouse tier.

Completes the mutation surface (operators/merge.py) for streams: each
micro-batch of op-tagged change rows is collapsed to the latest change
per key and merged into the persisted tier via ``medallion.merge_into``
— native Delta MERGE per batch when delta-spark is installed, staged
parquet rewrite otherwise.

Scale notes: the per-batch collapse shuffles only the BATCH (bounded by
trigger interval); the snapshot side uses the zero-shuffle broadcast
merge path whenever the batch broadcasts. The checkpoint dir gives
exactly-once batch replay — re-applying the same batch after a crash is
idempotent because MERGE is (same keys → same final row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lab3_lakehouse_spark import fs
from lab3_lakehouse_spark.operators.merge import OP_DELETE
from lab3_lakehouse_spark.sources.medallion import merge_into


def latest_change_per_key(
    changes: DataFrame, keys: list[str], sequence_col: str
) -> DataFrame:
    """Collapse a change batch to the winning (latest-sequence) row per
    key — CDC feeds legitimately carry several changes for one key per
    batch, but MERGE requires at most one source row per target row.
    Ties break deterministically on the op column so replays are stable."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(sequence_col).desc(), F.col("__op").desc()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_to_tier(
    changes: DataFrame,
    path: str,
    keys: list[str],
    sequence_col: str,
    checkpoint: str,
    op_col: str = "__op",
    fmt: str = "parquet",
) -> "object":
    """Continuously apply an op-tagged change stream to a tier table.

    Bootstrap: if the tier does not exist yet, the first batch's
    non-delete rows become the initial snapshot. Returns the running
    StreamingQuery (AvailableNow trigger — drain-and-stop semantics;
    swap the trigger for continuous ingestion).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        latest = latest_change_per_key(batch_df, keys, sequence_col)
        source = latest.drop(sequence_col)
        if not fs.exists(spark, path):  # bootstrap, on any URI scheme
            source.filter(F.col(op_col) != OP_DELETE).drop(op_col).write.format(
                fmt
            ).save(path)
            return
        merge_into(
            spark, path, source, keys, fmt=fmt,
            delete_condition=F.col(op_col) == OP_DELETE,
        )

    return (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
