"""Structured Streaming slice: windowed aggregation with watermarks
over the ``events`` table as a file stream (SURVEY §7 step 7 — the
reference is batch-only; stock Structured Streaming semantics apply).

Batch/stream parity by construction: every windowed aggregation here is
the *same DataFrame expression* the batch queries use
(``queries/relational.py`` tumbling/session queries), applied to a
``readStream`` source — the Spark unified-API guarantee, which the
tests verify by running the stream with ``Trigger.AvailableNow`` and
diffing against the batch result.

Late data: ``withWatermark`` bounds state; events older than the
watermark are dropped from open windows. Watermark delay is a policy
argument, not a constant — at 100 TB of events the right delay depends
on upstream delivery SLOs.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark import fs

#: Raw parquet schema of events.parquet when ``ts`` is stored as
#: TIMESTAMP(NANOS) or a plain INT64 of epoch-nanos: surfaced as long
#: (under ``nanosAsLong`` for the former) — streaming readers need the
#: schema up front; there is no inference on streams.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: Same table when ``ts`` is parquet TIMESTAMP(MICROS/MILLIS) — Spark's
#: native timestamp encoding, read without any conversion.
EVENTS_TS_SCHEMA = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.TimestampType()) for f in EVENTS_RAW_SCHEMA]
)


def _ts_stored_as_nanos(path: str) -> bool:
    """True when the ``ts`` column is epoch-nanoseconds carried in an
    int64 (either parquet TIMESTAMP(NANOS) or a plain INT64).

    Footer-only metadata read of ONE file on the driver — no data scan,
    so it is 100 TB-safe. Contract: every file in a stream directory
    uses the same ``ts`` encoding (standard for any parquet source —
    Spark itself requires a single reader schema per stream).

    The probe only understands LOCAL paths (glob + pyarrow). Guessing
    on a path it cannot probe would be a silent 1000× mis-decode if the
    guess is wrong, so it raises instead — callers on object stores
    must pass ``ts_encoding`` to :func:`stream_events` explicitly.
    """
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else ([path] if os.path.isfile(path) else [])
    )
    if not files:
        raise ValueError(
            f"cannot probe ts encoding of {path!r}: no local parquet file "
            "found (non-local scheme or empty dir) — pass "
            "stream_events(..., ts_encoding='nanos'|'micros') explicitly"
        )
    t = pq.ParquetFile(files[0]).schema_arrow.field("ts").type
    return t == pa.int64() or (pa.types.is_timestamp(t) and t.unit == "ns")


def stream_events(
    spark: SparkSession, sf_dir: str, ts_encoding: str | None = None
) -> DataFrame:
    """``events`` as a file stream. maxFilesPerTrigger=1 gives
    deterministic micro-batch granularity in tests; a production reader
    would bound *bytes* per trigger instead.

    The ``ts`` encoding is detected from the parquet footer (the
    testdata has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    over time): nanos arrive as long and are truncated to µs timestamps,
    micros/millis are read natively — mirroring the batch reader's
    defensive decode in ``catalog.load_table``. The footer probe is
    local-filesystem only; for object-store paths pass
    ``ts_encoding='nanos'`` or ``'micros'`` (the probe raises rather
    than guess — a wrong guess mis-decodes every timestamp by 1000×).
    """
    if ts_encoding not in (None, "nanos", "micros"):
        raise ValueError(f"ts_encoding must be 'nanos'|'micros'|None, got {ts_encoding!r}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    nanos = _ts_stored_as_nanos(path) if ts_encoding is None else ts_encoding == "nanos"
    if not fs.is_dir(spark, path):
        # single-file source: FileStreamSource requires a directory or a
        # glob — bracketing the last char forces glob semantics, which
        # makes basePath default to the parent directory
        path = f"{path[:-1]}[{path[-1]}]"
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA if nanos else EVENTS_TS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window per-type counts + value sum, watermarked."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based, dynamic close)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_to_memory(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    name: str | None = None,
) -> DataFrame:
    """Execute a streaming DF with AvailableNow (process everything
    currently in the source, then stop) into a memory sink; return the
    result as a batch DataFrame. This is the test harness — production
    sinks are ``foreachBatch`` → ``materialize`` (see ``to_tier``)."""
    name = name or f"s_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def to_tier(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> "object":
    """Streaming gold tier: foreachBatch → parquet materialize, with a
    checkpoint dir for restart. Returns the StreamingQuery.

    End-to-end exactly-once requires the sink write to be IDEMPOTENT —
    foreachBatch alone is at-least-once (a crash after the write but
    before the checkpoint commit replays the batch). Both modes here are
    replay-safe:

    - ``complete``: each batch is the full result → overwrite the tier
      (a replay rewrites the same snapshot);
    - ``append``/``update``: each batch lands in its own Hive-style
      ``batch_id=<n>`` partition with overwrite (a replay rewrites that
      partition in place, never duplicating rows; readers see
      ``batch_id`` as an ordinary partition column).

    READER CONTRACT for ``update`` mode: a key that is updated in
    several batches persists in several ``batch_id`` partitions, so a
    plain read of the tier returns MULTIPLE versions per key — the tier
    is a change log, not a snapshot. Readers must dedupe to the latest
    version, e.g.::

        QUALIFY row_number() OVER (PARTITION BY <keys>
                                   ORDER BY batch_id DESC) = 1

    ``append`` mode emits each finalized key exactly once (watermark
    close), so a plain read IS the snapshot; ``complete`` mode likewise.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "complete":
            batch_df.write.mode("overwrite").parquet(path)
        else:
            batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
