"""SparkSession factory + tuning for the lakehouse engine.

Generalizes the reference's session init (``src/etl_pipeline.py:28-41``,
which hard-wires Delta extensions and nothing else) into a factory that:

- pins ``spark.sql.session.timeZone=UTC`` (timestamp semantics must be
  deployment-independent; the reference relies on container-local TZ),
- enables AQE (adaptive coalesce + skew-join) instead of the reference's
  fixed ``repartition(16)`` / ``repartition(8)`` constants
  (``etl_pipeline.py:64,118``) — at 100 TB a fixed partition count is
  always wrong in one direction,
- enables Arrow for any pandas interchange (Pandas UDFs, ``toPandas``),
- registers Delta Lake extensions only if ``delta-spark`` is importable
  (the engine is parquet-native; Delta is an optional acceleration),
- plans every literal IN list of two or more values as ``InSet`` and
  compiles it to a lookup in a referenced hash set
  (``spark.sql.optimizer.inSetConversionThreshold`` and
  ``inSetSwitchThreshold`` = 0). Spark's defaults write the values
  into the generated code, so every store probe with a new key set
  (IVF-PQ ``__cell IN (…)``, BM25 ``term IN (…)``) recompiled its
  stage (3 classes, ~70–130 ms of Janino per ann_store probe) and
  restarted its scoring loop un-JITed. With the set referenced, the
  2nd and 3rd ann_store probes compile nothing, their execution fell
  from 1.2–2.1 s to 0.9–1.0 s, and the benchmark's ``read_p50_s``
  median fell from 2.22 to 1.64 s (10 of 10 pairs, 4-core host). The
  parquet pushdown is the same ``In`` source filter.

``tune_session`` applies the runtime-settable subset to a session the
caller already owns (the verify driver passes us its own session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs, safe to apply to an existing session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB: dims like region/nation/customer are broadcast even at high SF.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow batch size for pandas UDFs: big batches amortize IPC overhead.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Parquet TIMESTAMP(NANOS) columns (events.ts) surface as long ns;
    # catalog.load_table converts them to µs timestamps (matching how
    # µs-native engines like DuckDB truncate ns).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Literal IN lists of 2+ values become InSet (default: above 10
    # values), compiled as a referenced hash set (default: a `switch`
    # over up to 400 values written into the code). A store probe's
    # generated code then does not depend on its keys, so the 2nd and
    # later probes of a store compile 0 classes instead of 3 (see the
    # module docstring for the numbers). Internal Spark 4.1 confs,
    # pinned by tests/test_llmdata.py.
    "spark.sql.optimizer.inSetConversionThreshold": "0",
    "spark.sql.optimizer.inSetSwitchThreshold": "0",
}

#: Launch-time confs (need a fresh JVM).
LAUNCH_CONF: dict[str, str] = {
    # 128 MiB input splits: standard at-scale parquet scan granularity.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec": "snappy",
}


def _delta_builder_conf() -> dict[str, str]:
    """Delta extensions, only when delta-spark is installed (optional)."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return {}
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": "org.apache.spark.sql.delta.catalog.DeltaCatalog",
    }


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "lab3-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned SparkSession.

    On a real cluster ``master`` comes from the environment / spark-submit;
    the local default sizes threads and shuffle partitions off
    ``SPARK_GRAFT_CPUS``.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {
        **LAUNCH_CONF,
        **RUNTIME_CONF,
        **_delta_builder_conf(),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-owned session.

    Idempotent and cheap; every public query entry point calls this so
    results are correct (UTC timestamps) even under a vanilla session.
    """
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
