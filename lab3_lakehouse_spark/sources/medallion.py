"""Medallion tier management: materialize / optimize / compose
(SURVEY §2.1 S3-S4, §2.5 X1-X2, §3 EP1).

The reference chains bronze → silver → gold through *materialized Delta
tables on disk*, re-reading each tier (``etl_pipeline.py:77,96,150``) —
checkpoint-at-tier-boundary makes every tier independently queryable
and restartable. The engine keeps that property but generalizes:

- any table, any partition columns, parquet-native with Delta as an
  optional format (the container has no delta-spark; the writer
  degrades gracefully),
- layout sizing via AQE + ``target_partitions`` instead of the
  reference's hard-coded ``repartition(16)`` / ``repartition(8)``
  (``etl_pipeline.py:64,118`` — a fixed constant is always wrong in one
  direction at 100 TB),
- Z-order (X2, ``etl_pipeline.py:87-88``) maps to Delta
  ``executeZOrderBy`` when Delta is present. On plain parquet,
  :func:`optimize_table` rewrites the tier *in place*, as Delta's
  ``OPTIMIZE`` does: range-partitioned and sorted on a Morton key over
  the Z-order columns (a plain range sort for one column), within each
  Hive partition, then staged and swapped in over the tier. That gives
  parquet min/max file and row-group skipping on every Z-order column
  — the same data-skipping goal by parquet-native means — and the
  tier's readers scan the clustered layout.

Parquet tiers written here carry their data schema in a
``_tier_schema.json`` record next to the data files (Delta keeps the
same record in its log), so :func:`read_tier` opens a tier without a
schema-inference job; see :func:`materialize` for its lifecycle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark import fs

#: the tier's recorded data schema (``StructType.json()``). The leading
#: ``_`` makes Spark's file index skip it; ``_metadata`` and
#: ``_common_metadata`` would be read as Parquet summary files.
SCHEMA_FILE = "_tier_schema.json"


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _layout(
    df: DataFrame,
    partition_by: list[str] | None,
    cluster_by: list[str] | None,
    target_partitions: int | None,
) -> DataFrame:
    """The write-layout stage of :func:`materialize` and
    :func:`optimize_table`, factored out so its physical plan is
    independently inspectable (plans/r15)."""
    out = df
    if cluster_by:
        cols = [F.col(c) for c in cluster_by]
        if target_partitions:
            out = out.repartitionByRange(target_partitions, *cols)
        else:
            out = out.repartitionByRange(*cols)
        out = out.sortWithinPartitions(*cols)
    elif partition_by:
        # co-locate rows of each output directory, avoiding the
        # files = tasks × partitions small-file explosion. r15 (guide
        # §6 "REBALANCE hint before the write"): the default is now an
        # AQE REBALANCE on the partition columns instead of
        # repartition(cols) — hash-repartitioning on LOW-cardinality
        # partition columns (year, month → ~tens of distinct values)
        # pins each output directory to ONE task, which at 100 TB
        # makes the biggest directory a multi-hundred-GB straggler
        # and one giant file. REBALANCE keeps the co-location but lets
        # AQE split oversized directories into advisory-sized tasks
        # (multiple right-sized files per dir) and coalesce tiny ones —
        # scale-adaptive in both directions, no constant to tune.
        # An explicit target_partitions still forces a plain hash
        # repartition (callers that pin file counts keep that control).
        cols = [F.col(c) for c in partition_by]
        out = (
            out.repartition(target_partitions, *cols)
            if target_partitions
            else out.hint("rebalance", *cols)
        )
    elif target_partitions:
        out = out.repartition(target_partitions)
    return out


def materialize(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    target_partitions: int | None = None,
    dynamic_partition_overwrite: bool = False,
) -> None:
    """Write a tier table (S3/S4), layout-aware.

    - ``partition_by``: Hive-style directory partitioning.
    - ``cluster_by``: within-file clustering for min/max data skipping
      (parquet-native Z-order substitute; Delta Z-order is applied by
      ``optimize_table`` when Delta is available).
    - ``target_partitions``: output file-count control. None → trust
      AQE's coalescing (the at-scale default).
    - ``dynamic_partition_overwrite``: with ``mode="overwrite"`` +
      ``partition_by``, replace ONLY the partitions present in ``df``
      (incremental backfill: rewriting one day must not clobber the
      other 3 649 days of a 10-year tier). Per-writer option, so it
      never leaks session-wide config.

    Schema record: a parquet tier keeps its data schema (``df``'s,
    less the ``partition_by`` columns, all nullable as the file writer
    stores it) in ``_tier_schema.json`` beside the data files, taken
    from ``df`` — recording it runs no job. :func:`read_tier` passes it
    to the reader; partition discovery still types the partition
    columns from the directory names, so the read returns what
    inference would. The record is deleted before every write, and
    only a whole-tier overwrite writes a new one afterwards: after an
    append or a dynamic partition overwrite the tier has no record and
    reads infer. ``merge_into``, ``compact_tier`` and
    ``optimize_table`` rewrite the tier in place and record what they
    wrote: the record is written with the staged rewrite and moves
    into place with it. A foreign ``df.write.mode("overwrite")``
    deletes the directory, record included; a foreign writer that APPENDS to a tier must delete
    ``_tier_schema.json`` itself, or reads keep the old schema. Delta
    tiers keep no record (their log is one), and neither do Spark
    Connect sessions (no JVM handle to the filesystem): those reads
    infer.
    """
    options = {}
    if partition_by and dynamic_partition_overwrite:
        options["partitionOverwriteMode"] = "dynamic"
    _save(
        _layout(df, partition_by, cluster_by, target_partitions), path, fmt,
        mode=mode, partition_by=partition_by, options=options,
    )


def materialize_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist a tier hash-bucketed (and optionally sorted) on its join
    key — the co-located-join layout.

    Two tables bucketed on the same key with the same bucket count
    sort-merge-join with ZERO exchanges (and zero sorts when sorted):
    at 100 TB, pre-bucketing the fact tables once removes the dominant
    shuffle from every subsequent key join and key aggregation.
    Bucketing rides the table catalog (``saveAsTable``), not a bare
    path — bucket metadata is what lets Catalyst elide the exchange.
    """
    w = (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str]] | None:
    """(num_buckets, bucket_cols) of a catalog table from its metadata,
    or None if the table is not bucketed."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    meta = {r["col_name"]: r["data_type"] for r in rows}
    if "Num Buckets" not in meta:
        return None
    cols = [c.strip("`") for c in meta["Bucket Columns"].strip("[]").split(", ")]
    return int(meta["Num Buckets"]), cols


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two bucketed tables on their bucket keys, validating up
    front (via catalog metadata) that the layouts actually co-locate:
    same bucket count, join keys covering the bucket columns. Spark
    only elides the exchange when output partitionings match —
    mismatched counts silently shuffle one side, which at 100 TB is the
    difference between a metadata-only merge join and rehashing a
    table. A layout mismatch here is a *pipeline bug* (someone rewrote
    a tier with different bucketing), so it fails loudly instead."""
    specs = []
    for t in (left_table, right_table):
        spec = bucket_spec(spark, t)
        if spec is None:
            raise ValueError(
                f"{t} is not bucketed — write it with materialize_bucketed"
            )
        specs.append(spec)
    (n_l, cols_l), (n_r, cols_r) = specs
    if n_l != n_r:
        raise ValueError(
            f"bucket-count mismatch ({left_table}: {n_l}, {right_table}: {n_r})"
            " — Spark would shuffle one side; rewrite with matching counts"
        )
    for cols, t in ((cols_l, left_table), (cols_r, right_table)):
        if not set(cols).issubset(on):
            raise ValueError(
                f"join keys {on} do not cover {t}'s bucket columns {cols}"
            )
    return spark.table(left_table).join(spark.table(right_table), on, how)


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    fmt: str = "parquet",
    delete_condition=None,
    broadcast_source: bool = True,
) -> None:
    """Apply a change batch to a persisted tier (Delta-MERGE parity).

    With delta-spark installed this delegates to the transactional
    ``DeltaTable.merge`` (file-pruned, ACID). On parquet tiers it is a
    read → ``operators.merge.merge_upsert`` → staged rewrite swapped in
    by :func:`_rewrite`: correct but non-transactional and full-rewrite
    — the honest floor documented in operators/merge.py. A frame
    planned on the tier before the call must not be read after it.
    Change batches are usually ≪ snapshot, so the source defaults to
    broadcast and the snapshot never shuffles.
    """
    from lab3_lakehouse_spark.operators.merge import merge_upsert

    if fmt == "delta" and _delta_available():
        from delta.tables import DeltaTable  # pragma: no cover - env-gated

        t = DeltaTable.forPath(spark, path)
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        m = t.alias("t").merge(source.alias("s"), cond)
        if delete_condition is not None:
            m = m.whenMatchedDelete(condition=delete_condition)
        m.whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        return
    snapshot = read_tier(spark, path, fmt)
    merged = merge_upsert(
        snapshot, source, keys,
        delete_condition=delete_condition, broadcast_source=broadcast_source,
    )
    _rewrite(merged, path, fmt)


def _rewrite(
    df: DataFrame, path: str, fmt: str, partition_by: list[str] | None = None
) -> None:
    """Replace the tier at ``path`` with ``df`` — the staged swap of
    ``merge_into``, ``compact_tier`` and ``optimize_table``. Parquet has
    no transaction log and Spark cannot overwrite a path it is reading
    from, so ``df`` is written (schema record included) to
    ``{path}.__staging__`` and put in place by
    :func:`lab3_lakehouse_spark.fs.swap`; the old tier, renamed aside,
    is deleted only once its replacement is at ``path``. If the swap
    fails, the old tier is back at ``path`` and the next rewrite
    overwrites the staged copy. Between the two renames ``path`` is
    briefly absent — the non-transactional cost vs Delta — and a frame
    planned on the old tier lists files the swap deletes."""
    spark = df.sparkSession
    staging = path.rstrip("/") + ".__staging__"
    _save(df, staging, fmt, partition_by=partition_by)
    fs.delete(spark, fs.swap(spark, path, staging))


def _partition_columns(spark: SparkSession, path: str) -> list[str]:
    """The tier's Hive partition columns, outermost first, from the
    ``k=v`` directory names along one path down from ``path`` — a few
    listings, no Spark job. Names starting ``_`` or ``.`` are skipped,
    as Spark's file index skips them."""
    fsys, d = fs.handle(spark, path)
    cols: list[str] = []
    while True:
        sub = next(
            (st.getPath() for st in fsys.listStatus(d)
             if st.isDirectory() and "=" in st.getPath().getName()
             and not st.getPath().getName().startswith(("_", "."))),
            None,
        )
        if sub is None:
            return cols
        cols.append(unquote(sub.getName().split("=", 1)[0]))
        d = sub


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable:
    the schema Spark's file writer stores in the footer."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _schema_file(spark: SparkSession, path: str, fmt: str) -> str | None:
    """Path of the tier's schema record, or None where no record is
    kept: non-parquet formats, and Spark Connect sessions, which have
    no JVM handle to the filesystem."""
    if fmt != "parquet" or getattr(spark, "_jvm", None) is None:
        return None
    return f"{path.rstrip('/')}/{SCHEMA_FILE}"


def _save(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Write ``df`` to the tier at ``path`` with its schema record kept
    in step (lifecycle in :func:`materialize`): the record is deleted
    before the write and rewritten from ``df``'s schema only when the
    write replaced the whole tier — an overwrite that is not a dynamic
    partition overwrite (the ``partitionOverwriteMode`` option, or the
    session's default)."""
    options = options or {}
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    spark = df.sparkSession
    at = _schema_file(spark, path, fmt)
    if at is None:
        writer.save(path)
        return
    dynamic = bool(partition_by) and options.get(
        "partitionOverwriteMode",
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static"),
    ).lower() == "dynamic"
    fsys, record = fs.handle(spark, at)
    fsys.delete(record, False)
    writer.save(path)
    if mode.lower() != "overwrite" or dynamic:
        return
    parts = {c.lower() for c in partition_by or ()}
    schema = _nullable(
        T.StructType([f for f in df.schema if f.name.lower() not in parts])
    ).json()
    fs.write_text(spark, at, schema)


def compact_tier(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
) -> dict[str, int]:
    """Small-file compaction (Delta ``OPTIMIZE``-compact parity for
    parquet tiers). Streaming sinks and incremental merges accrete
    files far below scan granularity; at 100 TB the scan cost of a
    fragmented tier is dominated by per-file open/footer overhead and
    lost row-group pruning, and the fix is a periodic rewrite toward
    ``target_file_bytes`` (default = the engine's 128 MiB
    ``maxPartitionBytes``, so one compacted file ≈ one scan split).

    Delta tiers delegate to the transactional ``optimize().
    executeCompaction()``. Parquet tiers rewrite: bytes are measured
    from the filesystem, the frame is repartitioned to
    ``ceil(bytes / target)`` output files (range-partitioned when
    ``sort_within`` is given, preserving cluster-by layouts), staged
    next to the tier and swapped in by :func:`_rewrite` — the
    merge_into pattern, same non-transactional window.

    Returns ``{"files_before", "files_after", "bytes", "n_target"}``
    for observability/assertions. Storage goes through
    :mod:`lab3_lakehouse_spark.fs` (any URI scheme); like merge_into,
    classic sessions only.
    """
    import math

    fsys, tier = fs.handle(spark, path)

    def _data_files() -> int:
        names = (f.rsplit("/", 1)[-1] for f in fs.list_files(spark, path))
        return sum(not n.startswith(("_", ".")) for n in names)

    if fmt == "delta" and _delta_available():  # pragma: no cover - env-gated
        from delta.tables import DeltaTable

        before = _data_files()
        DeltaTable.forPath(spark, path).optimize().executeCompaction()
        return {
            "files_before": before, "files_after": _data_files(),
            "bytes": fsys.getContentSummary(tier).getLength(),
            "n_target": -1,
        }

    total = fsys.getContentSummary(tier).getLength()
    n_target = max(1, math.ceil(total / target_file_bytes))
    before = _data_files()
    df = read_tier(spark, path, fmt)
    if sort_within:
        cols = [F.col(c) for c in sort_within]
        out = df.repartitionByRange(n_target, *cols).sortWithinPartitions(*cols)
    elif partition_by:
        out = df.repartition(n_target, *[F.col(c) for c in partition_by])
    else:
        out = df.repartition(n_target)
    _rewrite(out, path, fmt, partition_by=partition_by)
    return {
        "files_before": before,
        "files_after": _data_files(),
        "bytes": total,
        "n_target": n_target,
    }


def read_tier(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """S2: tier scan. A parquet tier written by this module carries its
    data schema (``_tier_schema.json``, see :func:`materialize`), which
    is passed to the reader, so opening the tier runs no Spark job;
    partition columns are still typed from the directory names. A tier
    without the record (a foreign writer, a Spark Connect session)
    infers the schema from a footer as a plain ``spark.read`` does —
    one Spark job per call; Delta reads its schema from its log."""
    reader = spark.read.format(fmt)
    at = _schema_file(spark, path, fmt)
    recorded = fs.read_text(spark, at) if at else None
    if recorded:
        reader = reader.schema(T.StructType.fromJson(json.loads(recorded)))
    return reader.load(path)


def morton_key(
    df: DataFrame, cols: list[str], bits_per_col: int = 16
) -> tuple[DataFrame, str]:
    """Attach a Morton (interleaved-bit Z-order) key over numeric columns.

    Each column is min-max normalized to ``bits_per_col`` bits (one tiny
    stats job), then the bits are interleaved so close values in ANY
    clustered column land near each other in key order. Sorting files by
    this key bounds every column's per-file min/max range —
    multi-dimensional data skipping, which lexicographic sorting only
    gives the leading column. Pure codegen'd shift/or arithmetic.
    """
    stats = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    scale = (1 << bits_per_col) - 1
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo = float(stats[f"lo_{c}"])
        span = float(stats[f"hi_{c}"]) - lo
        norm = (
            ((F.coalesce(F.col(c), F.lit(lo)).cast("double") - F.lit(lo))
             / F.lit(span if span > 0 else 1.0))
            * F.lit(float(scale))
        ).cast("long")
        for b in range(bits_per_col):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(norm, b).bitwiseAND(F.lit(1).cast("long")),
                    b * len(cols) + i,
                )
            )
    return df.withColumn("__zkey", key), "__zkey"


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    fmt: str = "parquet",
    target_partitions: int | None = None,
) -> str:
    """X2: layout optimization in place (generalizes
    ``etl_pipeline.py:87-88``): afterwards the tier at ``path`` holds
    the clustered layout. Returns the strategy applied.

    Delta → ``OPTIMIZE ... ZORDER BY``. Parquet → a rewrite
    range-partitioned and sorted on a Morton key over ``zorder_by`` (a
    single column degenerates to a range sort on it), staged next to
    the tier and swapped in by :func:`_rewrite`, as ``merge_into`` and
    ``compact_tier`` do, so no copy is left beside it. A Hive-
    partitioned tier keeps its partition columns and ``k=v``
    directories (read from its directory names, no job), with rows
    clustered within each partition. The rewrite records its schema,
    so the tier still opens without a job. Like ``merge_into``: a frame
    planned on the tier before the call must not be read after it (its
    files are gone) — read the tier again."""
    if fmt == "delta" and _delta_available():
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, path).optimize().executeZOrderBy(zorder_by)
        return "delta-zorder"
    parts = _partition_columns(spark, path)
    df = read_tier(spark, path, fmt)
    if len(zorder_by) == 1:
        strategy = "parquet-linear-cluster"
        clustered = _layout(df, None, parts + zorder_by, target_partitions)
    else:
        strategy = "parquet-morton-cluster"
        keyed, key = morton_key(df, zorder_by)
        clustered = _layout(keyed, None, parts + [key], target_partitions).drop(key)
    _rewrite(clustered, path, fmt, partition_by=parts)
    return strategy


@dataclass
class Stage:
    """One tier boundary: transform, then checkpoint to disk."""

    name: str
    transform: Callable[[DataFrame], DataFrame]
    partition_by: list[str] | None = None
    cluster_by: list[str] | None = None


@dataclass
class Pipeline:
    """EP1 generalized: ``Pipeline(root, [bronze, silver, gold...])``.

    Each stage reads the previous tier *from disk* (not in-memory
    lineage), exactly reproducing the reference's restartability
    property: a failed gold build re-runs from silver, not from raw.
    """

    root: str
    stages: list[Stage]
    fmt: str = "parquet"
    paths: dict[str, str] = field(default_factory=dict)

    def tier_path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def run(self, spark: SparkSession, source: DataFrame) -> dict[str, str]:
        df = source
        for st in self.stages:
            df = st.transform(df)
            p = self.tier_path(st.name)
            materialize(
                df,
                p,
                fmt=self.fmt,
                partition_by=st.partition_by,
                cluster_by=st.cluster_by,
            )
            self.paths[st.name] = p
            df = read_tier(spark, p, self.fmt)  # checkpoint boundary
        return dict(self.paths)
