"""The medallion tiers' schema record (``_tier_schema.json``):
``read_tier`` opens a recorded tier without a Spark job, returns what
parquet schema inference returns, and falls back to inference wherever
the record could be stale."""

from __future__ import annotations

import datetime
import decimal
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark.sources import medallion as med


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"tier_schema_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _record(path: str) -> str:
    return os.path.join(path.removeprefix("file://"), med.SCHEMA_FILE)


def _reads_as_inference(spark, path: str) -> None:
    got, want = med.read_tier(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.fixture(scope="module")
def typed(spark):
    """Every type family a tier holds, with non-nullable fields, array
    elements and map values (the file writer stores them nullable),
    an all-null int, and a string column of digits (a partition
    column typed int by discovery)."""
    schema = T.StructType([
        T.StructField("a", T.IntegerType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("digits", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("st", T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("y", T.StringType()),
        ]), False),
        T.StructField("arr", T.ArrayType(T.IntegerType(), False)),
        T.StructField("mp", T.MapType(T.StringType(), T.IntegerType(), False)),
        T.StructField("nul", T.IntegerType()),
    ])
    rows = [
        (i, 10 * i, str(i % 3), datetime.date(2024, 1, 1 + i % 2),
         datetime.datetime(2024, 1, 1, i), decimal.Decimal(f"{i}.25"),
         (i, f"s{i}"), [i, i + 1], {f"k{i}": i}, None)
        for i in range(6)
    ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize(
    "parts", [None, ["a"], ["a", "b"], ["d"], ["digits"]],
    ids=["none", "int", "int-long", "date", "digit-string"],
)
def test_recorded_read_equals_inference(spark, typed, tmp_path, parts):
    path = str(tmp_path / "tier")
    med.materialize(typed, path, partition_by=parts)
    # the record is the footer's data schema: partition columns left
    # out, every field, element and value nullable
    with open(_record(path)) as f:
        recorded = T.StructType.fromJson(json.load(f))
    assert recorded == spark.read.parquet(path).drop(*(parts or [])).schema
    _reads_as_inference(spark, path)


def test_read_tier_runs_no_job(spark, typed, tmp_path):
    """Opening a materialized tier runs no Spark job before an action
    (schema inference ran one per call)."""
    path = str(tmp_path / "tier")
    med.materialize(typed, path, partition_by=["a"])
    df, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    assert df.count() == 6


def test_rewrites_record_what_they_wrote(spark, typed, tmp_path):
    """merge_into, compact_tier and both optimize_table branches rewrite
    the tier in place and leave it opening without a job and reading
    as inference does, with nothing left beside it."""
    path = str(tmp_path / "tier")
    med.materialize(typed.drop("mp"), path)
    change = typed.drop("mp").filter("a < 2").withColumn("b", F.col("b") + 1)
    med.merge_into(spark, path, change, ["a"])
    med.compact_tier(spark, path, partition_by=["digits"])
    assert med.optimize_table(spark, path, ["b"]) == "parquet-linear-cluster"
    _, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    _reads_as_inference(spark, path)
    assert med.read_tier(spark, path).filter("a = 1").first().b == 11
    morton = str(tmp_path / "morton")
    med.materialize(typed.drop("mp"), morton)
    assert med.optimize_table(spark, morton, ["a", "b"]) == "parquet-morton-cluster"
    _, n = _jobs(spark, lambda: med.read_tier(spark, morton))
    assert n == 0
    _reads_as_inference(spark, morton)
    assert sorted(os.listdir(tmp_path)) == ["morton", "tier"]


def _data_dirs(root) -> list[str]:
    """Directories under ``root`` holding parquet files, relative."""
    return sorted(
        os.path.relpath(d, root)
        for d, _, files in os.walk(root)
        if any(f.endswith(".parquet") for f in files)
    )


@pytest.mark.parametrize("parts", [None, ["digits", "a"]], ids=["flat", "partitioned"])
@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_optimize_table_rewrites_the_tier_in_place(spark, typed, tmp_path, scheme, parts):
    """Parquet OPTIMIZE replaces the tier at its own path: the same rows
    and columns, the same ``k=v`` directories, the schema record kept
    (a 0-job read), and no ``__clustered``, staging or retired path
    beside it."""
    local = tmp_path / "tier"
    path = f"{scheme}{local}"
    med.materialize(typed, path, partition_by=parts)
    dirs = _data_dirs(local)
    before = med.read_tier(spark, path)
    want_cols, want = before.columns, sorted(map(repr, before.collect()))
    assert med.optimize_table(spark, path, ["b", "dec"]) == "parquet-morton-cluster"
    assert os.listdir(tmp_path) == ["tier"]
    assert os.path.exists(_record(path))
    got, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    assert got.columns == want_cols
    assert sorted(map(repr, got.collect())) == want
    assert _data_dirs(local) == dirs
    _reads_as_inference(spark, path)


@pytest.mark.parametrize("rewrite", ["merge", "compact", "optimize"])
def test_failed_swap_leaves_the_live_tier(spark, typed, tmp_path, monkeypatch, rewrite):
    """If the rename that puts a rewrite in place fails, the live tier,
    already renamed aside, is renamed back: it is whole at its path and
    reads without a job, and no retired copy is left. The next rewrite
    replaces the stale staged copy."""
    from lab3_lakehouse_spark import fs

    path = str(tmp_path / "tier")
    base = typed.drop("mp")
    med.materialize(base, path, partition_by=["digits"])
    want = sorted(map(repr, med.read_tier(spark, path).collect()))
    run = {
        "merge": lambda: med.merge_into(spark, path, base.filter("a < 2"), ["a"]),
        "compact": lambda: med.compact_tier(spark, path, partition_by=["digits"]),
        "optimize": lambda: med.optimize_table(spark, path, ["b", "dec"]),
    }[rewrite]
    rename = fs.rename

    def staged_rename_fails(spark, src, dst):
        if src.endswith(".__staging__"):
            raise OSError("injected rename failure")
        rename(spark, src, dst)

    monkeypatch.setattr(fs, "rename", staged_rename_fails)
    with pytest.raises(OSError, match="injected"):
        run()
    monkeypatch.undo()
    got, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    assert sorted(map(repr, got.collect())) == want
    assert not os.path.exists(path + ".retired")
    run()
    assert os.listdir(tmp_path) == ["tier"]
    assert sorted(map(repr, med.read_tier(spark, path).collect())) == want


def test_append_drops_the_record(spark, typed, tmp_path):
    """An append may change the tier's schema, so it leaves no record
    and the tier reads as inference does (which footer inference takes
    the schema from is Spark's choice)."""
    path = str(tmp_path / "tier")
    med.materialize(typed, path, partition_by=["digits"])
    med.materialize(
        typed.withColumn("extra", F.lit(1)), path, mode="append",
        partition_by=["digits"],
    )
    assert not os.path.exists(_record(path))
    _reads_as_inference(spark, path)


def test_dynamic_partition_overwrite_drops_the_record(spark, typed, tmp_path):
    """A dynamic partition overwrite replaces only some partitions, so
    it leaves no record; the kept partitions still read."""
    path = str(tmp_path / "tier")
    med.materialize(typed, path, partition_by=["digits"])
    med.materialize(
        typed.filter("digits = '1'").drop("nul"), path,
        partition_by=["digits"], dynamic_partition_overwrite=True,
    )
    assert not os.path.exists(_record(path))
    _reads_as_inference(spark, path)
    assert med.read_tier(spark, path).count() == 6


def test_foreign_overwrite_replaces_the_record(spark, typed, tmp_path):
    path = str(tmp_path / "tier")
    med.materialize(typed, path)
    _, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    spark.range(3).withColumn("z", F.lit("x")).write.mode("overwrite").parquet(path)
    assert med.read_tier(spark, path).columns == ["id", "z"]
    _reads_as_inference(spark, path)


def test_file_uri_root(spark, typed, tmp_path):
    path = f"file://{tmp_path}/tier"
    med.materialize(typed, path, partition_by=["a"])
    assert os.path.exists(_record(path))
    _, n = _jobs(spark, lambda: med.read_tier(spark, path))
    assert n == 0
    _reads_as_inference(spark, path)


def test_tier_without_record_reads_as_today(spark, typed, tmp_path):
    """A tier from a plain ``df.write`` has no record: read_tier infers,
    as ``spark.read`` does. A Spark Connect session (no JVM handle)
    keeps no record either."""
    path = str(tmp_path / "tier")
    typed.write.partitionBy("d").parquet(path)
    assert not os.path.exists(_record(path))
    _reads_as_inference(spark, path)
    assert med._schema_file(object(), path, "parquet") is None
