"""Medallion pipeline, streaming, and ML tests (SURVEY §5.3 end-to-end
medallion; §5.2 unit tests for non-oracle surfaces)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark.catalog import load_table
from lab3_lakehouse_spark.ml import regression as ml
from lab3_lakehouse_spark.sources import ingest
from lab3_lakehouse_spark.sources.medallion import (
    Pipeline,
    Stage,
    materialize,
    optimize_table,
    read_tier,
)
from lab3_lakehouse_spark.streaming import windows as sw


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="lakehouse_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------ ingestion --

def test_read_csv_explicit_schema_and_timestamp_parse(spark, tmpdir):
    path = f"{tmpdir}/raw.csv"
    with open(path, "w") as f:
        f.write("id,ts,amount\n1,2024-03-01 10:00:00,5.5\n2,2024-03-02 11:30:00,7.25\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("ts", T.StringType()),
            T.StructField("amount", T.StringType()),
        ]
    )
    df = ingest.read_csv(spark, path, schema=schema)
    df = ingest.parse_timestamps(df, ["ts", "not_a_column"])  # tolerant probe
    df = ingest.apply_casts(df, {"amount": "float", "ghost": "int"})
    assert dict(df.dtypes) == {"id": "int", "ts": "timestamp", "amount": "float"}
    df = ingest.add_date_parts(df, "ts", ("year", "month"))
    rows = {r.id: (r.year, r.month) for r in df.collect()}
    assert rows == {1: (2024, 3), 2: (2024, 3)}


# ------------------------------------------------- medallion composition --

def test_medallion_pipeline_end_to_end(spark, sf_small, tmpdir):
    """Reference EP1 shape over events: bronze(raw+date parts) →
    silver(filtered) → gold(daily agg); checkpoint at each boundary."""
    ev = load_table(spark, sf_small, "events")
    n_raw = ev.count()

    pipe = Pipeline(
        root=tmpdir,
        stages=[
            Stage(
                "bronze",
                lambda df: ingest.add_date_parts(df, "ts", ("year", "month")),
                partition_by=["year", "month"],
            ),
            Stage(
                "silver",
                lambda df: df.filter(F.col("value") > 0),
                cluster_by=["user_id"],
            ),
            Stage(
                "gold",
                lambda df: df.groupBy(
                    "user_id", F.date_trunc("day", "ts").alias("day")
                ).agg(
                    F.sum("value").alias("daily_revenue"),
                    F.count(F.lit(1)).alias("trip_count"),
                    F.avg("value").alias("avg_value"),
                ),
            ),
        ],
    )
    paths = pipe.run(spark, ev)
    assert set(paths) == {"bronze", "silver", "gold"}

    bronze = read_tier(spark, paths["bronze"])
    assert bronze.count() == n_raw
    assert {"year", "month"} <= set(bronze.columns)

    silver = read_tier(spark, paths["silver"])
    n_expected_silver = ev.filter(F.col("value") > 0).count()
    assert silver.count() == n_expected_silver

    # gold values match direct (non-checkpointed) computation
    gold = read_tier(spark, paths["gold"])
    direct = (
        ev.filter(F.col("value") > 0)
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("daily_revenue"))
    )
    merged = gold.select("user_id", "day", "daily_revenue").join(
        direct, ["user_id", "day"], "full_outer"
    )
    assert merged.filter(
        F.abs(gold["daily_revenue"] - direct["daily_revenue"]) > 1e-9
    ).count() == 0
    assert gold.count() == direct.count()


def test_materialize_partitioned_layout(spark, sf_small, tmpdir):
    import os

    ev = load_table(spark, sf_small, "events").withColumn(
        "year", F.year("ts")
    )
    materialize(ev, f"{tmpdir}/t", partition_by=["year"])
    dirs = [d for d in os.listdir(f"{tmpdir}/t") if d.startswith("year=")]
    assert dirs, "expected Hive-style partition directories"
    back = read_tier(spark, f"{tmpdir}/t")
    assert back.count() == ev.count()


def test_bucketed_tables_join_without_exchange(spark, sf_small, tmpdir):
    """Co-located join: two tables bucketed+sorted on the join key SMJ
    with zero exchanges and zero sorts — the pre-bucketing payoff that
    removes the dominant shuffle from every repeated key join at scale."""
    from lab3_lakehouse_spark.plans import analysis as pa
    from lab3_lakehouse_spark.sources.medallion import materialize_bucketed

    orders = load_table(spark, sf_small, "orders")
    customer = load_table(spark, sf_small, "customer")
    materialize_bucketed(
        orders, "b_orders", ["o_custkey"], 4,
        sort_cols=["o_custkey"], path=f"{tmpdir}/b_orders",
    )
    materialize_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", ["o_custkey"], 4,
        sort_cols=["o_custkey"], path=f"{tmpdir}/b_customer",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        assert pa.count_nodes(joined, "SortMergeJoin") == 1
        assert pa.count_nodes(joined, "Exchange") == 0
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_optimize_table_parquet_clustering(spark, sf_small, tmpdir):
    ev = load_table(spark, sf_small, "events")
    materialize(ev, f"{tmpdir}/t")
    strategy = optimize_table(spark, f"{tmpdir}/t", zorder_by=["user_id"])
    assert strategy == "parquet-linear-cluster"
    # rewritten in place: the tier itself holds the clustered layout
    assert os.listdir(tmpdir) == ["t"]
    clustered = read_tier(spark, f"{tmpdir}/t")
    assert clustered.count() == ev.count()
    # clustering means each file's user_id range is narrow: verify rows
    # are sorted within partitions by checking per-file min/max overlap
    stats = (
        clustered.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in stats)
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if a[1] > b[0]
    )
    assert overlaps <= len(spans) // 2, f"poor clustering: {spans}"


# -------------------------------------------------------------- streaming --

def test_streaming_tumbling_matches_batch(spark, sf_small):
    stream = sw.run_to_memory(
        sw.tumbling_counts(sw.stream_events(spark, sf_small), "1 hour"),
        spark,
        output_mode="complete",
    )
    ev = load_table(spark, sf_small, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    s = {(r.window_start, r.event_type, r.n_events) for r in stream.collect()}
    b = {(r.window_start, r.event_type, r.n_events) for r in batch.collect()}
    assert s == b


def test_streaming_session_matches_batch_session_window(spark, sf_small):
    stream = sw.run_to_memory(
        sw.session_windows(sw.stream_events(spark, sf_small), gap="30 minutes"),
        spark,
        output_mode="complete",
    )
    ev = load_table(spark, sf_small, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    s = {(r.session_start, r.user_id, r.n_events) for r in stream.collect()}
    b = {(r.w.start, r.user_id, r.n_events) for r in batch.collect()}
    assert s == b


def test_streaming_to_tier_foreachbatch(spark, sf_small, tmpdir):
    agg = sw.tumbling_counts(sw.stream_events(spark, sf_small), "1 hour")
    q = sw.to_tier(
        agg, f"{tmpdir}/gold_stream", f"{tmpdir}/ckpt", output_mode="complete"
    )
    q.awaitTermination()
    out = read_tier(spark, f"{tmpdir}/gold_stream")
    assert out.count() > 0
    assert {"window_start", "event_type", "n_events"} <= set(out.columns)


# --------------------------------------------------------------------- ML --

def test_rf_training_distributed(spark, sf_small):
    from lab3_lakehouse_spark.queries.parity import daily_revenue

    feats = ml.revenue_features(daily_revenue(spark, sf_small))
    n = feats.count()
    r = ml.train_random_forest(feats)
    assert r.n_train + r.n_test == n
    assert 0.6 < r.n_train / n < 0.95  # seeded 80/20 within tolerance
    for m in (r.mae, r.rmse, r.r2):
        assert math.isfinite(m)
    assert r.rmse >= r.mae > 0
    assert r.r2 <= 1.0


def test_rf_metrics_equal_regression_evaluator(spark):
    """The one-aggregate metrics equal RegressionEvaluator's mae, rmse
    and r2 on the same seeded test split, and n_test is its size."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler

    feats = spark.range(400).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("z"),
        (F.col("id") * 0.5 + F.hash("id") % 97).cast("double").alias("label"),
    )
    r = ml.train_random_forest(feats, num_trees=3)
    vec = VectorAssembler(inputCols=["x", "z"], outputCol="features").transform(
        feats
    ).select("features", "label").cache()
    try:
        _, test = vec.randomSplit([0.8, 0.2], seed=42)
        pred = r.model.transform(test)
        ev = RegressionEvaluator(labelCol="label", predictionCol="prediction")
        assert r.n_test == test.count()
        for name in ("mae", "rmse", "r2"):
            want = ev.setMetricName(name).evaluate(pred)
            assert getattr(r, name) == pytest.approx(want, rel=1e-9), name
    finally:
        vec.unpersist()


def test_rf_training_releases_its_cache(spark):
    """train_random_forest caches its assembled frame for the split and
    unpersists it before returning: the session holds as many cached
    RDDs after a call as before."""
    feats = spark.range(200).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2.0 + 1.0).alias("label"),
    )

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    ml.train_random_forest(feats, num_trees=3)
    assert n_cached() == before


def test_pandas_day_of_week_convention(spark):
    # 2024-03-04 is a Monday → pandas dayofweek 0; 2024-03-10 Sunday → 6
    df = spark.createDataFrame(
        [("2024-03-04",), ("2024-03-10",)], ["d"]
    ).withColumn("d", F.to_timestamp("d"))
    out = [r[0] for r in df.select(ml.pandas_day_of_week("d")).collect()]
    assert out == [0, 6]


def test_stateful_running_totals_matches_batch(spark, sf_small):
    """applyInPandasWithState: after AvailableNow drains the source, the
    last update per user must equal the batch groupBy totals."""
    from lab3_lakehouse_spark.streaming import stateful

    out = sw.run_to_memory(
        stateful.running_user_totals(sw.stream_events(spark, sf_small)),
        spark,
        output_mode="update",
    )
    # update mode may emit a user several times (one per batch touching
    # it); the final emission carries the running total -> take last per
    # user by max n_events
    import pandas as pd

    pdf = out.toPandas()
    final = pdf.sort_values("n_events").groupby("user_id").last()

    ev = load_table(spark, sf_small, "events")
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(batch)
    joined = final.join(batch, lsuffix="_s", rsuffix="_b")
    assert (joined.n_events_s == joined.n_events_b).all()
    assert (abs(joined.total_value_s - joined.total_value_b) < 1e-6).all()
    assert (joined.last_ts_s == joined.last_ts_b).all()


def test_morton_zorder_bounds_both_columns(spark, sf_small, tmpdir):
    """Morton clustering must narrow per-file ranges on BOTH columns;
    lexicographic clustering only bounds the leading one."""
    from lab3_lakehouse_spark.sources.medallion import optimize_table

    ev = load_table(spark, sf_small, "events")
    materialize(ev.repartition(8), f"{tmpdir}/t")
    strategy = optimize_table(
        spark, f"{tmpdir}/t", zorder_by=["user_id", "value"], target_partitions=6
    )
    assert strategy == "parquet-morton-cluster"
    assert os.listdir(tmpdir) == ["t"]
    clustered = read_tier(spark, f"{tmpdir}/t")
    assert clustered.count() == ev.count()

    stats = (
        clustered.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            F.min("user_id").alias("u_lo"), F.max("user_id").alias("u_hi"),
            F.min("value").alias("v_lo"), F.max("value").alias("v_hi"),
        )
        .toPandas()
    )
    if len(stats) < 2:
        pytest.skip("need >=2 output files to measure clustering")
    g = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    u_span, v_span = g[1] - g[0], g[3] - g[2]
    mean_u = ((stats.u_hi - stats.u_lo) / u_span).mean()
    mean_v = ((stats.v_hi - stats.v_lo) / v_span).mean()
    # each file should cover well under the full range in BOTH dims
    assert mean_u < 0.75 and mean_v < 0.75, (mean_u, mean_v, len(stats))


def test_to_pandas_guarded(spark, sf_small):
    from lab3_lakehouse_spark.collect import DriverCollectGuard, to_pandas_guarded

    ev = load_table(spark, sf_small, "events")
    small = to_pandas_guarded(ev.limit(10), max_rows=100)
    assert len(small) == 10
    with pytest.raises(DriverCollectGuard):
        to_pandas_guarded(ev, max_rows=10)


def test_watermark_drops_late_data_across_restarts(spark, tmpdir):
    """Late-data policy with the real-world shape: run 1 drains a batch
    whose max event time advances the watermark past window W0's end
    (committed to the checkpoint); an event for W0 arriving in run 2 —
    restored watermark 02:00 — must be dropped, so W0 is emitted with
    its pre-late count. (A single AvailableNow run plans all batches up
    front, so the in-run watermark can lag; checkpoint recovery is the
    contract that holds.)"""
    import os
    import time as _time

    import pandas as pd

    src = f"{tmpdir}/stream_src"
    out = f"{tmpdir}/out"
    ckpt = f"{tmpdir}/ckpt"
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write_file(name, minutes):
        pd.DataFrame(
            {
                "event_id": range(len(minutes)),
                "user_id": [1] * len(minutes),
                "event_type": ["click"] * len(minutes),
                "ts": [(base + pd.Timedelta(minutes=m)).value for m in minutes],
                "value": [1.0] * len(minutes),
                "props": ["{}"] * len(minutes),
            }
        ).to_parquet(f"{src}/{name}")
        _time.sleep(1.1)  # mtime is 1s-granular; order batches

    from lab3_lakehouse_spark.streaming.windows import EVENTS_RAW_SCHEMA

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: W0=[00:00,01:00) gets 2 events; max ts 03:00 -> watermark
    # 02:00 committed at run end
    write_file("b1.parquet", [5, 10, 180])
    run_once()
    # run 2: late event for W0 arrives; restored watermark drops it and
    # finalizes W0 with n=2
    write_file("b2.parquet", [20])
    run_once()

    got = {r.ws: r.n for r in spark.read.parquet(out).collect()}
    assert got.get(base.to_pydatetime()) == 2, got


def test_stream_stream_interval_join_matches_batch(spark, sf_small):
    """purchase⋈view interval join on the stream equals the same join
    expression in batch (drained with AvailableNow)."""
    from lab3_lakehouse_spark.streaming import joins as sj

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("p_id")
        )
        v = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        return p, v

    sp, sv = split(sw.stream_events(spark, sf_small))
    joined = sj.interval_join(
        sp, sv.withColumnRenamed("v_user", "user_id").withColumnRenamed("v_ts", "ts"),
        key="user_id", lookback="1 hour",
        left_ts="ts", right_ts="ts",
    ).select(F.col("l.p_id").alias("p_id"), F.col("r.v_id").alias("v_id"))
    stream_out = sw.run_to_memory(joined, spark, output_mode="append")

    ev = load_table(spark, sf_small, "events")
    bp, bv = split(ev)
    batch = bp.join(
        bv,
        on=[
            bp.user_id == bv.v_user,
            bv.v_ts <= bp.ts,
            bv.v_ts >= bp.ts - F.expr("INTERVAL 1 HOUR"),
        ],
    ).select("p_id", F.col("v_id"))
    got = {(r.p_id, r.v_id) for r in stream_out.collect()}
    want = {(r.p_id, r.v_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_dedup_first_wins(spark, sf_small):
    """Streaming dropDuplicates by key leaves exactly one row per key."""
    from lab3_lakehouse_spark.streaming import joins as sj

    deduped = sj.dedup_stream(
        sw.stream_events(spark, sf_small), keys=["user_id"]
    ).select("user_id", "event_id")
    out = sw.run_to_memory(deduped, spark, output_mode="append")
    ev = load_table(spark, sf_small, "events")
    n_users = ev.select("user_id").distinct().count()
    pdf = out.toPandas()
    assert len(pdf) == n_users
    assert pdf.user_id.nunique() == n_users


def test_compact_tier_rewrites_small_files(spark, sf_small, tmpdir):
    """A 64-way fragmented tier compacts to ceil(bytes/target) files
    with identical data."""
    import pyspark.sql.functions as F

    from lab3_lakehouse_spark.sources.medallion import compact_tier, read_tier

    ev = load_table(spark, sf_small, "events")
    ev.repartition(64).write.mode("overwrite").parquet(f"{tmpdir}/frag")
    want_sum = ev.agg(F.sum("user_id")).first()[0]
    stats = compact_tier(
        spark, f"{tmpdir}/frag", target_file_bytes=512 * 1024
    )
    assert stats["files_before"] == 64
    assert stats["files_after"] == stats["n_target"] < 64
    back = read_tier(spark, f"{tmpdir}/frag")
    assert back.count() == ev.count()
    assert back.agg(F.sum("user_id")).first()[0] == want_sum


def test_compact_tier_preserves_hive_partitions(spark, sf_small, tmpdir):
    import os

    import pyspark.sql.functions as F

    from lab3_lakehouse_spark.sources.medallion import compact_tier, read_tier

    ev = load_table(spark, sf_small, "events").withColumn(
        "etype", F.col("event_type")
    )
    ev.repartition(32).write.mode("overwrite").partitionBy("etype").parquet(
        f"{tmpdir}/part"
    )
    stats = compact_tier(
        spark, f"{tmpdir}/part", target_file_bytes=512 * 1024,
        partition_by=["etype"],
    )
    assert stats["files_after"] < stats["files_before"]
    dirs = [d for d in os.listdir(f"{tmpdir}/part") if d.startswith("etype=")]
    assert dirs, "Hive partition layout must survive compaction"
    assert read_tier(spark, f"{tmpdir}/part").count() == ev.count()


def test_dynamic_partition_overwrite_keeps_sibling_partitions(spark, sf_small, tmpdir):
    """Overwriting one partition's batch must not clobber the others
    (incremental backfill semantics)."""
    import pyspark.sql.functions as F

    from lab3_lakehouse_spark.sources.medallion import materialize, read_tier

    ev = load_table(spark, sf_small, "events")
    materialize(ev, f"{tmpdir}/dp", partition_by=["event_type"])
    full = read_tier(spark, f"{tmpdir}/dp").count()
    one_type = ev.filter(F.col("event_type") == "click").limit(10)
    materialize(
        one_type, f"{tmpdir}/dp", partition_by=["event_type"],
        dynamic_partition_overwrite=True,
    )
    back = read_tier(spark, f"{tmpdir}/dp")
    assert back.filter(F.col("event_type") == "click").count() == 10
    # non-click partitions untouched
    assert back.filter(F.col("event_type") != "click").count() == full - ev.filter(
        F.col("event_type") == "click"
    ).count()


def test_read_jsonl_explicit_schema_tolerant(spark, tmpdir):
    """JSONL source: explicit schema, absent fields → NULL, no
    inference scan."""
    import pyspark.sql.types as T

    path = os.path.join(tmpdir, "events.jsonl")
    with open(path, "w") as f:
        f.write('{"user_id": 1, "value": 2.5, "tag": "a"}\n')
        f.write('{"user_id": 2, "value": 7.0}\n')  # tag absent → NULL
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("tag", T.StringType()),
    ])
    df = ingest.read_jsonl(spark, path, schema=schema)
    rows = {r["user_id"]: (r["value"], r["tag"]) for r in df.collect()}
    assert rows == {1: (2.5, "a"), 2: (7.0, None)}
    with pytest.raises(ValueError):
        ingest.read_jsonl(spark, path)


def test_materialize_orc_roundtrip(spark, tmpdir):
    """Tier writes are format-parametric: ORC at rest reads back
    identically to parquet."""
    from lab3_lakehouse_spark.sources import medallion

    src = spark.range(100).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS v")
    path = os.path.join(tmpdir, "orc_tier")
    medallion.materialize(src, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == 100
    assert sorted(back.columns) == ["grp", "id", "v"]
    assert back.agg({"v": "sum"}).first()[0] == src.agg({"v": "sum"}).first()[0]


def test_bootstrap_sample_bounded_csv_handoff(spark, tmpdir):
    """S5: bounded sample from a parquet source lands as one CSV file
    and round-trips with the same row count."""
    out = os.path.join(tmpdir, "boot_csv")
    df = ingest.bootstrap_sample(
        spark, "/root/testdata/sf0.001/events.parquet", out, n_rows=250
    )
    assert df.count() == 250
    import glob
    parts = glob.glob(os.path.join(out, "*.csv"))
    assert len(parts) == 1  # single portable file
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 250


def test_streaming_throttle_keeps_spaced_clusters(spark, tmpdir):
    """dropDuplicatesWithinWatermark debounce: one survivor per burst;
    the key re-emits only after the WATERMARK passes its expiration
    (state eviction is watermark-driven, not wall-clock) — so the test
    stages three micro-batches: burst -> watermark-advancing traffic on
    another key -> the late same-key event, which then emits. This is
    the stream twin of operators/events.throttle; the batch twin
    carries the cross-engine oracle."""
    import datetime as dt
    import time

    from lab3_lakehouse_spark.streaming import joins as sj

    t0 = dt.datetime(2024, 9, 1, 12, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batches = [
        # burst on (1, click) inside the 5-min delay + a singleton key
        [(1, t0, 1, "click", 1.0, "{}"),
         (2, t0 + dt.timedelta(seconds=60), 1, "click", 1.0, "{}"),
         (3, t0 + dt.timedelta(seconds=120), 1, "click", 1.0, "{}"),
         (5, t0, 2, "view", 1.0, "{}")],
        # unrelated traffic advances the watermark to t0+15min ...
        [(6, t0 + dt.timedelta(minutes=20), 3, "view", 1.0, "{}")],
        # ... and a second batch lets the state cleanup (which runs at
        # batch end, AFTER lookups) actually evict (1, click)
        [(7, t0 + dt.timedelta(minutes=21), 4, "view", 1.0, "{}")],
        # same key again, far beyond the delay -> must re-emit
        [(4, t0 + dt.timedelta(minutes=30), 1, "click", 1.0, "{}")],
    ]
    src = f"{tmpdir}/events_stream"
    for rows in batches:
        spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mod-times keep file order = batch order
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    throttled = sj.throttle_stream(
        stream, keys=["user_id", "event_type"], watermark="5 minutes"
    ).select("event_id", "user_id", "event_type", "ts")
    out = sw.run_to_memory(throttled, spark, output_mode="append").toPandas()
    per_key = out.groupby(["user_id", "event_type"]).size().to_dict()
    assert per_key[(1, "click")] == 2  # burst collapsed + the re-emission
    assert per_key[(2, "view")] == 1 and per_key[(3, "view")] == 1
    assert sorted(out.event_id) == [1, 4, 5, 6, 7]


def test_orc_roundtrip_preserves_schema_and_partitions(spark, tmpdir, sf_small):
    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.sources import ingest

    orders = load_table(spark, sf_small, "orders")
    path = f"{tmpdir}/orders_orc"
    ingest.write_orc(orders, path, partition_by=["o_orderstatus"])
    back = ingest.read_orc(spark, path)
    assert set(back.columns) == set(orders.columns)
    assert back.count() == orders.count()
    # partition pruning: status filter must not read every file
    import glob
    assert glob.glob(f"{path}/o_orderstatus=*"), "partitioned layout expected"


def test_orc_scan_pushes_filters(spark, tmpdir, sf_small):
    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.plans import analysis as pa
    from lab3_lakehouse_spark.sources import ingest

    li = load_table(spark, sf_small, "lineitem")
    path = f"{tmpdir}/li_orc"
    ingest.write_orc(li, path)
    df = ingest.read_orc(spark, path).filter("l_quantity > 40").select("l_orderkey")
    assert pa.has_pushed_filter(df, "l_quantity"), pa.formatted_plan(df)


def test_text_corpus_ingest_content_addressed(spark, tmpdir):
    import os

    from lab3_lakehouse_spark.sources import ingest

    src = f"{tmpdir}/corpus_txt"
    os.makedirs(src)
    with open(f"{src}/a.txt", "w") as f:
        f.write("alpha beta\n\ngamma delta\n")
    with open(f"{src}/b.txt", "w") as f:
        f.write("alpha beta\n")
    docs = ingest.read_text_corpus(spark, src)
    rows = docs.collect()
    assert len(rows) == 3  # empty line dropped
    assert {r.text for r in rows} == {"alpha beta", "gamma delta"}
    # content-addressed identity: identical lines share a doc_hash
    hashes = {r.text: set() for r in rows}
    for r in rows:
        hashes[r.text].add(r.doc_hash)
    assert all(len(v) == 1 for v in hashes.values())
    assert all(r.source_file for r in rows)


def test_binary_media_ingest_metadata_without_decode(spark, tmpdir):
    import os

    from lab3_lakehouse_spark.sources import ingest

    src = f"{tmpdir}/media"
    os.makedirs(src)
    payload = bytes(range(64))
    with open(f"{src}/clip.fake", "wb") as f:
        f.write(payload)
    with open(f"{src}/skip.other", "wb") as f:
        f.write(b"xx")
    df = ingest.read_binary_media(spark, src, glob="*.fake")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].n_bytes == 64 and bytes(rows[0].content) == payload
    assert rows[0].media_id.endswith("clip.fake")


def test_avro_paths_are_env_gated(spark, tmpdir):
    import pytest as _pytest

    from lab3_lakehouse_spark.sources import ingest

    if ingest._avro_available(spark):  # pragma: no cover - jar present
        df = spark.range(3).withColumnRenamed("id", "x")
        ingest.write_avro(df, f"{tmpdir}/av")
        assert ingest.read_avro(spark, f"{tmpdir}/av").count() == 3
    else:
        with _pytest.raises(RuntimeError, match="spark-avro jar"):
            ingest.read_avro(spark, f"{tmpdir}/av")
        with _pytest.raises(RuntimeError, match="spark-avro jar"):
            ingest.write_avro(spark.range(1), f"{tmpdir}/av")


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_streaming_ingest_dedups_against_persisted_store(spark, tmpdir, scheme):
    """Continuous ingestion (streaming/ingest.py): files arrive one
    micro-batch at a time; exact copies die on the corpus fingerprint
    gate and near-dups die on the persisted LSH store probe — whichever
    order the files land in, exactly one representative of each content
    cluster survives. A file:// URI root must give the plain-path
    answer: the tier probes go through the Hadoop FileSystem, not
    os.path, which would read every persisted tier as empty."""
    import json as _json
    import os

    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/arrivals"
    out = f"{scheme}{tmpdir}/ingested"
    os.makedirs(src)

    base = "spark shuffle broadcast join window aggregate scan filter " \
           "partition codegen catalyst tungsten arrow pandas column row " \
           "batch stream state watermark trigger sink source schema plan"
    # doc 2 differs from doc 1 by an interior token edit (Jaccard 0.77
    # with 3-shingles — a genuine NON-duplicate under the 0.8 gate)
    docs1 = [
        {"doc_id": 1, "text": base, "source": "a"},
        {"doc_id": 2, "text": base.replace("arrow", "velox"), "source": "a"},
        {"doc_id": 3, "text": " ".join(sorted(set(base.split()))[:12]), "source": "b"},
    ]
    # 4 = exact copy of 1; 5 = near-dup of 1 (one token APPENDED —
    # 3-shingle Jaccard 22/24 = 0.92; an interior one-token EDIT would
    # only reach 0.77 and should survive the 0.8 gate); 6 = novel
    docs2 = [
        {"doc_id": 4, "text": base, "source": "c"},
        {"doc_id": 5, "text": base + " appendix", "source": "c"},
        {"doc_id": 6, "text": "entirely different tiny document", "source": "c"},
    ]
    with open(f"{src}/f1.json", "w") as f:
        f.write("\n".join(_json.dumps(d) for d in docs1))
    with open(f"{src}/f2.json", "w") as f:
        f.write("\n".join(_json.dumps(d) for d in docs2))

    q = st_ingest.stream_ingest_with_dedup(spark, src, out, threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = spark.read.parquet(f"{out}/corpus")
    rows = corpus.collect()
    # one survivor per content cluster: {1,4,5} collapse, 2, 3, 6 → 4 docs
    assert len(rows) == 4, rows
    assert corpus.select("fp").distinct().count() == 4
    texts = {r.text for r in rows}
    assert "entirely different tiny document" in texts
    # the store grew with exactly the survivors
    assert spark.read.parquet(f"{out}/store/hashes").count() == 4

    # a replayed/late drop of the same content is fully suppressed
    with open(f"{src}/f3.json", "w") as f:
        f.write("\n".join(_json.dumps(dict(d, doc_id=d["doc_id"] + 100))
                          for d in docs1 + docs2))
    q2 = st_ingest.stream_ingest_with_dedup(spark, src, out, threshold=0.8)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(f"{out}/corpus").count() == 4


def test_streaming_ingest_dedups_intra_batch_near_dups(spark, tmpdir):
    """ADVICE r5: two near-dup docs arriving IN THE SAME micro-batch
    must not both enter the corpus — the banded self-join over the
    batch catches pairs the store probe can't see (neither side is
    persisted yet), and the drop rule keeps the lowest doc_id."""
    import json as _json

    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/arrivals"
    out = f"{tmpdir}/ingested"
    os.makedirs(src)

    base = "spark shuffle broadcast join window aggregate scan filter " \
           "partition codegen catalyst tungsten arrow pandas column row " \
           "batch stream state watermark trigger sink source schema plan"
    docs = [
        {"doc_id": 11, "text": base + " appendix", "source": "a"},  # near-dup of 10
        {"doc_id": 10, "text": base, "source": "a"},
        {"doc_id": 12, "text": "entirely different tiny document", "source": "a"},
    ]
    with open(f"{src}/f1.json", "w") as f:
        f.write("\n".join(_json.dumps(d) for d in docs))

    q = st_ingest.stream_ingest_with_dedup(spark, src, out, threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = {r.doc_id for r in spark.read.parquet(f"{out}/corpus").collect()}
    # 10 and 11 are an intra-batch near-dup pair: lowest id survives
    assert ids == {10, 12}, ids
    # the store holds signatures for exactly the survivors
    assert {r["__id"] for r in spark.read.parquet(f"{out}/store/hashes").collect()} \
        == {10, 12}


def test_streaming_ingest_replay_after_partial_store_write(spark, tmpdir):
    """ADVICE r5 (medium): the crash-replay contract. Simulate a crash
    AFTER the store appends but BEFORE the corpus append (the exact
    window the store-first ordering creates), then replay the batch:
    the fp gate must not drop the doc (it never reached the corpus),
    the store probe must not match the doc to its own stored
    signatures, and the corpus append must complete — while the
    stranded signatures still dedup FUTURE near-dups."""
    import json as _json

    from lab3_lakehouse_spark.operators import dedup as dedup_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/arrivals"
    out = f"{tmpdir}/ingested"
    os.makedirs(src)

    base = "spark shuffle broadcast join window aggregate scan filter " \
           "partition codegen catalyst tungsten arrow pandas column row " \
           "batch stream state watermark trigger sink source schema plan"

    # Stage the partial state by hand: signatures for doc 1 in the
    # store, corpus absent — exactly what a crash between the store
    # writes and the corpus write leaves behind.
    staged = spark.createDataFrame(
        [(1, base)], ["doc_id", "text"]
    ).select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    dedup_ops.banded_signatures(staged).write.parquet(f"{out}/store/bands")
    staged.write.parquet(f"{out}/store/hashes")

    # The replayed arrival file: doc 1 again, plus a near-dup (2) and a
    # novel doc (3).
    docs = [
        {"doc_id": 1, "text": base, "source": "a"},
        {"doc_id": 2, "text": base + " appendix", "source": "a"},
        {"doc_id": 3, "text": "entirely different tiny document", "source": "a"},
    ]
    with open(f"{src}/f1.json", "w") as f:
        f.write("\n".join(_json.dumps(d) for d in docs))

    q = st_ingest.stream_ingest_with_dedup(spark, src, out, threshold=0.8)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = spark.read.parquet(f"{out}/corpus")
    ids = {r.doc_id for r in corpus.collect()}
    # doc 1 recovered into the corpus (NOT self-matched out of it);
    # doc 2 deduped against the stranded signatures; doc 3 novel
    assert ids == {1, 3}, ids
    assert corpus.filter(F.col("doc_id") == 1).count() == 1
    # store re-append for doc 1 is the harmless duplicate case
    hashes = spark.read.parquet(f"{out}/store/hashes")
    assert {r["__id"] for r in hashes.collect()} == {1, 3}


def test_stream_psi_monitor_alarms_on_planted_drift(spark, tmpdir):
    """Streaming drift monitor (streaming/monitor.py): batch matching
    the reference distribution stays quiet; a shifted batch alarms —
    and the streamed PSI equals the batch-form PSI on the same rows."""
    import datetime as _dt
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src = f"{tmpdir}/arrivals"
    out = f"{tmpdir}/mon"
    os.makedirs(src)

    ref = spark.createDataFrame(
        [(float(10 + (i % 5)),) for i in range(300)], ["value"]
    )

    def ev(i, v):
        return {"event_id": i, "ts": "2024-02-01T00:00:00", "user_id": 1,
                "event_type": "view", "value": v}

    # batch 0: same distribution as the reference → quiet
    with open(f"{src}/f0.json", "w") as f:
        f.write("\n".join(_json.dumps(ev(i, float(10 + (i % 5))))
                          for i in range(300)))
    q = st_mon.stream_psi_monitor(spark, src, out, ref)
    try:
        q.processAllAvailable()
        # batch 1: mass moved to the top bucket → alarm
        with open(f"{src}/f1.json", "w") as f:
            f.write("\n".join(_json.dumps(ev(1000 + i, float(460 + (i % 5))))
                              for i in range(300)))
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.batch_id: r for r in spark.read.parquet(f"{out}/psi").collect()}
    assert not rows[0].alarm and abs(rows[0].psi) < 0.01
    assert rows[1].alarm and rows[1].psi > 0.2
    assert rows[0].n_ref == 300 and rows[0].n_cur == 300

    # parity with the batch operator on the same rows
    from lab3_lakehouse_spark.operators import events as events_ops

    ref_day = _dt.datetime(2024, 1, 10)
    cur_day = _dt.datetime(2024, 2, 1)
    both = spark.createDataFrame(
        [(ref_day, float(10 + (i % 5))) for i in range(300)]
        + [(cur_day, float(460 + (i % 5))) for i in range(300)],
        ["ts", "value"],
    )
    batch_psi = (
        events_ops.value_drift_psi(both, split_ts="2024-01-16")
        .agg(F.sum("psi_term"))
        .first()[0]
    )
    assert abs(batch_psi - rows[1].psi) < 1e-9


def test_compact_signature_store_dedupes_and_preserves_probes(spark, tmpdir):
    """Replay-duplicated store rows must compact away without changing
    any probe's candidate set."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    base = "spark shuffle broadcast join window aggregate scan filter " \
           "partition codegen catalyst tungsten arrow pandas column row"
    docs = spark.createDataFrame(
        [(i, base.replace("arrow", f"tok{i}")) for i in range(10)],
        ["doc_id", "text"],
    )
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    store = f"{tmpdir}/store"
    compacted = f"{tmpdir}/store_gc"
    # simulate two crash-replays: three identical appends
    for _ in range(3):
        dedup_ops.minhash_store_append(store, hashed)

    probe = docs.filter("doc_id = 0").select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    before = sorted(
        (r.id_a, r.id_b)
        for r in dedup_ops.minhash_candidates_vs_bands(
            probe, spark.read.parquet(f"{store}/bands")
        ).collect()
    )
    stats = dedup_ops.compact_signature_store(spark, store, compacted)
    assert stats["bands_before"] == 3 * stats["bands_after"]
    assert stats["hashes_before"] == 3 * stats["hashes_after"]
    assert stats["hashes_after"] == 10
    # GC wrote a NEW root; the live store is untouched
    assert spark.read.parquet(f"{store}/bands").count() == (
        stats["bands_before"]
    )
    after = sorted(
        (r.id_a, r.id_b)
        for r in dedup_ops.minhash_candidates_vs_bands(
            probe, spark.read.parquet(f"{compacted}/bands")
        ).collect()
    )
    assert before == after


def test_stream_cusum_monitor_accumulates_across_batches(spark, tmpdir):
    """Streaming CUSUM (streaming/monitor.py): a batch at the reference
    level stays quiet; a small sustained shift accumulates ACROSS
    micro-batches until S+ crosses h — the cross-batch state the PSI
    monitor deliberately doesn't carry."""
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src = f"{tmpdir}/arrivals"
    out = f"{tmpdir}/mon"
    os.makedirs(src)

    # reference mean = 100; k = 2, h = 15
    ref = spark.createDataFrame([(100.0,)] * 200, ["value"])

    def ev(i, v):
        return {"event_id": i, "ts": "2024-02-01T00:00:00", "user_id": 1,
                "event_type": "view", "value": v}

    def write_batch(name, base, v):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(_json.dumps(ev(base + i, v)) for i in range(50)))

    q = st_mon.stream_cusum_monitor(spark, src, out, ref,
                                    k_frac=0.02, h_frac=0.15)
    try:
        write_batch("f0", 0, 100.0)    # on-level → S+ = S- = 0
        q.processAllAvailable()
        write_batch("f1", 100, 110.0)  # +10: S+ = 8, below h
        q.processAllAvailable()
        write_batch("f2", 200, 110.0)  # S+ = 16 > 15 → alarm
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.batch_id: r for r in spark.read.parquet(f"{out}/cusum").collect()}
    assert rows[0].cusum_pos == 0.0 and not rows[0].alarm
    assert rows[1].cusum_pos == pytest.approx(8.0) and not rows[1].alarm
    assert rows[2].cusum_pos == pytest.approx(16.0) and rows[2].alarm
    assert rows[2].n_events == 50 and rows[2].batch_mean == pytest.approx(110.0)

    # the O(1) latest-row sidecar holds exactly the newest tier row
    side = spark.read.parquet(f"{out}/cusum_latest").collect()
    assert len(side) == 1 and side[0].batch_id == 2
    assert side[0].cusum_pos == pytest.approx(16.0)

    row_schema = (
        "batch_id long, n_events long, batch_mean double, "
        "cusum_pos double, cusum_neg double, alarm boolean"
    )

    def restart_with(tampered_row, fname, base):
        """Plant a sidecar, restart on the SAME checkpoint, feed one
        batch, return the appended row — proves which predecessor path
        the batch actually took."""
        spark.createDataFrame([tampered_row], row_schema).write.mode(
            "overwrite"
        ).parquet(f"{out}/cusum_latest")
        write_batch(fname, base, 110.0)
        q2 = st_mon.stream_cusum_monitor(spark, src, out, ref,
                                         k_frac=0.02, h_frac=0.15)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        return {r.batch_id: r for r in
                spark.read.parquet(f"{out}/cusum").collect()}

    # common path: a VALID sidecar (batch_id < current) is the state
    # source — plant divergent values and watch them propagate
    r3 = restart_with((2, 50, 110.0, 100.0, 0.0, True), "f3", 300)
    assert r3[3].cusum_pos == pytest.approx(108.0)  # 100 + (110-100-2)

    # replay/restart fallback: a sidecar at/above the current batch_id
    # (its own row from a prior attempt) must be IGNORED and the true
    # predecessor re-read from the tier — bogus values never propagate
    r4 = restart_with((99, 50, 110.0, 999.0, 999.0, True), "f4", 400)
    assert r4[4].cusum_pos == pytest.approx(116.0)  # 108 + 8, not 1007


def test_stream_rate_mix_equals_batch_materializer(spark, tmpdir):
    """Streaming mixture == batch materialize_rate_mix over the same
    rows (the draw is a pure function of doc_id), across two arrival
    files with whole, fractional and zero rates."""
    import json as _json

    from lab3_lakehouse_spark.operators import sampling as sample_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src, out = f"{tmpdir}/arrivals", f"{tmpdir}/mix"
    os.makedirs(src)
    rows = [
        {"doc_id": i, "text": f"doc {i}", "source": ["lo", "hi", "no"][i % 3]}
        for i in range(90)
    ]
    for half, name in ((rows[:45], "f0"), (rows[45:], "f1")):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(_json.dumps(r) for r in half))
    rates = spark.createDataFrame(
        [("lo", 0.4), ("hi", 1.6), ("no", 0.0)], ["source", "boost"]
    )
    q = st_ingest.stream_rate_mix(spark, src, out, rates)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(
        (r.doc_id, r.copy)
        for r in spark.read.parquet(f"{out}/mixture").collect()
    )
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in rows],
        ["doc_id", "text", "source"],
    )
    expected = sorted(
        (r.doc_id, r.copy)
        for r in sample_ops.materialize_rate_mix(
            batch, rates, id_col="doc_id", source_col="source"
        ).collect()
    )
    assert streamed == expected
    # rate 0.0 sources emit nothing; rate 1.6 always at least one copy
    assert all(d % 3 != 2 for d, _ in streamed)
    hi = {d for d, _ in streamed if d % 3 == 1}
    assert hi == {i for i in range(90) if i % 3 == 1}


def test_stream_chi2_monitor_alarms_on_mix_shift(spark, tmpdir):
    """Streaming chi-square mix monitor: a batch matching the reference
    category mix stays quiet; a batch with the mix inverted alarms.
    Stateless per batch → row values depend only on that batch."""
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/arrivals", f"{tmpdir}/mon"
    os.makedirs(src)
    # reference: 80% view / 20% purchase
    ref = spark.createDataFrame(
        [("view",)] * 160 + [("purchase",)] * 40, ["event_type"]
    )

    def ev(i, et):
        return {"event_id": i, "ts": "2024-02-01T00:00:00", "user_id": 1,
                "event_type": et, "value": 1.0}

    def write_batch(name, base, types):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(
                _json.dumps(ev(base + i, t)) for i, t in enumerate(types)))

    q = st_mon.stream_chi2_monitor(spark, src, out, ref,
                                   alarm_threshold=3.841)  # df=1, p=0.05
    try:
        write_batch("f0", 0, ["view"] * 80 + ["purchase"] * 20)   # matches
        q.processAllAvailable()
        write_batch("f1", 100, ["view"] * 20 + ["purchase"] * 80)  # inverted
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.batch_id: r for r in spark.read.parquet(f"{out}/chi2").collect()}
    assert rows[0].n_events == 100 and not rows[0].alarm
    assert rows[1].n_events == 100 and rows[1].alarm
    assert rows[1].chi2 > 10 * max(rows[0].chi2, 0.01)


def test_stream_mix_monitor_alarms_on_share_drift(spark, tmpdir):
    """Streaming mixture-share monitor: a batch delivering the target
    per-source token shares stays quiet; a batch where one source
    under-delivers (and one over-delivers) alarms, and the worst
    offender is named. Stateless per batch."""
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/docs", f"{tmpdir}/mixmon"
    os.makedirs(src)
    # targets: web 0.75, books 0.25 (by tokens; every doc = 4 tokens)
    targets = spark.createDataFrame(
        [("web", 0.75), ("books", 0.25)], ["source", "target_share"]
    )

    def doc(i, source):
        return {"doc_id": i, "text": "a b c d", "source": source}

    def write_batch(name, base, sources):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(
                _json.dumps(doc(base + i, s)) for i, s in enumerate(sources)))

    q = st_mon.stream_mix_monitor(spark, src, out, targets,
                                  drift_threshold=0.05)
    try:
        write_batch("f0", 0, ["web"] * 75 + ["books"] * 25)    # on target
        q.processAllAvailable()
        write_batch("f1", 100, ["web"] * 95 + ["books"] * 5)   # web over
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.batch_id: r for r in
            spark.read.parquet(f"{out}/mixshare").collect()}
    assert rows[0].n_docs == 100 and rows[0].n_tokens == 400
    assert rows[0].max_share_drift == 0.0 and not rows[0].alarm
    assert rows[1].alarm and rows[1].max_share_drift == 0.2
    assert rows[1].worst_source in ("web", "books")


def test_stream_mix_monitor_counts_absent_source(spark, tmpdir):
    """A source that stops arriving entirely must still drift against
    its target (achieved share 0), not vanish from the audit."""
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/docs", f"{tmpdir}/mixmon"
    os.makedirs(src)
    targets = spark.createDataFrame(
        [("web", 0.5), ("books", 0.5)], ["source", "target_share"]
    )
    with open(f"{src}/f0.json", "w") as f:
        f.write("\n".join(
            _json.dumps({"doc_id": i, "text": "x y", "source": "web"})
            for i in range(10)))
    q = st_mon.stream_mix_monitor(spark, src, out, targets,
                                  drift_threshold=0.4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = spark.read.parquet(f"{out}/mixshare").collect()[0]
    assert row.max_share_drift == 0.5 and row.alarm


def test_stream_kll_store_merges_to_bounded_rank_error(spark, tmpdir):
    """Streaming KLL tier: two micro-batches append their compactor
    rows; the store merge must estimate quantiles of EVERYTHING seen
    so far within the contract rank bound, and re-merging the same
    store must be deterministic."""
    import json as _json

    import numpy as np

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/events", f"{tmpdir}/kllmon"
    os.makedirs(src)
    rng = np.random.RandomState(21)
    all_vals = []

    def write_batch(name, base, vals):
        all_vals.extend(vals)
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(_json.dumps(
                {"event_id": base + i, "ts": "2024-02-01T00:00:00",
                 "user_id": 1, "event_type": "view", "value": float(v)})
                for i, v in enumerate(vals)))

    q = st_mon.stream_kll_quantiles(spark, src, out, k=128, shards=4)
    try:
        write_batch("f0", 0, rng.exponential(10.0, size=3000))
        q.processAllAvailable()
        write_batch("f1", 10000, rng.exponential(50.0, size=3000))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["q"]: r["est"]
           for r in st_mon.kll_store_quantiles(
               spark, out, [0.1, 0.5, 0.9], k=128, shards=4).collect()}
    assert len(got) == 3
    srt = np.sort(np.asarray(all_vals))
    n = len(srt)
    for qv, est in got.items():
        rank = np.searchsorted(srt, est, side="right")
        assert abs(rank - qv * n) <= 0.015 * n + 1, (qv, est)
    again = {r["q"]: r["est"]
             for r in st_mon.kll_store_quantiles(
                 spark, out, [0.1, 0.5, 0.9], k=128, shards=4).collect()}
    assert again == got


def test_stream_bm25_append_equals_one_shot(spark, tmpdir):
    """The streamed BM25 index (one append per micro-batch) must score
    identically to the one-shot scorer over the same corpus — the
    unified-API parity claim applied to the postings STORE."""
    import json as _json

    import numpy as np

    from lab3_lakehouse_spark.operators import text as text_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/bm25_arrivals"
    store = f"{tmpdir}/bm25_store"
    os.makedirs(src)
    rng = np.random.RandomState(31)
    vocab = [f"w{i}" for i in range(40)]
    docs = [
        {
            "doc_id": i,
            "text": " ".join(rng.choice(vocab, size=25)),
            "source": "s",
        }
        for i in range(30)
    ]
    for chunk in range(3):
        with open(f"{src}/f{chunk}.json", "w") as f:
            f.write(
                "\n".join(
                    _json.dumps(d) for d in docs[chunk * 10 : chunk * 10 + 10]
                )
            )

    q = st_ingest.stream_bm25_append(spark, src, store,
                                     max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # three micro-batches → three meta rows (one per append)
    assert spark.read.parquet(f"{store}/meta").count() == 3

    docs_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], ["doc_id", "text"]
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    queries = (
        docs_df.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice(toks, 1, 4)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("qtf"))
    )
    got = (
        text_ops.bm25_topk_from_store(spark, store, queries, k=5)
        .orderBy("query_id", "rank").collect()
    )
    want = (
        text_ops.bm25_topk(docs_df, queries, k=5)
        .orderBy("query_id", "rank").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stream_conversion_monitor_alarms_on_rate_shift(spark, tmpdir):
    """Streaming conversion-rate monitor: a batch at the reference rate
    stays quiet; a batch with the rate tripled alarms with z > 0.
    Stateless per batch; degenerate pools emit NULL z, no alarm."""
    import json as _json

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/arrivals", f"{tmpdir}/mon"
    os.makedirs(src)
    # reference: 10% high-value-purchase rate over 400 events
    ref_rows = [("purchase", 200.0)] * 40 + [("click", 1.0)] * 360
    ref = spark.createDataFrame(ref_rows, ["event_type", "value"])

    def ev(i, et, v):
        return {"event_id": i, "ts": "2024-02-01T00:00:00", "user_id": 1,
                "event_type": et, "value": v}

    def write_batch(name, base, pairs):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(
                _json.dumps(ev(base + i, et, v))
                for i, (et, v) in enumerate(pairs)))

    q = st_mon.stream_conversion_monitor(spark, src, out, ref)
    try:
        # batch 0: matches the 10% rate
        write_batch("f0", 0, [("purchase", 200.0)] * 20
                    + [("click", 1.0)] * 180)
        q.processAllAvailable()
        # batch 1: rate tripled to 30%
        write_batch("f1", 1000, [("purchase", 200.0)] * 60
                    + [("click", 1.0)] * 140)
        q.processAllAvailable()
        # batch 2: low-value purchases only -> conversions 0, rate 0
        write_batch("f2", 2000, [("purchase", 50.0)] * 100)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.batch_id: r for r in
            spark.read.parquet(f"{out}/conversion").collect()}
    assert rows[0].n_events == 200 and rows[0].n_conv == 20
    assert not rows[0].alarm
    assert rows[1].n_conv == 60 and rows[1].alarm and rows[1].z > 1.96
    assert rows[2].n_conv == 0 and rows[2].rate == 0.0
    # a zero-conversion batch against a nonzero reference is a genuine
    # (negative) shift — pooled z is defined and strongly negative
    assert rows[2].z < -1.96 and rows[2].alarm


def test_stream_conversion_monitor_replay_duplicates_identically(
    spark, tmpdir
):
    """The monitor's replay contract (its docstring's stateless claim,
    pinned): wipe the checkpoint and restart over the SAME source — the
    at-least-once worst case, every batch re-delivered — and each
    batch_id's sidecar rows must be exact duplicates of the first
    delivery (the row is deterministic in batch contents + frozen
    reference), so the documented consumer de-dup on batch_id restores
    the original sidecar verbatim."""
    import json as _json
    import shutil as _shutil

    from lab3_lakehouse_spark.streaming import monitor as st_mon

    src, out = f"{tmpdir}/arrivals_rp", f"{tmpdir}/mon_rp"
    os.makedirs(src)
    ref = spark.createDataFrame(
        [("purchase", 200.0)] * 40 + [("click", 1.0)] * 360,
        ["event_type", "value"],
    )

    def write_batch(name, base, pairs):
        with open(f"{src}/{name}.json", "w") as f:
            f.write("\n".join(
                _json.dumps({"event_id": base + i,
                             "ts": "2024-02-01T00:00:00", "user_id": 1,
                             "event_type": et, "value": v})
                for i, (et, v) in enumerate(pairs)))

    write_batch("f0", 0, [("purchase", 200.0)] * 20 + [("click", 1.0)] * 180)
    write_batch("f1", 1000, [("purchase", 200.0)] * 60
                + [("click", 1.0)] * 140)
    for _run in range(2):
        q = st_mon.stream_conversion_monitor(spark, src, out, ref)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # losing the checkpoint forces full re-delivery on restart —
        # the at-least-once replay the foreachBatch contract must absorb
        _shutil.rmtree(f"{out}/_checkpoint")
    rows = spark.read.parquet(f"{out}/conversion").collect()
    assert len(rows) == 4  # 2 batches × 2 deliveries
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(tuple(r))
    assert set(by_batch) == {0, 1}
    for bid, pair in by_batch.items():
        assert len(pair) == 2 and pair[0] == pair[1], (bid, pair)
    # consumer contract: de-dup on batch_id == the single-delivery sidecar
    dedup = (
        spark.read.parquet(f"{out}/conversion")
        .dropDuplicates(["batch_id"])
        .collect()
    )
    assert len(dedup) == 2


def test_stream_phash_append_equals_batch_pairs(spark, tmpdir):
    """The streamed signature tier (one decode pass per micro-batch)
    must produce the SAME near-dup pair set as the decode-per-call
    batch path — the unified-API parity claim applied to the media
    store. With this writer every persisted-store family has a
    streaming lid."""
    import json as _json

    from lab3_lakehouse_spark.operators import multimodal as mm_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src, store = f"{tmpdir}/phash_src", f"{tmpdir}/phash_store"
    os.makedirs(src)
    docs = [(i, f"site{i % 5}", f"s{i % 3}") for i in range(30)]
    for part in range(2):
        with open(f"{src}/f{part}.json", "w") as f:
            f.write("\n".join(
                _json.dumps({"doc_id": d, "text": t, "source": s})
                for d, t, s in docs if d % 2 == part))
    q = st_ingest.stream_phash_append(spark, src, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.id_a, r.id_b)
        for r in mm_ops.phash_pairs_from_store(
            spark, store, max_hamming=6
        ).collect()
    )
    batch = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    want = sorted(
        (r.id_a, r.id_b)
        for r in mm_ops.media_phash_pairs(
            mm_ops.text_as_binary(batch, "text", "content"),
            id_col="doc_id", binary_col="content", max_hamming=6,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_stream_ivfpq_append_equals_batch_store(spark, tmpdir):
    """The streamed dense index (metadata fitted once, per-micro-batch
    cell-assign + PQ-encode appends) must probe identically to a
    batch-appended store sharing the same fit — stream-equals-batch
    for the IVF-PQ family."""
    import json as _json

    import numpy as np

    from lab3_lakehouse_spark.operators import similarity as sim_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    rng = np.random.RandomState(17)
    centers = rng.normal(size=(4, 16))
    rows = [
        (i, [float(x) for x in centers[i % 4] + 0.1 * rng.normal(size=16)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    src = f"{tmpdir}/ivfpq_src"
    s_store, b_store = f"{tmpdir}/ivfpq_stream", f"{tmpdir}/ivfpq_batch"
    os.makedirs(src)
    # identical deterministic fit for both stores (same train, same seed)
    for root in (s_store, b_store):
        sim_ops.ivfpq_store_init(
            root, emb, "vec_id", "embedding",
            n_centroids=4, dim=16, m=4, n_codes=8,
        )
    for part in range(2):
        with open(f"{src}/f{part}.json", "w") as f:
            f.write("\n".join(
                _json.dumps({"vec_id": vid, "embedding": vec})
                for vid, vec in rows if vid % 2 == part))
    q = st_ingest.stream_ivfpq_append(spark, src, s_store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sim_ops.ivfpq_store_append(spark, b_store, emb, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 3)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim_ops.ivfpq_store_topk(
            spark, s_store, emb, queries, "vec_id", "embedding",
            k=5, n_probe=2, rerank=40,
        ).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim_ops.ivfpq_store_topk(
            spark, b_store, emb, queries, "vec_id", "embedding",
            k=5, n_probe=2, rerank=40,
        ).collect()
    )
    assert got == want and len(got) == 15


def test_stream_ivfpq_append_accepts_uri_store_root(spark, tmpdir):
    """The stream's store-initialized check probes through the Hadoop
    FileSystem: a ``file://`` store root that ivfpq_store_init has
    populated starts ingesting (an os.path check rejected every URI
    root — s3a://, hdfs://, file:// — as uninitialized), and a root
    with no tiers still fails at setup naming the ordering rule."""
    import json as _json

    import numpy as np

    from lab3_lakehouse_spark import stores
    from lab3_lakehouse_spark.operators import similarity as sim_ops
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    src = f"{tmpdir}/ivfpq_uri_src"
    os.makedirs(src)
    with open(f"{src}/f0.json", "w") as f:
        f.write("\n".join(
            _json.dumps({"vec_id": vid, "embedding": vec}) for vid, vec in rows
        ))
    root = f"file://{tmpdir}/ivfpq_uri_store"
    sim_ops.ivfpq_store_init(
        root, emb, "vec_id", "embedding", n_centroids=2, dim=8, m=2, n_codes=4,
    )
    q = st_ingest.stream_ivfpq_append(spark, src, root)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert stores.read_tier(spark, root, "codes").count() == 40
    with pytest.raises(ValueError, match="run ivfpq_store_init BEFORE"):
        st_ingest.stream_ivfpq_append(spark, src, f"file://{tmpdir}/no_store")


def test_stream_sample_append_equals_one_shot_draw(spark, tmpdir):
    """The streamed uniform-sample tier (bottom-k append per
    micro-batch, streaming/ingest.stream_sample_append) must draw the
    IDENTICAL sample as a single batch append over the same corpus —
    the stream-equals-batch parity claim applied to the sample store,
    plus replay idempotence (re-running the drained stream source
    through a fresh checkpoint appends byte-identical rows and the
    draw is unchanged)."""
    import json as _json

    from lab3_lakehouse_spark.operators import sampling
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/sample_arrivals"
    store = f"{tmpdir}/sample_store"
    once = f"{tmpdir}/sample_once"
    os.makedirs(src)
    docs = [
        {"doc_id": i, "text": f"doc {i}", "source": "s"} for i in range(90)
    ]
    for chunk in range(3):
        with open(f"{src}/f{chunk}.json", "w") as f:
            f.write(
                "\n".join(
                    _json.dumps(d) for d in docs[chunk * 30 : chunk * 30 + 30]
                )
            )
    q = st_ingest.stream_sample_append(
        spark, src, store, k=16, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs_df = spark.createDataFrame(
        [(d["doc_id"],) for d in docs], ["doc_id"]
    )
    sampling.sample_store_append(once, docs_df, "doc_id", k=16)
    got = [
        tuple(r)
        for r in sampling.sample_store_draw(spark, store, k=16).collect()
    ]
    want = [
        tuple(r)
        for r in sampling.sample_store_draw(spark, once, k=16).collect()
    ]
    assert got == want and len(got) == 16
    # replay: a fresh checkpoint re-delivers every file; the draw is
    # unchanged (deterministic rows, id-dedup on read)
    import shutil

    shutil.rmtree(f"{store}/_checkpoint")
    q2 = st_ingest.stream_sample_append(
        spark, src, store, k=16, max_files_per_trigger=2
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = [
        tuple(r)
        for r in sampling.sample_store_draw(spark, store, k=16).collect()
    ]
    assert again == want


def test_stream_split_assignment_statuses_order_and_replay(spark, tmpdir):
    """Planted store-backed streaming split assignment: inherit /
    fresh / bridged-or-conflict statuses against a hand-built corpus
    index, invariance to micro-batch boundaries AND arrival order
    (frozen-index design), replay idempotence, and the documented
    boundary — two intra-stream near-dups each hash fresh (the batch
    op owns them at re-index time)."""
    import json as _json
    import shutil

    from lab3_lakehouse_spark import stores
    from lab3_lakehouse_spark.operators import dedup as dedup_ops
    from lab3_lakehouse_spark.operators.sketches import portable_hash60
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    n = [f"n{i}" for i in range(1, 41)]
    u = [f"u{i}" for i in range(1, 31)]
    q = [f"q{i}" for i in range(1, 32)]
    corpus = {
        1: " ".join(n[:36]),            # comp 1 (with 2)
        2: " ".join([*n[:36], "x1"]),
        11: " ".join(n[4:40]),          # comp 11 (J(1,11)=30/38 < 0.8)
        31: " ".join(u),                # comp 31 (with 32)
        32: " ".join([*u, "x2"]),
        21: "s1 s2 s3 s4 s5 s6",        # singleton
    }
    comp_of = {1: 1, 2: 1, 11: 11, 31: 31, 32: 31, 21: 21}
    batch = {
        5: " ".join(u),                 # inherits comp 31
        10: " ".join(q[:30]),           # intra-stream near-dup pair:
        20: " ".join(q),                # each FRESH (frozen index)
        15: "r1 r2 r3 r4 r5 r6",        # fresh singleton
        25: " ".join(n),                # bridges comps 1 and 11
    }

    store = f"{tmpdir}/split_store"
    corpus_df = spark.createDataFrame(
        list(corpus.items()), ["doc_id", "text"]
    )
    hashed = corpus_df.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    dedup_ops.minhash_store_append(store, hashed)
    stores.append_rows(
        spark.createDataFrame(
            list(comp_of.items()), ["doc_id", "component"]
        ),
        store,
        "assign",
        buckets=1,
    )

    def write_src(path, order):
        os.makedirs(path)
        for i, doc_id in enumerate(order):
            with open(f"{path}/f{i}.json", "w") as f:
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "text": batch[doc_id],
                         "source": "s"}
                    )
                )

    def run(src, trigger=1):
        sq = st_ingest.stream_split_assignment(
            spark, src, store, max_files_per_trigger=trigger
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        return {
            r.doc_id: (r.component, r.n_matched_components, r.split,
                       r.status)
            for r in stores.read_tier(spark, store, "stream_assign")
            .dropDuplicates(["doc_id"])
            .collect()
        }

    src1 = f"{tmpdir}/arrivals_1"
    write_src(src1, [5, 10, 20, 15, 25])
    out = run(src1)
    assert sorted(out) == [5, 10, 15, 20, 25]

    splits = {
        r.c: r.s
        for r in spark.createDataFrame(
            [(c,) for c in [1, 11, 31, 10, 15, 20]], ["c"]
        )
        .select(
            "c",
            F.when(portable_hash60(F.col("c"), 71) % 10 < 8, "train")
            .otherwise("val")
            .alias("s"),
        )
        .collect()
    }
    assert out[5] == (31, 1, splits[31], "inherited")
    assert out[15] == (15, 0, splits[15], "fresh")
    # intra-stream near-dups each hash fresh against the frozen index
    # — the documented boundary the batch op closes at re-index time
    assert out[10] == (10, 0, splits[10], "fresh")
    assert out[20] == (20, 0, splits[20], "fresh")
    expected = "bridged" if splits[1] == splits[11] else "conflict"
    assert out[25] == (1, 2, splits[1], expected)

    # replay into the same tier (fresh checkpoint): rows identical,
    # dedup-by-id reader unchanged
    shutil.rmtree(f"{store}/_checkpoint")
    assert run(src1, trigger=2) == out
    # different arrival order and batching: identical assignment
    src2 = f"{tmpdir}/arrivals_2"
    write_src(src2, [25, 15, 20, 10, 5])
    shutil.rmtree(f"{store}/_checkpoint")
    assert run(src2, trigger=3) == out


def test_stream_weighted_sample_append_equals_one_shot_draw(spark, tmpdir):
    """Stream-equals-batch parity for the WEIGHTED sample tier: the
    streamed per-micro-batch top-k priorities must draw the identical
    weighted sample as one batch append over the same corpus."""
    import json as _json

    from lab3_lakehouse_spark.operators import sampling
    from lab3_lakehouse_spark.streaming import ingest as st_ingest

    src = f"{tmpdir}/wsample_arrivals"
    store = f"{tmpdir}/wsample_store"
    once = f"{tmpdir}/wsample_once"
    os.makedirs(src)
    docs = [
        {"doc_id": i, "text": "x" * (5 + (i * 11) % 60), "source": "s"}
        for i in range(90)
    ]
    for chunk in range(3):
        with open(f"{src}/f{chunk}.json", "w") as f:
            f.write(
                "\n".join(
                    _json.dumps(d) for d in docs[chunk * 30 : chunk * 30 + 30]
                )
            )
    q = st_ingest.stream_weighted_sample_append(
        spark, src, store, k=16, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    docs_df = spark.createDataFrame(
        [(d["doc_id"], len(d["text"])) for d in docs], ["doc_id", "n_chars"]
    )
    sampling.weighted_sample_store_append(
        once, docs_df, "doc_id", "n_chars", k=16
    )
    got = [
        tuple(r)
        for r in sampling.weighted_sample_store_draw(
            spark, store, k=16
        ).collect()
    ]
    want = [
        tuple(r)
        for r in sampling.weighted_sample_store_draw(
            spark, once, k=16
        ).collect()
    ]
    assert got == want and len(got) == 16
