"""The reference workload (`mavikulov/Lab3-Lakehouse`), end-to-end on
the engine — what a user of the reference runs after switching.

Reference pipeline (src/etl_pipeline.py:196-201):
    CSV → bronze (raw + ts parse + year/month partitions)
        → silver (typed + quality-filtered + clustered)
        → gold   (daily revenue by location, hourly demand)
        → RandomForest on the gold table, MAE/RMSE/R²

Differences by design (SURVEY §7):
    - explicit schema instead of inferSchema (single-pass read),
    - one `observe`-based quality report instead of 3 extra count() scans,
    - in-place clustering via Morton/linear sort (Delta Z-order when
      available),
    - distributed spark.ml RF instead of toPandas → sklearn.

Run: ``python examples/reference_pipeline.py [csv_path] [work_dir]``
(without args it generates a small taxi-shaped CSV first).
"""

from __future__ import annotations

import shutil
import sys
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from lab3_lakehouse_spark.engine import LakehouseEngine
from lab3_lakehouse_spark.ml import regression as ml
from lab3_lakehouse_spark.operators import quality
from lab3_lakehouse_spark.session import build_session
from lab3_lakehouse_spark.sources import ingest
from lab3_lakehouse_spark.sources.medallion import materialize, read_tier

#: the reference's silver contract (utils.py:17-24), taxi column names
TAXI_SCHEMA = T.StructType(
    [
        T.StructField("tpep_pickup_datetime", T.StringType()),
        T.StructField("tpep_dropoff_datetime", T.StringType()),
        T.StructField("passenger_count", T.StringType()),
        T.StructField("trip_distance", T.StringType()),
        T.StructField("PULocationID", T.StringType()),
        T.StructField("DOLocationID", T.StringType()),
        T.StructField("fare_amount", T.StringType()),
        T.StructField("total_amount", T.StringType()),
    ]
)

SILVER_CASTS = {
    "passenger_count": "int",
    "PULocationID": "int",
    "DOLocationID": "int",
    "trip_distance": "float",
    "fare_amount": "float",
    "total_amount": "float",
}


def quality_predicates(df):
    """utils.py:27-33 + 43-46: positivity, col-vs-col, derived range."""
    dur = (
        F.col("tpep_dropoff_datetime").cast("long")
        - F.col("tpep_pickup_datetime").cast("long")
    ) / 60.0
    return {
        "fare_positive": F.col("fare_amount") > 0,
        "distance_positive": F.col("trip_distance") > 0,
        "passengers_positive": F.col("passenger_count") > 0,
        "total_positive": F.col("total_amount") > 0,
        "pickup_before_dropoff": F.col("tpep_pickup_datetime")
        < F.col("tpep_dropoff_datetime"),
        "duration_range": (dur > 0) & (dur < 180),
    }


def generate_sample_csv(path: str, n: int = 20_000) -> None:
    """Stand-in for src/download_dataset.py (no network here)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(42)
    base = pd.Timestamp("2023-01-01")
    pickup = base + pd.to_timedelta(rng.randint(0, 28 * 24 * 3600, n), unit="s")
    dur_min = rng.exponential(15, n)
    pd.DataFrame(
        {
            "tpep_pickup_datetime": pickup.strftime("%Y-%m-%d %H:%M:%S"),
            "tpep_dropoff_datetime": (
                pickup + pd.to_timedelta(dur_min, unit="m")
            ).strftime("%Y-%m-%d %H:%M:%S"),
            "passenger_count": rng.randint(0, 5, n),
            "trip_distance": np.round(rng.exponential(3, n), 2),
            "PULocationID": rng.randint(1, 25, n),
            "DOLocationID": rng.randint(1, 25, n),
            "fare_amount": np.round(rng.exponential(15, n) - 0.5, 2),
            "total_amount": np.round(rng.exponential(18, n) - 0.5, 2),
        }
    ).to_csv(path, index=False)


def run_pipeline(spark, csv_path: str, work: str) -> dict:
    eng = LakehouseEngine(spark, work, register_sql=False)

    # ---- bronze: raw + parsed ts + partition cols (etl_pipeline.py:43-72)
    raw = ingest.read_csv(spark, csv_path, schema=TAXI_SCHEMA)
    bronze = ingest.parse_timestamps(
        raw, ["tpep_pickup_datetime", "tpep_dropoff_datetime"]
    )
    bronze = ingest.add_date_parts(bronze, "tpep_pickup_datetime", ("year", "month"))
    materialize(bronze, eng.tier_path("bronze/trips"), partition_by=["year", "month"])

    # ---- silver: typed + filtered, single-pass metrics (74-91; utils 14-49)
    b = read_tier(spark, eng.tier_path("bronze/trips"))
    typed = ingest.apply_casts(b, SILVER_CASTS)
    clean, obs = quality.filter_with_metrics(typed, list(quality_predicates(typed).values()))
    materialize(clean, eng.tier_path("silver/trips_clean"))
    # Z-order silver in place (etl_pipeline.py:87-88): the gold builds
    # below read the clustered layout, and no copy is left beside it
    eng.optimize("silver/trips_clean", zorder_by=["PULocationID", "DOLocationID"])
    metrics = dict(obs.get)

    # ---- gold: daily revenue + hourly demand (93-142)
    s = read_tier(spark, eng.tier_path("silver/trips_clean"))
    daily = s.groupBy(
        "PULocationID",
        "DOLocationID",
        F.date_trunc("day", "tpep_pickup_datetime").alias("day"),
    ).agg(
        F.sum("total_amount").alias("daily_revenue"),
        F.count(F.lit(1)).alias("trip_count"),
        F.avg("trip_distance").alias("avg_distance"),
        F.avg("total_amount").alias("avg_fare"),
    )
    materialize(daily, eng.tier_path("gold/daily_revenue"), partition_by=["PULocationID"])
    hourly = s.groupBy(
        "PULocationID", F.hour("tpep_pickup_datetime").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("trip_count"), F.avg("total_amount").alias("avg_fare"))
    materialize(hourly, eng.tier_path("gold/hourly_demand"))

    # ---- ML: distributed RF on gold (144-193; utils 52-76)
    gold = read_tier(spark, eng.tier_path("gold/daily_revenue"))
    feats = gold.select(
        F.col("PULocationID").cast("double"),
        F.col("DOLocationID").cast("double"),
        ml.pandas_day_of_week("day").cast("double").alias("day_of_week"),
        F.month("day").cast("double").alias("month"),
        F.col("avg_distance").cast("double"),
        F.col("daily_revenue").cast("double").alias("label"),
    )
    fit = ml.train_random_forest(feats)
    return {
        "n_input": metrics["n_input"],
        "n_rejected": metrics["n_rejected"],
        "gold_daily_rows": gold.count(),
        "mae": fit.mae,
        "rmse": fit.rmse,
        "r2": fit.r2,
    }


def main() -> None:
    csv_path = sys.argv[1] if len(sys.argv) > 1 else None
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="taxi_lakehouse_")
    tmp_csv = None
    if csv_path is None:
        tmp_csv = tempfile.NamedTemporaryFile(suffix=".csv", delete=False)
        generate_sample_csv(tmp_csv.name)
        csv_path = tmp_csv.name
    spark = build_session(app_name="reference-pipeline-example")
    try:
        result = run_pipeline(spark, csv_path, work)
        print(result)
    finally:
        if tmp_csv is not None:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
