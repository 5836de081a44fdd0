"""Distributed ML parity (SURVEY §2.6 M1-M3, §3 EP3).

The reference exits Spark for ML: ``toPandas()`` of the whole gold
table (``etl_pipeline.py:151``) → pandas feature derivation
(``utils.py:55-56``) → sklearn RandomForestRegressor
(``utils.py:61-73``). That driver-side hop is the one place it abandons
distributed execution — at 100 TB the gold table doesn't fit a driver.

This module keeps the exact modeling contract (features, 80/20 split,
RF with 20 trees, seed 42, MAE/RMSE/R²) but end-to-end in ``spark.ml``:

- M1 feature derivation: ``day_of_week`` uses the PANDAS convention
  (Monday=0) — Spark's ``dayofweek`` is 1=Sunday, so we apply
  ``(dayofweek(c)+5) % 7`` to preserve the reference's semantics
  (a deliberate compatibility choice, SURVEY §2.6 M1).
- M2: ``randomSplit([0.8, 0.2], seed=42)`` (sampling differs from
  sklearn's exact-count split; proportions match in expectation).
- M3: ``pyspark.ml.regression.RandomForestRegressor(numTrees=20,
  seed=42)``; MAE/RMSE/R² as ``RegressionEvaluator`` defines them,
  with the test-row count, in one aggregate over the predictions.

MLflow logging (``etl_pipeline.py:158-177``) is optional: enabled only
if mlflow imports (not in this container).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pandas_day_of_week(c: Column | str) -> Column:
    """Monday=0..Sunday=6 (pandas ``dt.dayofweek``) from a date/timestamp
    column. Spark ``dayofweek`` is 1=Sunday..7=Saturday."""
    return ((F.dayofweek(c) + 5) % 7).cast("long")


def revenue_features(gold_daily: DataFrame) -> DataFrame:
    """M1 over a daily-revenue gold table with columns
    ``(user_id, day, daily_revenue, trip_count, avg_value)`` —
    generalizes ``utils.py:55-60``'s feature frame."""
    return gold_daily.select(
        F.col("user_id").cast("double").alias("user_id_f"),
        pandas_day_of_week("day").cast("double").alias("day_of_week"),
        F.month("day").cast("double").alias("month"),
        F.col("trip_count").cast("double"),
        F.col("avg_value").cast("double"),
        F.col("daily_revenue").cast("double").alias("label"),
    )


@dataclass
class FitResult:
    model: object
    mae: float
    rmse: float
    r2: float
    n_train: int
    n_test: int


def train_random_forest(
    features: DataFrame,
    feature_cols: list[str] | None = None,
    num_trees: int = 20,
    seed: int = 42,
) -> FitResult:
    """M2+M3: split, fit, evaluate — all distributed."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    feature_cols = feature_cols or [c for c in features.columns if c != "label"]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    # cache BEFORE randomSplit: split sampling is per-partition, and an
    # uncached upstream agg can recompute with different row order per
    # action, silently losing/duplicating rows between train and test;
    # released once the metrics and counts are in, so a call leaves
    # nothing in executor storage
    vec = assembler.transform(features).select("features", "label").cache()
    try:
        train, test = vec.randomSplit([0.8, 0.2], seed=seed)
        model = RandomForestRegressor(
            numTrees=num_trees, seed=seed, labelCol="label", featuresCol="features"
        ).fit(train)
        err = F.col("prediction") - F.col("label")
        # RegressionEvaluator's mae/rmse/r2 and n_test in one job:
        # R² = 1 − SS_err/SS_tot = 1 − MSE / var_pop(label)
        n, mae, mse, var = model.transform(test).agg(
            F.count(F.lit(1)), F.avg(F.abs(err)), F.avg(err * err),
            F.var_pop("label"),
        ).first()
        result = FitResult(
            model=model,
            mae=mae,
            rmse=math.sqrt(mse),
            r2=1.0 - mse / var if var else float("nan"),
            n_train=train.count(),
            n_test=n,
        )
    finally:
        vec.unpersist()
    _maybe_log_mlflow(result, num_trees=num_trees, seed=seed)
    return result


def _maybe_log_mlflow(result: FitResult, **params: object) -> None:
    """S7 parity: metric/param/model sink, only when mlflow is present."""
    try:
        import mlflow
    except ImportError:
        return
    with mlflow.start_run():
        mlflow.log_params(params)
        mlflow.log_metrics({"mae": result.mae, "rmse": result.rmse, "r2": result.r2})
