"""The engine facade: one object tying session, catalog, SQL, and tier
management together (SURVEY §3 "two equivalent front doors").

The reference exposes its capabilities only as a hard-coded class run
top-to-bottom (``NYCTaxiETL``, ``etl_pipeline.py:196-201``). The engine
inverts that: a ``LakehouseEngine`` is a thin, stateless-ish handle over
a SparkSession + table root, and every capability is a composable call:

    eng = LakehouseEngine(spark, "/data/sf0.1")
    df  = eng.table("lineitem")                       # DataFrame door
    top = eng.sql("SELECT ... FROM lineitem ...")     # SQL door
    eng.materialize(gold_df, "gold/daily", partition_by=["day"])
    eng.optimize("gold/daily", zorder_by=["user_id", "day"])
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lab3_lakehouse_spark import catalog as cat
from lab3_lakehouse_spark.session import tune_session
from lab3_lakehouse_spark.sources import medallion


class LakehouseEngine:
    def __init__(self, spark: SparkSession, root: str, register_sql: bool = True):
        self.spark = tune_session(spark)
        self.root = root
        if register_sql:
            cat.register_views(spark, root)

    # -- read front doors -------------------------------------------------
    def table(self, name: str, validate: bool = False) -> DataFrame:
        return cat.load_table(self.spark, self.root, name, validate=validate)

    def tables(self) -> dict[str, DataFrame]:
        return cat.load_tables(self.spark, self.root)

    def sql(self, query: str) -> DataFrame:
        """SQL over the registered views (same Catalyst plans as the
        DataFrame door — Spark guarantees front-door equivalence)."""
        return self.spark.sql(query)

    # -- tier management ---------------------------------------------------
    def tier_path(self, rel: str) -> str:
        return f"{self.root}/{rel}"

    def materialize(self, df: DataFrame, rel: str, **kwargs) -> str:
        path = self.tier_path(rel)
        medallion.materialize(df, path, **kwargs)
        return path

    def read_tier(self, rel: str, fmt: str = "parquet") -> DataFrame:
        return medallion.read_tier(self.spark, self.tier_path(rel), fmt)

    def optimize(self, rel: str, zorder_by: list[str], **kwargs) -> str:
        """Z-order the tier ``rel`` in place
        (:func:`~lab3_lakehouse_spark.sources.medallion.optimize_table`):
        later reads of ``rel`` scan the clustered layout; a frame read
        from it before the call must be read again. Returns the
        strategy applied."""
        return medallion.optimize_table(
            self.spark, self.tier_path(rel), zorder_by, **kwargs
        )

    def pipeline(self, stages: list[medallion.Stage], sub_root: str = "tiers") -> medallion.Pipeline:
        return medallion.Pipeline(root=self.tier_path(sub_root), stages=stages)
