"""Smoke the end-to-end reference-workload example (examples/
reference_pipeline.py) — the strongest switch-from-the-reference
evidence: CSV -> bronze -> silver(+metrics, +clustering) -> gold -> RF."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, "examples")


def test_reference_pipeline_end_to_end(spark):
    from reference_pipeline import generate_sample_csv, run_pipeline

    work = tempfile.mkdtemp(prefix="taxi_e2e_")
    csv = f"{work}/taxi.csv"
    try:
        generate_sample_csv(csv, n=5000)
        out = run_pipeline(spark, csv, work)
        assert out["n_input"] == 5000
        assert 0 < out["n_rejected"] < 5000
        assert out["gold_daily_rows"] > 0
        assert out["rmse"] >= out["mae"] > 0
        assert out["r2"] <= 1.0
        # every tier the pipeline wrote carries its schema record, and
        # reads through it exactly as parquet inference does
        from lab3_lakehouse_spark.sources.medallion import SCHEMA_FILE, read_tier

        # OPTIMIZE rewrote silver in place: no copy beside it
        assert os.listdir(f"{work}/silver") == ["trips_clean"]
        for tier in ("bronze/trips", "silver/trips_clean",
                     "gold/daily_revenue", "gold/hourly_demand"):
            path = f"{work}/{tier}"
            assert os.path.exists(f"{path}/{SCHEMA_FILE}"), tier
            got, want = read_tier(spark, path), spark.read.parquet(path)
            assert got.schema == want.schema, tier
            assert got.columns == want.columns, tier
    finally:
        shutil.rmtree(work, ignore_errors=True)
