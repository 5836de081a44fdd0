"""Runtime-environment robustness seams (round-4 ADVICE/VERDICT items):
Connect-safe partition probing, explicit stream ts-encoding, the MLflow
sink branch, and the corpus pipeline's publish-only-redacted-text
guarantee."""

from __future__ import annotations

import sys
import types
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent.parent / "examples"))


# --- catalog.fan_out without the RDD API (Spark Connect hazard) --------


def test_fan_out_small_scan_spreads(spark, sf_small):
    from lab3_lakehouse_spark.catalog import fan_out, load_table
    from lab3_lakehouse_spark.session import default_parallelism

    docs = load_table(spark, sf_small, "documents")
    assert fan_out(docs).rdd.getNumPartitions() >= min(
        default_parallelism(), 2
    )


def test_fan_out_needs_no_rdd_api(spark, sf_small, monkeypatch):
    """Simulate Spark Connect: DataFrame.rdd raises. fan_out must fall
    back to the inputFiles estimate instead of crashing."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from lab3_lakehouse_spark import catalog

    def _no_rdd(self):
        raise AttributeError("rdd is not supported under Spark Connect")

    monkeypatch.setattr(CDF, "rdd", property(_no_rdd))
    docs = catalog.load_table(spark, sf_small, "documents")
    # single-file scan < parallelism → the fallback path must repartition
    out = catalog.fan_out(docs, min_partitions=4)
    assert out.count() == docs.count()
    assert catalog._estimated_scan_partitions(docs) == len(docs.inputFiles())


# --- streaming ts-encoding probe must never silently guess ------------


def test_ts_probe_raises_when_unprobeable(tmp_path):
    from lab3_lakehouse_spark.streaming.windows import _ts_stored_as_nanos

    empty = tmp_path / "stream_src"
    empty.mkdir()
    with pytest.raises(ValueError, match="ts_encoding"):
        _ts_stored_as_nanos(str(empty))
    with pytest.raises(ValueError, match="ts_encoding"):
        _ts_stored_as_nanos("s3://bucket/events.parquet")


def test_stream_events_explicit_encoding(spark, sf_small):
    """ts_encoding bypasses the footer probe; bad values are rejected."""
    from lab3_lakehouse_spark.catalog import load_table
    from lab3_lakehouse_spark.streaming.windows import (
        _ts_stored_as_nanos,
        run_to_memory,
        stream_events,
    )

    with pytest.raises(ValueError, match="nanos"):
        stream_events(spark, sf_small, ts_encoding="seconds")

    encoding = "nanos" if _ts_stored_as_nanos(f"{sf_small}/events.parquet") else "micros"
    got = run_to_memory(
        stream_events(spark, sf_small, ts_encoding=encoding)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ts")),
        spark,
    ).first()
    batch = load_table(spark, sf_small, "events").agg(
        F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ts")
    ).first()
    assert (got.n, got.max_ts) == (batch.n, batch.max_ts)


# --- MLflow sink branch (S7), exercised via a fake module -------------


def test_mlflow_sink_branch_logs(monkeypatch):
    from lab3_lakehouse_spark.ml import regression

    calls: dict[str, object] = {}

    class _Run:
        def __enter__(self):
            calls["started"] = True
            return self

        def __exit__(self, *exc):
            calls["ended"] = True
            return False

    fake = types.ModuleType("mlflow")
    fake.start_run = lambda: _Run()
    fake.log_params = lambda p: calls.setdefault("params", p)
    fake.log_metrics = lambda m: calls.setdefault("metrics", m)
    monkeypatch.setitem(sys.modules, "mlflow", fake)

    result = regression.FitResult(
        model=None, mae=1.0, rmse=2.0, r2=0.5, n_train=8, n_test=2
    )
    regression._maybe_log_mlflow(result, num_trees=20, seed=42)
    assert calls["started"] and calls["ended"]
    assert calls["params"] == {"num_trees": 20, "seed": 42}
    assert calls["metrics"] == {"mae": 1.0, "rmse": 2.0, "r2": 0.5}


# --- PII scrub must reach the published corpus ------------------------


def test_scrub_stage_replaces_text_and_recounts(spark):
    """The pipeline's 5b transform: redacted text becomes THE text
    column (raw dropped) and n_tokens reflects the rewritten text."""
    from lab3_lakehouse_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "mail me at bob@example.com today", 5)],
        "doc_id long, text string, n_tokens long",
    )
    scrubbed = (
        text_ops.redact_pii(df, "text")
        .withColumn("text", F.col("text_redacted"))
        .drop("text_redacted")
        .withColumn("n_tokens", text_ops.token_count("text"))
    )
    row = scrubbed.first()
    assert "text_redacted" not in scrubbed.columns
    assert row.text == "mail me at <EMAIL> today"
    assert row.n_email == 1
    assert row.n_tokens == 5  # recomputed on the redacted text


def test_pipeline_publishes_only_redacted_text(spark, sf_small, tmp_path):
    from llm_corpus_pipeline import run_corpus_pipeline

    from lab3_lakehouse_spark.sources import versioned as vt

    run_corpus_pipeline(spark, sf_small, str(tmp_path), seq_len=128)
    published = vt.read_version(spark, f"{tmp_path}/corpus")
    assert "text_redacted" not in published.columns
    # audit counters ride along; on the synthetic corpus they are zero,
    # which also proves text == redacted text row-for-row
    assert published.filter(
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0
    ).count() == 0


def test_hadoop_fs_helpers_raise_clearly_without_jvm():
    """Spark Connect sessions (no py4j _jvm) must get a diagnostic, not
    an AttributeError, from the one FileSystem entry point every tier
    and store path operation goes through."""
    import pytest

    from lab3_lakehouse_spark import fs

    class FakeConnectSession:
        _jvm = None

    with pytest.raises(RuntimeError, match="classic"):
        fs.handle(FakeConnectSession(), "/tmp/x")
