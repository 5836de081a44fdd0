"""MERGE / CDC / SCD2 semantics on literal frames + tier round-trip.

Covers the branch matrix the oracle can't isolate: update-only,
insert-only, delete-only, null-key matching, duplicate-source
validation, and the persisted merge_into rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab3_lakehouse_spark.operators import merge as merge_ops
from lab3_lakehouse_spark.sources import medallion


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (None, "z", 0.0)],
        "k int, v string, x double",
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_merge_upsert_update_insert_keep(spark):
    src = spark.createDataFrame([(2, "B", 22.0), (9, "i", 90.0)], "k int, v string, x double")
    out = merge_ops.merge_upsert(_target(spark), src, ["k"])
    assert _rows(out) == {
        (1, "a", 10.0), (2, "B", 22.0), (3, "c", 30.0), (None, "z", 0.0), (9, "i", 90.0),
    }


def test_merge_upsert_null_key_matches_null_safely(spark):
    src = spark.createDataFrame([(None, "Z", -1.0)], "k int, v string, x double")
    out = merge_ops.merge_upsert(_target(spark), src, ["k"])
    assert (None, "Z", -1.0) in _rows(out) and (None, "z", 0.0) not in _rows(out)


def test_merge_upsert_delete_branch(spark):
    src = spark.createDataFrame(
        [(1, "a", 0.0, "D"), (3, "C", 33.0, "U"), (7, "n", 70.0, "U")],
        "k int, v string, x double, __op string",
    )
    out = merge_ops.cdc_apply(_target(spark), src, ["k"])
    assert _rows(out) == {
        (2, "b", 20.0), (3, "C", 33.0), (None, "z", 0.0), (7, "n", 70.0),
    }


def test_merge_upsert_null_key_delete_removes_null_row(spark):
    """Delete semantics are null-safe like Delta's `<=>`: a delete row
    with a NULL merge key removes the NULL-keyed target row on both the
    general and broadcast paths."""
    src = spark.createDataFrame([(None, "z", 0.0, "D")], "k int, v string, x double, __op string")
    for bc in (False, True):
        out = merge_ops.cdc_apply(_target(spark), src, ["k"], broadcast_source=bc)
        assert all(r[0] is not None for r in _rows(out)), f"broadcast={bc}"


def test_merge_upsert_rejects_duplicate_source_keys(spark):
    src = spark.createDataFrame(
        [(2, "B", 1.0), (2, "BB", 2.0)], "k int, v string, x double"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_ops.merge_upsert(_target(spark), src, ["k"], validate_unique_source=True)


def test_broadcast_path_equals_general_path_and_never_shuffles(spark):
    from lab3_lakehouse_spark.plans import analysis as pa

    src = spark.createDataFrame(
        [(1, "a", 0.0, "D"), (3, "C", 33.0, "U"), (None, "Z", -1.0, "U"), (7, "n", 70.0, "U")],
        "k int, v string, x double, __op string",
    )
    general = merge_ops.cdc_apply(_target(spark), src, ["k"], broadcast_source=False)
    fast = merge_ops.cdc_apply(_target(spark), src, ["k"], broadcast_source=True)
    assert _rows(fast) == _rows(general)
    # the point of the fast path: the snapshot side never shuffles
    assert pa.count_nodes(fast, "SortMergeJoin") == 0
    assert pa.count_nodes(fast, "BroadcastNestedLoopJoin") == 0


def test_merge_into_parquet_tier_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tier")
    _target(spark).write.parquet(path)
    src = spark.createDataFrame([(2, "B", 22.0), (9, "i", 90.0)], "k int, v string, x double")
    medallion.merge_into(spark, path, src, ["k"])
    got = _rows(spark.read.parquet(path))
    assert got == {
        (1, "a", 10.0), (2, "B", 22.0), (3, "c", 30.0), (None, "z", 0.0), (9, "i", 90.0),
    }
    # second batch applies on top of the rewritten tier
    medallion.merge_into(
        spark, path,
        spark.createDataFrame([(9, "I", 99.0, "U"), (1, "", 0.0, "D")],
                              "k int, v string, x double, __op string"),
        ["k"], delete_condition=F.col("__op") == "D",
    )
    assert _rows(spark.read.parquet(path)) == {
        (2, "B", 22.0), (3, "c", 30.0), (None, "z", 0.0), (9, "I", 99.0),
    }


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_streaming_cdc_apply_builds_and_evolves_tier(spark, tmp_path, scheme):
    """File-source CDC stream → cdc_to_tier: bootstrap batch, then an
    incremental batch (same checkpoint) carrying multiple changes per
    key, an update, a delete, and an insert. On a file:// tier the
    second batch must merge, not take the bootstrap branch again."""
    from lab3_lakehouse_spark.streaming import cdc

    chg, ckpt = (str(tmp_path / d) for d in ("chg", "ckpt"))
    tier = f"{scheme}{tmp_path}/tier"
    schema = "k int, v string, seq int, __op string"

    def run():
        stream = spark.readStream.schema(schema).parquet(chg)
        q = cdc.cdc_to_tier(stream, tier, ["k"], "seq", ckpt)
        q.awaitTermination()

    spark.createDataFrame(
        [(1, "a", 1, "U"), (2, "b", 1, "U")], schema
    ).write.mode("append").parquet(chg)
    run()
    assert _rows(spark.read.parquet(tier)) == {(1, "a"), (2, "b")}

    spark.createDataFrame(
        [(1, "x", 2, "U"), (1, "y", 3, "U"),   # two changes, latest wins
         (2, "b", 2, "D"),                      # delete
         (3, "c", 2, "U")],                     # insert
        schema,
    ).write.mode("append").parquet(chg)
    run()
    assert _rows(spark.read.parquet(tier)) == {(1, "y"), (3, "c")}


def test_scd2_two_batches_build_history(spark):
    ts1, ts2 = (F.lit(t).cast("timestamp") for t in ("2000-01-01", "2000-02-01"))
    seed = spark.createDataFrame(
        [], "k int, v string, valid_from timestamp, valid_to timestamp, is_current boolean"
    )
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    h1 = merge_ops.scd2_apply(seed, b1, ["k"], ["v"], ts1)
    assert {(r.k, r.v, r.is_current) for r in h1.collect()} == {(1, "a", True), (2, "b", True)}

    b2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k int, v string")
    h2 = merge_ops.scd2_apply(h1, b2, ["k"], ["v"], ts2)
    rows = {(r.k, r.v, r.is_current, r.valid_to is not None) for r in h2.collect()}
    assert rows == {
        (1, "a", True, False),   # unchanged — never closed
        (2, "b", False, True),   # superseded version, closed at ts2
        (2, "B", True, False),   # new current version
        (3, "c", True, False),   # brand-new key
    }
    # closed rows carry the batch timestamp
    closed = h2.filter(~F.col("is_current")).collect()
    assert all(str(r.valid_to) == "2000-02-01 00:00:00" for r in closed)


def test_incremental_rollup_equals_full_and_touches_only_dirty_buckets(spark, tmp_path):
    from datetime import datetime

    from lab3_lakehouse_spark.operators import rollup as rollup_ops

    path = str(tmp_path / "rollup")
    t = datetime(2024, 1, 1, 10)
    u = datetime(2024, 1, 1, 11)
    batch1 = spark.createDataFrame(
        [("a", t, 1.0), ("a", t, 2.0), ("b", u, 10.0)], ["k", "ts", "v"]
    )
    batch2 = spark.createDataFrame(
        [("a", t, 4.0), ("c", u, 7.0)], ["k", "ts", "v"]
    )
    for b in (batch1, batch2):
        rollup_ops.refresh_rollup(
            spark, path, b, ts_col="ts", bucket="hour", keys=["k"], value_col="v"
        )
    got = {
        (r.k, r.bucket_ts.hour): (r.cnt, r.sum_v, r.min_v, r.max_v)
        for r in spark.read.parquet(path).collect()
    }
    # incremental == one-shot over the union, and batch2 left ("b", 11) alone
    assert got == {
        ("a", 10): (3, 7.0, 1.0, 4.0),
        ("b", 11): (1, 10.0, 10.0, 10.0),
        ("c", 11): (1, 7.0, 7.0, 7.0),
    }
    fin = {
        (r.k, r.bucket_ts.hour): (r.n_rows, r.total, r.mean, r.vmin, r.vmax)
        for r in rollup_ops.finalize(spark.read.parquet(path), ["k"]).collect()
    }
    assert fin[("a", 10)] == (3, 7.0, 7.0 / 3, 1.0, 4.0)


def test_snapshot_diff_classifies_all_change_kinds(spark):
    old = _target(spark)  # keys 1,2,3,None
    new = spark.createDataFrame(
        [(1, "a", 10.0),            # unchanged -> dropped
         (2, "B", 20.0),            # value changed
         (None, "z", 5.0),          # NULL key changed (null-safe match)
         (9, "i", 90.0)],           # added; 3 removed
        "k int, v string, x double",
    )
    out = merge_ops.snapshot_diff(old, new, ["k"])
    got = {tuple(r) for r in out.collect()}
    assert got == {
        (2, "changed", "b", 20.0, "B", 20.0),
        (None, "changed", "z", 0.0, "z", 5.0),
        (3, "removed", "c", 30.0, None, None),
        (9, "added", None, None, "i", 90.0),
    }, got


def test_snapshot_diff_null_to_value_transition_is_changed(spark):
    old = spark.createDataFrame([(1, None)], "k int, v string")
    new = spark.createDataFrame([(1, "x")], "k int, v string")
    out = merge_ops.snapshot_diff(old, new, ["k"])
    assert [tuple(r) for r in out.collect()] == [(1, "changed", None, "x")]


def test_snapshot_diff_identical_snapshots_is_empty(spark):
    assert merge_ops.snapshot_diff(_target(spark), _target(spark), ["k"]).count() == 0


def test_snapshot_diff_inverts_cdc_apply(spark):
    """The CDF-reconstruction contract: diffing cdc_apply's output
    against its input recovers the batch classification."""
    tgt = _target(spark)
    batch = spark.createDataFrame(
        [(2, "B", 22.0, "U"), (9, "i", 90.0, "U"), (3, "c", 30.0, "D")],
        "k int, v string, x double, __op string",
    )
    new = merge_ops.cdc_apply(tgt, batch, ["k"])
    diff = merge_ops.snapshot_diff(tgt, new, ["k"])
    kinds = {r["k"]: r["change_type"] for r in diff.collect()}
    assert kinds == {2: "changed", 9: "added", 3: "removed"}


def test_streaming_tier_versions_yield_cdf_via_snapshot_diff(spark, tmp_path):
    """CDF lifecycle: a CDC stream evolves the tier, and snapshot_diff
    between two tier versions reconstructs the change feed the stream
    applied — the reader-side complement of cdc_to_tier for consumers
    that only see materialized versions."""
    from lab3_lakehouse_spark.streaming import cdc

    chg, ckpt, tier = (str(tmp_path / d) for d in ("chg", "ckpt", "tier"))
    schema = "k int, v string, seq int, __op string"

    def run():
        stream = spark.readStream.schema(schema).parquet(chg)
        cdc.cdc_to_tier(stream, tier, ["k"], "seq", ckpt).awaitTermination()

    spark.createDataFrame([(1, "a", 1, "U"), (2, "b", 1, "U")], schema) \
        .write.mode("append").parquet(chg)
    run()
    v1 = spark.createDataFrame(spark.read.parquet(tier).collect(),
                               spark.read.parquet(tier).schema)  # freeze v1
    spark.createDataFrame(
        [(1, "y", 2, "U"), (2, "b", 2, "D"), (3, "c", 2, "U")], schema
    ).write.mode("append").parquet(chg)
    run()
    v2 = spark.read.parquet(tier)
    diff = merge_ops.snapshot_diff(v1, v2, ["k"], compare_cols=["v"])
    got = {(r["k"], r["change_type"], r["old_v"], r["new_v"]) for r in diff.collect()}
    assert got == {(1, "changed", "a", "y"),
                   (2, "removed", "b", None),
                   (3, "added", None, "c")}, got
