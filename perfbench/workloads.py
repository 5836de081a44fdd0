"""The three workloads: one timed pass each, plus its output checks.

A pass drives the engine only through its public functions and wraps
every call in a tracer span. It returns a :class:`PassResult`; the
checks compare that result (and the tiers it wrote, read back after
the timer stopped) with independent numpy/pandas references built
from the generator's planted truth.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from examples.reference_pipeline import SILVER_CASTS, TAXI_SCHEMA, quality_predicates
from lab3_lakehouse_spark import stores
from lab3_lakehouse_spark.engine import LakehouseEngine
from lab3_lakehouse_spark.ml import regression as ml
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import quality
from lab3_lakehouse_spark.operators import similarity as sim
from lab3_lakehouse_spark.operators import text as text_ops
from lab3_lakehouse_spark.sources import ingest
from lab3_lakehouse_spark.sources.medallion import materialize, read_tier

from gen import Inputs, taxi_frames

N_PROBES = (1, 4, 16)
ANN_RECALL_FLOOR = 0.85  # at n_probe=16, where every cell is probed
CORPUS_RECALL_FLOOR = 0.95
NEAR_DUP_THRESHOLD = 0.8


@dataclass
class PassResult:
    write_s: float = 0.0  # wall time of the write-side calls
    reads: list = field(default_factory=list)  # (kind, params, latency_s, answer)
    attempted: int = 0
    failed: int = 0
    out: dict = field(default_factory=dict)  # whatever the checks need


def _timed_read(res: PassResult, tracer, kind: str, params, fn) -> None:
    res.attempted += 1
    with tracer.span("engine.read_tier.serve") as sp:
        try:
            answer = fn()
        except Exception as exc:  # a failed read is counted, not fatal
            res.failed += 1
            answer = f"error: {exc.__class__.__name__}"
    res.reads.append((kind, params, sp.wall_s, answer))


def _write_step(res: PassResult, tracer, name: str, fn):
    """Run one write-side call in its span; its wall time counts
    toward ``write_s``. An exception here fails the pass."""
    res.attempted += 1
    with tracer.span(name) as sp:
        out = fn(sp)
    res.write_s += sp.wall_s
    return out, sp


# ------------------------------------------------------ taxi_medallion --

def _ts(day: str):
    return F.to_timestamp(F.lit(f"{day} 00:00:00"))


def taxi_read_plan(inputs: Inputs, seed: int) -> list[tuple[str, tuple]]:
    """The fixed, seeded serving mix: 8 point, 6 range, 5 top-N and
    5 gold⋈gold reads, interleaved in a seeded order."""
    rng = np.random.RandomState(seed + 7)
    days = pd.date_range("2023-01-01", periods=90, freq="D").strftime("%Y-%m-%d")
    zones = np.arange(1, 17)
    plan = []
    for _ in range(8):
        plan.append(("point", (int(rng.choice(zones)), int(rng.choice(zones)), str(rng.choice(days)))))
    for _ in range(6):
        d = int(rng.randint(0, 83))
        plan.append(("range", (int(rng.choice(zones[:-2])), days[d], days[d + 7])))
    for _ in range(5):
        plan.append(("topn", (str(rng.choice(days)),)))
    for _ in range(5):
        plan.append(("join", (int(rng.choice(zones)),)))
    order = rng.permutation(len(plan))
    return [plan[i] for i in order]


def _taxi_read(eng: LakehouseEngine, kind: str, p: tuple):
    if kind == "point":
        pu, do, day = p
        rows = (
            eng.read_tier("gold/daily_revenue")
            .filter((F.col("PULocationID") == pu) & (F.col("DOLocationID") == do)
                    & (F.col("day") == _ts(day)))
            .select("daily_revenue", "trip_count")
            .collect()
        )
        return sorted((float(r[0]), int(r[1])) for r in rows)
    if kind == "range":
        lo, d0, d1 = p
        r = (
            eng.read_tier("silver/trips_clean")
            .filter(F.col("PULocationID").between(lo, lo + 2)
                    & (F.col("tpep_pickup_datetime") >= _ts(d0))
                    & (F.col("tpep_pickup_datetime") < _ts(d1)))
            .agg(F.count(F.lit(1)), F.sum("total_amount"))
            .first()
        )
        return (int(r[0]), float(r[1] or 0.0))
    if kind == "topn":
        (day,) = p
        rows = (
            eng.read_tier("gold/daily_revenue")
            .filter(F.col("day") == _ts(day))
            .orderBy(F.col("daily_revenue").desc(), "PULocationID", "DOLocationID")
            .limit(10)
            .select("PULocationID", "DOLocationID", "daily_revenue")
            .collect()
        )
        return [(int(a), int(b), float(c)) for a, b, c in rows]
    (pu,) = p
    daily = eng.read_tier("gold/daily_revenue").filter(F.col("PULocationID") == pu)
    hourly = eng.read_tier("gold/hourly_demand").filter(F.col("PULocationID") == pu)
    r = (
        daily.select("PULocationID", F.col("trip_count").alias("d_trips"))
        .join(hourly.select("PULocationID", F.col("trip_count").alias("h_trips")),
              "PULocationID")
        .agg(F.count(F.lit(1)), F.sum(F.col("d_trips") * F.col("h_trips")))
        .first()
    )
    return (int(r[0]), int(r[1] or 0))


def taxi_pass(spark, tracer, inputs: Inputs, root: str, reads) -> PassResult:
    """The reference pipeline (examples/reference_pipeline.py) call by
    call, then the serving reads on the tiers it wrote."""
    res = PassResult()
    eng = LakehouseEngine(spark, root, register_sql=False)

    def bronze_step(sp):
        raw = ingest.read_csv(spark, inputs.path("trips.csv"), schema=TAXI_SCHEMA)
        bronze = ingest.parse_timestamps(
            raw, ["tpep_pickup_datetime", "tpep_dropoff_datetime"]
        )
        bronze = ingest.add_date_parts(bronze, "tpep_pickup_datetime", ("year", "month"))
        sp.fields["build_s"] = time.perf_counter() - sp.start
        materialize(bronze, eng.tier_path("bronze/trips"), partition_by=["year", "month"])
        return bronze

    bronze, sp = _write_step(res, tracer, "medallion.materialize.bronze", bronze_step)
    tracer.phases(sp, bronze, plan=True)

    def filter_step(sp):
        b = read_tier(spark, eng.tier_path("bronze/trips"))
        typed = ingest.apply_casts(b, SILVER_CASTS)
        clean, obs = quality.filter_with_metrics(
            typed, list(quality_predicates(typed).values())
        )
        return clean, obs

    (clean, obs), _ = _write_step(res, tracer, "quality.filter_with_metrics", filter_step)

    def silver_step(sp):
        materialize(clean, eng.tier_path("silver/trips_clean"))

    _, sp = _write_step(res, tracer, "medallion.materialize.silver", silver_step)
    tracer.phases(sp, clean, plan=True)
    metrics = dict(obs.get)
    res.out["n_input"] = int(metrics["n_input"])
    res.out["n_rejected"] = int(metrics["n_rejected"])

    _write_step(
        res, tracer, "medallion.optimize_table",
        lambda sp: eng.optimize("silver/trips_clean", zorder_by=["PULocationID", "DOLocationID"]),
    )

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
    _, sp = _write_step(
        res, tracer, "medallion.materialize.gold_daily",
        lambda sp: materialize(daily, eng.tier_path("gold/daily_revenue"),
                               partition_by=["PULocationID"]),
    )
    tracer.phases(sp, daily, plan=True)
    hourly = s.groupBy(
        "PULocationID", F.hour("tpep_pickup_datetime").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("trip_count"), F.avg("total_amount").alias("avg_fare"))
    _, sp = _write_step(
        res, tracer, "medallion.materialize.gold_hourly",
        lambda sp: materialize(hourly, eng.tier_path("gold/hourly_demand")),
    )
    tracer.phases(sp, hourly, plan=True)

    gold = read_tier(spark, eng.tier_path("gold/daily_revenue"))
    feats = gold.select(
        F.col("PULocationID").cast("double"),
        F.col("DOLocationID").cast("double"),
        ml.pandas_day_of_week("day").cast("double").alias("day_of_week"),
        F.month("day").cast("double").alias("month"),
        F.col("avg_distance").cast("double"),
        F.col("daily_revenue").cast("double").alias("label"),
    )
    fit, _ = _write_step(
        res, tracer, "regression.train_random_forest",
        lambda sp: ml.train_random_forest(feats),
    )
    res.out["r2"] = fit.r2

    for kind, params in reads:
        _timed_read(res, tracer, kind, params,
                    lambda k=kind, p=params: _taxi_read(eng, k, p))
    res.out["root"] = root
    return res


class TaxiReference:
    """pandas answers for one taxi input set (built once per run)."""

    def __init__(self, inputs: Inputs):
        clean, _ = taxi_frames(inputs)
        clean["day"] = clean["tpep_pickup_datetime"].dt.floor("D")
        f64 = clean.assign(
            total64=clean["total_amount"].astype(np.float64),
            dist64=clean["trip_distance"].astype(np.float64),
        )
        self.clean = clean
        self.daily = (
            f64.groupby(["PULocationID", "DOLocationID", "day"])
            .agg(daily_revenue=("total64", "sum"), trip_count=("total64", "size"),
                 avg_distance=("dist64", "mean"), avg_fare=("total64", "mean"))
            .reset_index()
        )
        f64["hour_of_day"] = f64["tpep_pickup_datetime"].dt.hour
        self.hourly = (
            f64.groupby(["PULocationID", "hour_of_day"])
            .agg(trip_count=("total64", "size"), avg_fare=("total64", "mean"))
            .reset_index()
        )
        self.f64 = f64

    def answer(self, kind: str, p: tuple):
        d = self.daily
        if kind == "point":
            pu, do, day = p
            m = d[(d.PULocationID == pu) & (d.DOLocationID == do) & (d.day == pd.Timestamp(day))]
            return sorted((float(a), int(b)) for a, b in zip(m.daily_revenue, m.trip_count))
        if kind == "range":
            lo, d0, d1 = p
            t = self.f64
            m = t[t.PULocationID.between(lo, lo + 2)
                  & (t.tpep_pickup_datetime >= pd.Timestamp(d0))
                  & (t.tpep_pickup_datetime < pd.Timestamp(d1))]
            return (int(len(m)), float(m.total64.sum()))
        if kind == "topn":
            (day,) = p
            m = d[d.day == pd.Timestamp(day)].sort_values(
                ["daily_revenue", "PULocationID", "DOLocationID"],
                ascending=[False, True, True],
            ).head(10)
            return [(int(a), int(b), float(c))
                    for a, b, c in zip(m.PULocationID, m.DOLocationID, m.daily_revenue)]
        (pu,) = p
        dd = d[d.PULocationID == pu]
        hh = self.hourly[self.hourly.PULocationID == pu]
        return (int(len(dd) * len(hh)), int(dd.trip_count.sum() * hh.trip_count.sum()))


def _close(a, b, tol: float) -> bool:
    """Structural equality with a relative tolerance on floats: the
    engine and pandas add the same values in different orders."""
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(b)))
        except (TypeError, ValueError):
            return False
    return a == b


def taxi_check(spark, res: PassResult, inputs: Inputs, ref: TaxiReference,
               full: bool) -> dict:
    """Checks, each one counted; ``full`` adds the table-wide ones
    (silver multiset and gold aggregates), run on one pass per run."""
    t = inputs.truth
    checks = {
        "n_rejected": res.out.get("n_rejected") == t["n_rejected"],
        "n_input": res.out.get("n_input") == t["rows"],
        "rf_finite": bool(np.isfinite(res.out.get("r2", np.nan))),
    }
    for i, (kind, params, _, answer) in enumerate(res.reads):
        checks[f"read{i}_{kind}"] = _close(answer, ref.answer(kind, params), 1e-6)
    root = res.out["root"]
    silver = read_tier(spark, f"{root}/silver/trips_clean")
    checks["silver_rows"] = silver.count() == t["silver_rows"]
    if full:
        cols = ["tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
                "PULocationID", "DOLocationID", "trip_distance", "fare_amount",
                "total_amount"]
        got = silver.select(*cols).toPandas().astype(ref.clean[cols].dtypes.to_dict())

        def key(df):  # one hash per row: a multiset of rows
            return pd.util.hash_pandas_object(df[cols], index=False).value_counts()

        extra = key(got).subtract(key(ref.clean), fill_value=0)
        res.out["dirty_in_silver"] = int(extra[extra > 0].sum())
        checks["silver_multiset"] = bool((extra == 0).all())
        gd = read_tier(spark, f"{root}/gold/daily_revenue").toPandas()
        m = gd.merge(ref.daily, on=["PULocationID", "DOLocationID", "day"],
                     suffixes=("", "_ref"))
        checks["gold_daily_rows"] = len(m) == len(ref.daily) == len(gd)
        for c in ("daily_revenue", "avg_distance", "avg_fare"):
            checks[f"gold_daily_{c}"] = bool(
                np.allclose(m[c], m[f"{c}_ref"], rtol=0, atol=1e-4)
            )
        checks["gold_daily_trip_count"] = bool((m.trip_count == m.trip_count_ref).all())
        gh = read_tier(spark, f"{root}/gold/hourly_demand").toPandas()
        mh = gh.merge(ref.hourly, on=["PULocationID", "hour_of_day"], suffixes=("", "_ref"))
        checks["gold_hourly_rows"] = len(mh) == len(ref.hourly) == len(gh)
        checks["gold_hourly_avg_fare"] = bool(
            np.allclose(mh.avg_fare, mh.avg_fare_ref, rtol=0, atol=1e-4)
        )
        checks["gold_hourly_trip_count"] = bool((mh.trip_count == mh.trip_count_ref).all())
    return checks


def taxi_recall(res: PassResult, inputs: Inputs) -> float | None:
    """Share of planted dirty rows that the silver filter removed."""
    if "dirty_in_silver" not in res.out:
        return None
    return 1.0 - res.out["dirty_in_silver"] / inputs.truth["n_rejected"]


# ----------------------------------------------------------- ann_store --

def ann_read_plan(inputs: Inputs, seed: int) -> list[tuple[str, tuple]]:
    """The probe sweep: the seed's query batch at each n_probe."""
    return [("probe", (p,)) for p in N_PROBES]


def ann_pass(spark, tracer, inputs: Inputs, root: str, reads) -> PassResult:
    """IVF-PQ store: init, two append batches, then an n_probe sweep
    of one fixed query batch against the persisted store."""
    res = PassResult()
    store = f"{root}/ivfpq"
    batches = [spark.read.parquet(inputs.path(f"batch{i}.parquet")) for i in (0, 1)]
    corpus = spark.read.parquet(inputs.path("batch0.parquet"), inputs.path("batch1.parquet"))
    queries = spark.read.parquet(inputs.path("queries.parquet"))
    dim = inputs.truth["dim"]

    meta, _ = _write_step(
        res, tracer, "similarity.ivfpq_store_init",
        lambda sp: sim.ivfpq_store_init(
            store, batches[0], "id", "vec", n_centroids=16, dim=dim, m=8, n_codes=32
        ),
    )
    for b in batches:
        _write_step(
            res, tracer, "similarity.ivfpq_store_append",
            lambda sp, b=b: sim.ivfpq_store_append(spark, store, b, "id", "vec", meta=meta),
        )
    res.out["codes_bytes"] = dir_bytes(stores.tier_path(store, "codes"))

    res.out["recall"] = {}
    res.out["rows_read_share"] = {}
    for _, (n_probe,) in reads:
        res.attempted += 1
        with tracer.span("similarity.ivfpq_store_topk") as sp:
            try:
                df = sim.ivfpq_store_topk(
                    spark, store, corpus, queries, "id", "vec",
                    k=10, n_probe=n_probe, meta=meta,
                )
                sp.fields["build_s"] = time.perf_counter() - sp.start
                t0 = time.perf_counter()
                rows = df.collect()
                sp.fields["exec_s"] = time.perf_counter() - t0
            except Exception:  # a failed probe is counted, not fatal
                res.failed += 1
                rows, df = None, None
        res.reads.append(("probe", (n_probe,), sp.wall_s, rows))
        if df is not None:
            tracer.phases(sp, df)
            res.out["rows_read_share"][n_probe] = (
                scan_rows(df, "/codes") / inputs.truth["rows"]
            )
        res.out["recall"][n_probe] = _recall(rows, inputs.truth["top10"])
    return res


def scan_rows(df, path_part: str) -> int:
    """Rows output by the file scans of ``df``'s executed plan whose
    root path contains ``path_part``. Row groups pruned by pushed
    filters are never read, so this counts the rows actually scanned."""
    plan = df._jdf.queryExecution().executedPlan()
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            if any(path_part in roots.apply(i).toString() for i in range(roots.size())):
                total += node.metrics().apply("numOutputRows").value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return int(total)


def _recall(rows, truth: dict) -> float:
    if rows is None:
        return 0.0
    got: dict[str, set] = {}
    for r in rows:
        got.setdefault(str(int(r["query_id"])), set()).add(int(r["neighbor_id"]))
    return float(np.mean([len(got.get(q, set()) & set(t)) / 10.0 for q, t in truth.items()]))


def ann_check(spark, res: PassResult, inputs: Inputs, ref=None, full=True) -> dict:
    """Recall, and the pruned read: a probe of every cell reads each
    code row once, and a probe of more cells never reads fewer rows
    (the nearest cells of a query nest as n_probe grows). How much a
    probe of fewer cells skips is a per-layer metric, not a check: it
    depends on how the seed's cells fall into the store's files."""
    rec = [res.out["recall"].get(p, 0.0) for p in N_PROBES]
    share = [res.out["rows_read_share"].get(p, 0.0) for p in N_PROBES]
    checks = {
        "recall_floor": rec[-1] >= ANN_RECALL_FLOOR,
        "recall_monotone": all(b >= a for a, b in zip(rec, rec[1:])),
        "codes_written": res.out.get("codes_bytes", 0) > 0,
        "all_cells_read_once": share[-1] == 1.0,
        "rows_read_monotone": 0.0 < share[0] and all(
            b >= a for a, b in zip(share, share[1:])),
    }
    for kind, (n_probe,), _, rows in res.reads:
        checks[f"probe{n_probe}_rows"] = rows is not None and len(rows) == 10 * len(
            inputs.truth["top10"]
        )
    return checks


def ann_recall(res: PassResult, inputs: Inputs) -> float:
    """Mean recall@10 over the queries with every cell probed: the
    codes' and the re-rank's quality. Lower n_probe settings add how
    well the batch's one region sits in its cells, which varies with
    the seed far more than the bound."""
    return res.out["recall"].get(N_PROBES[-1], 0.0)


# -------------------------------------------------------- corpus_dedup --

def corpus_read_plan(inputs: Inputs, seed: int) -> list[tuple[str, tuple]]:
    """20 point lookups on the deduped tier: half for planted exact
    copies (must be absent), half for cluster bases and chain heads
    (must be present — each has the smallest id of its group, so it is
    always kept)."""
    rng = np.random.RandomState(seed + 11)
    copies = rng.choice(inputs.truth["exact_dup_ids"], 10, replace=False)
    pairs = inputs.truth["near_dup_pairs"]
    bases = sorted({a for a, _ in pairs} - {b for _, b in pairs})  # not chain links
    keep = rng.choice(bases, 10, replace=False)
    plan = [("lookup", (int(i), False)) for i in copies]
    plan += [("lookup", (int(i), True)) for i in keep]
    return [plan[i] for i in rng.permutation(len(plan))]


def corpus_pass(spark, tracer, inputs: Inputs, root: str, reads) -> PassResult:
    """The near-dup stage of examples/llm_corpus_pipeline.py. The
    verified pairs are checkpointed eagerly so the shingle → band →
    candidate → verify work is timed in its own span rather than
    inside the first connected-components round; two observations
    count candidate and verified pairs in the same jobs."""
    from pyspark.sql import Observation

    res = PassResult()
    eng = LakehouseEngine(spark, root, register_sql=False)
    docs = read_tier(spark, inputs.path("docs.parquet"))

    def build_step(sp):
        qual = text_ops.quality_features(docs).filter(
            (F.col("n_tokens") >= 5) & (F.col("mean_token_len") < 20)
        )
        exact = dedup_ops.exact_dedup(qual, ["text"], ["doc_id"])
        hashed = exact.select(
            F.col("doc_id").alias("__id"),
            dedup_ops.shingle_hashes("text", 3).alias("__h"),
        ).localCheckpoint(eager=False)
        banded = dedup_ops.banded_signatures(hashed, num_perm=64, bands=16).localCheckpoint(
            eager=False
        )
        return exact, hashed, banded

    (exact, hashed, banded), _ = _write_step(
        res, tracer, "dedup.shingle_band_build", build_step
    )
    n_cand, n_ver = Observation("candidates"), Observation("verified")

    def verify_step(sp):
        cands = dedup_ops.minhash_lsh_candidates_from_bands(banded).observe(
            n_cand, F.count(F.lit(1)).alias("n")
        )
        pairs = dedup_ops.minhash_verify_hashed(
            cands, hashed, threshold=NEAR_DUP_THRESHOLD
        ).observe(n_ver, F.count(F.lit(1)).alias("n"))
        sp.fields["build_s"] = time.perf_counter() - sp.start
        return pairs.localCheckpoint(eager=True)

    pairs, _ = _write_step(res, tracer, "dedup.minhash_verify_hashed", verify_step)
    res.out["candidates"] = int(n_cand.get["n"])
    res.out["verified"] = int(n_ver.get["n"])

    components, sp_cc = _write_step(
        res, tracer, "dedup.connected_components",
        lambda sp: dedup_ops.connected_components(pairs, "id_a", "id_b"),
    )
    res.out["cc_rounds"] = sp_cc.fields.get("actions", 0)
    non_roots = components.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    )
    deduped = exact.join(non_roots, "doc_id", "left_anti").select("doc_id", "source", "text")
    _, sp = _write_step(
        res, tracer, "medallion.materialize.deduped",
        lambda sp: materialize(deduped, eng.tier_path("deduped")),
    )
    tracer.phases(sp, deduped, plan=True)

    for kind, params in reads:
        _timed_read(res, tracer, kind, params, lambda p=params: bool(
            eng.read_tier("deduped").filter(F.col("doc_id") == p[0]).select("doc_id").collect()
        ))
    res.out["root"] = root
    return res


def corpus_check(spark, res: PassResult, inputs: Inputs, ref=None, full=True) -> dict:
    """Exact copies gone, no doc without a planted near-dup collapsed,
    the planted pairs collapsed (recall floor), and the same kept ids
    as this seed's first run."""
    t = inputs.truth
    kept = read_tier(spark, f"{res.out['root']}/deduped").select("doc_id").toPandas()
    kept_ids = set(kept.doc_id.tolist())
    res.out["collapsed"] = sum(
        not (a in kept_ids and b in kept_ids) for a, b in t["near_dup_pairs"]
    )
    # copies take the ids after the originals; a planted near-dup is
    # the second id of its pair — every other original must survive
    originals = t["rows"] - len(t["exact_dup_ids"])
    must_keep = set(range(originals)) - {b for _, b in t["near_dup_pairs"]}
    checks = {
        "exact_dups_removed": not (kept_ids & set(t["exact_dup_ids"])),
        "no_false_collapse": must_keep <= kept_ids,
        "no_duplicate_rows": len(kept) == len(kept_ids),
        "recall_floor": corpus_recall(res, inputs) >= CORPUS_RECALL_FLOOR,
        "verified_pairs": 0 < res.out["verified"] <= res.out["candidates"],
        "survivors_as_first_run": _same_as_first_run(inputs, kept_ids),
    }
    for i, (kind, (doc_id, present), _, answer) in enumerate(res.reads):
        checks[f"read{i}_{kind}"] = answer is present
    return checks


def _same_as_first_run(inputs: Inputs, kept_ids: set) -> bool:
    """Whether the kept ids equal those of the first pass run on this
    seed's cached inputs, which are stored beside them."""
    ids = np.sort(np.fromiter(kept_ids, dtype=np.int64, count=len(kept_ids)))
    got = {"survivors": len(ids), "sha1": hashlib.sha1(ids.tobytes()).hexdigest()}
    path = inputs.path("survivors.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f) == got
    with open(path, "w") as f:
        json.dump(got, f)
    return True


def corpus_recall(res: PassResult, inputs: Inputs) -> float:
    """Share of planted near-dup pairs collapsed (not both kept)."""
    return res.out["collapsed"] / len(inputs.truth["near_dup_pairs"])


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop's hidden checksum
    and marker files are left out)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


WORKLOADS = {
    "taxi_medallion": {
        "pass": taxi_pass, "check": taxi_check, "recall": taxi_recall,
        "reads": taxi_read_plan, "reference": TaxiReference,
        "write_unit": "trips to gold",
    },
    "ann_store": {
        "pass": ann_pass, "check": ann_check, "recall": ann_recall,
        "reads": ann_read_plan, "reference": lambda inputs: None,
        "write_unit": "vectors indexed",
    },
    "corpus_dedup": {
        "pass": corpus_pass, "check": corpus_check, "recall": corpus_recall,
        "reads": corpus_read_plan, "reference": lambda inputs: None,
        "write_unit": "docs to the deduped tier",
    },
}
