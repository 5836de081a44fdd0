"""Per-layer metrics: names, units, and which end-to-end metric each
layer should move on which workload (and where it should stay flat).

Each traced call is one span name, ``<module>.<call>[.<tag>]``; a
per-layer metric is ``<span>.<field>``, summed over the span's calls
in one pass (``task_skew`` takes the largest). BENCHMARK.json's
``per_layer`` list is exactly :func:`metrics` — a test holds the two
together — and the prediction map lives here because BENCHMARK.json's
entries carry only name, unit and direction.
"""

from __future__ import annotations

WORKLOADS = ("taxi_medallion", "ann_store", "corpus_dedup")

#: field → (unit, better)
FIELDS = {
    "wall_s": ("s", "lower"),
    "build_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "analysis_s": ("s", "lower"),
    "planning_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "output_bytes": ("bytes", "lower"),
    "input_records": ("rows", "lower"),
    "task_skew": ("ratio", "lower"),
}

STD = ("wall_s", "jobs", "stages", "tasks", "executor_run_s",
       "shuffle_write_bytes", "task_skew")

#: span → (fields, [(end-to-end metric, workload)], workloads predicted flat)
CALLS = {
    "session.build_session": (
        ("wall_s",), [("setup_s", w) for w in WORKLOADS], ()),
    "medallion.materialize.bronze": (
        STD + ("output_bytes", "planning_s"),
        [("rows_per_s", "taxi_medallion"), ("write_amp", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "quality.filter_with_metrics": (
        ("wall_s",), [("rows_per_s", "taxi_medallion")], ("ann_store", "corpus_dedup")),
    "medallion.materialize.silver": (
        STD + ("output_bytes", "analysis_s", "planning_s"),
        [("rows_per_s", "taxi_medallion"), ("write_amp", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "medallion.optimize_table": (
        STD + ("output_bytes",),
        [("rows_per_s", "taxi_medallion"), ("write_amp", "taxi_medallion"),
         ("read_p50_s", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "medallion.materialize.gold_daily": (
        STD + ("output_bytes", "planning_s"),
        [("rows_per_s", "taxi_medallion"), ("write_amp", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "medallion.materialize.gold_hourly": (
        STD + ("output_bytes",),
        [("rows_per_s", "taxi_medallion"), ("write_amp", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "regression.train_random_forest": (
        STD + ("gc_s",), [("rows_per_s", "taxi_medallion")],
        ("ann_store", "corpus_dedup")),
    "engine.read_tier.serve": (
        ("wall_s", "jobs", "stages", "tasks", "executor_run_s", "task_skew",
         "input_records"),
        [("read_p50_s", "taxi_medallion"), ("read_tail_s", "taxi_medallion"),
         ("read_p50_s", "corpus_dedup"), ("read_tail_s", "corpus_dedup")],
        ("ann_store",)),
    "similarity.ivfpq_store_init": (
        ("wall_s", "jobs", "stages", "tasks", "executor_run_s", "output_bytes"),
        [("rows_per_s", "ann_store"), ("write_amp", "ann_store")],
        ("taxi_medallion", "corpus_dedup")),
    "similarity.ivfpq_store_append": (
        STD + ("output_bytes",),
        [("rows_per_s", "ann_store"), ("write_amp", "ann_store")],
        ("taxi_medallion", "corpus_dedup")),
    "similarity.ivfpq_store_topk": (
        ("wall_s", "build_s", "analysis_s", "planning_s", "exec_s", "jobs",
         "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "task_skew"),
        [("read_p50_s", "ann_store"), ("read_tail_s", "ann_store")],
        ("taxi_medallion", "corpus_dedup")),
    "dedup.shingle_band_build": (
        ("wall_s",), [("rows_per_s", "corpus_dedup")], ("taxi_medallion", "ann_store")),
    "dedup.minhash_verify_hashed": (
        STD + ("build_s", "spill_bytes"), [("rows_per_s", "corpus_dedup")],
        ("taxi_medallion", "ann_store")),
    "dedup.connected_components": (
        STD, [("rows_per_s", "corpus_dedup")], ("taxi_medallion", "ann_store")),
    "medallion.materialize.deduped": (
        STD + ("output_bytes", "planning_s"),
        [("rows_per_s", "corpus_dedup"), ("write_amp", "corpus_dedup")],
        ("taxi_medallion", "ann_store")),
}

#: ratios and counts measured where the work happens, plus pass totals
#: name → (unit, better, [(end-to-end metric, workload)], flat on)
EXTRA = {
    "quality.reject_share": ("ratio", "higher", [("recall", "taxi_medallion")],
                             ("ann_store", "corpus_dedup")),
    "stores.append_rows.bytes": ("bytes", "lower", [("write_amp", "ann_store")],
                                 ("taxi_medallion", "corpus_dedup")),
    "stores.pruned_read.rows_read_share": ("ratio", "lower",
                                           [("read_p50_s", "ann_store")],
                                           ("taxi_medallion", "corpus_dedup")),
    "dedup.candidate_yield": ("ratio", "higher", [("rows_per_s", "corpus_dedup")],
                              ("taxi_medallion", "ann_store")),
    "dedup.connected_components.rounds": ("count", "lower",
                                          [("rows_per_s", "corpus_dedup")],
                                          ("taxi_medallion", "ann_store")),
    "pass.gc_s": ("s", "lower", [("pass_s", w) for w in WORKLOADS], ()),
    "pass.spill_bytes": ("bytes", "lower", [("pass_s", w) for w in WORKLOADS], ()),
    "pass.shuffle_read_bytes": ("bytes", "lower", [("pass_s", w) for w in WORKLOADS], ()),
    "trace.overhead_s": ("s", "lower", [], WORKLOADS),
    "trace.span_coverage": ("ratio", "higher", [], WORKLOADS),
}


def metrics() -> list[dict]:
    """The ``per_layer`` entries of BENCHMARK.json, in order."""
    out = []
    for span, (fields, _, _) in CALLS.items():
        for f in fields:
            unit, better = FIELDS[f]
            out.append({"name": f"{span}.{f}", "unit": unit, "better": better})
    for name, (unit, better, _, _) in EXTRA.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out
