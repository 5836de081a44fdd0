"""Physical-plan regression tests (SURVEY §4): the 100 TB design
assumes Catalyst delivers pushdown / pruning / broadcast / partial agg /
codegen on our plans — these tests pin that, so a change that silently
blocks an optimization (e.g. an opaque UDF above a scan) fails CI
instead of shipping a full-scan regression.
"""

from __future__ import annotations

import pytest

from lab3_lakehouse_spark.catalog import load_table
from lab3_lakehouse_spark.plans import analysis as pa
from lab3_lakehouse_spark.queries import BODIES, QUERIES


@pytest.fixture(scope="module")
def sf(sf_small):
    return sf_small


def test_filter_pushdown_reaches_scan(spark, sf):
    df = QUERIES["quality_filter"](spark, sf)
    assert pa.has_pushed_filter(df, "l_quantity")
    assert pa.has_pushed_filter(df, "l_extendedprice")


def test_column_pruning_on_projection(spark, sf):
    df = QUERIES["derived_metrics"](spark, sf)
    lineitem_cols = set(load_table(spark, sf, "lineitem").columns)
    needed = {
        "l_orderkey", "l_linenumber", "l_shipdate",
        "l_extendedprice", "l_discount", "l_tax",
    }
    assert pa.scan_reads_only(df, lineitem_cols, needed), pa.read_schemas(df)


def test_small_dims_broadcast_not_shuffle(spark, sf):
    df = QUERIES["regional_revenue"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 3
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_no_nested_loop_in_range_join(spark, sf):
    """The binned range join exists precisely to avoid BNLJ."""
    df = QUERIES["range_join_price_bands"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_aggregate_is_partial_plus_final(spark, sf):
    df = QUERIES["pricing_summary"](spark, sf)
    # partial + final HashAggregate (map-side combine before shuffle)
    assert pa.count_nodes(df, "HashAggregate") >= 2
    assert pa.codegen_stage_count(df) >= 1


def test_scan_agg_path_stays_in_codegen(spark, sf):
    df = QUERIES["daily_revenue"](spark, sf)
    assert pa.codegen_stage_count(df) >= 1


def test_text_scan_pipeline_is_narrow(spark, sf):
    """Quality features are pure scan-pipeline: no shuffle at all."""
    df = QUERIES["text_quality_features"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 0


def test_exact_dedup_single_shuffle(spark, sf):
    df = QUERIES["dedup_exact_keep_first"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 1


def test_asof_join_single_shuffle(spark, sf):
    """The union+carry-forward as-of join must cost exactly one exchange
    (the window shuffle on the key) — no join, no fan-out."""
    df = QUERIES["asof_purchase_last_view"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 1
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_salted_join_no_nested_loop_and_broadcast(spark, sf):
    df = QUERIES["salted_join_lineitem_supplier"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_pivot_two_phase_aggregation(spark, sf):
    """Spark plans pivot as pre-agg on (keys, pivot col) then a pivot
    agg on keys — exactly two exchanges, both on grouping keys (and no
    extra distinct-values job, because values are declared)."""
    df = QUERIES["pivot_user_event_counts"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 2


def test_unpivot_is_narrow(spark, sf):
    df = QUERIES["unpivot_order_amounts"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 0


def test_packing_single_shuffle_reuses_window_partitioning(spark, sf):
    """Concat-and-chop packing: ONE exchange total. The per-pack
    aggregation on (shard, pack_id) must reuse the window's
    hash-partitioning on shard (a hash distribution on a subset of the
    grouping keys satisfies the agg's clustered distribution) — a
    second shuffle here would double the cost of packing a 100 TB
    corpus."""
    df = QUERIES["pack_documents_concat_chop"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 1
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_stratified_sample_filters_before_shuffle(spark, sf):
    """Deterministic mixing: the keep-predicate runs scan-side, so the
    only exchange is the final per-stratum aggregation (the sampled-out
    rows never enter a shuffle)."""
    df = QUERIES["stratified_sample_documents"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 1


def test_correlated_scalar_subquery_is_decorrelated(spark, sf):
    """TPC-H Q17 shape: Catalyst must rewrite the correlated scalar
    subquery into aggregate-then-join (no per-row re-execution, no
    nested loop); at this SF both joins broadcast."""
    df = QUERIES["sql_small_qty_revenue"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "BroadcastHashJoin") == 2
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_simhash_production_pairs_banded_no_nested_loop(spark, sf):
    """The production simhash operator must stay a banded equi-join —
    only the catalog wrapper's brute-force completeness CHECK is allowed
    an all-pairs plan. A banding regression here would only show up in
    the bench otherwise."""
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    docs = load_table(spark, sf, "documents")
    df = dedup_ops.simhash_pairs(docs, "doc_id", "text", max_hamming=3)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_winnowing_fingerprint_groups_no_nested_loop(spark, sf):
    """The production copy-detection path (winnowed fingerprints →
    group by fingerprint key) must plan as scan + hash-agg — no joins at
    all, let alone nested-loop ones."""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators import text as text_ops

    docs = load_table(spark, sf, "documents")
    fps = docs.select(
        "doc_id",
        F.explode(text_ops.winnowed_fingerprints("text", k=3, w=4)).alias("fp"),
    )
    groups = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )
    assert pa.count_nodes(groups, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(groups, "CartesianProduct") == 0
    assert pa.count_nodes(groups, "Exchange") == 1  # the fp-key shuffle


def test_minhash_production_path_banded_no_nested_loop(spark, sf):
    """Candidates + hash-verify (the refactored shared-frame path) must
    stay equi-join-only end-to-end."""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    docs = load_table(spark, sf, "documents")
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    cands = dedup_ops.minhash_lsh_candidates_from_hashes(hashed, num_perm=64, bands=16)
    verified = dedup_ops.minhash_verify_hashed(cands, hashed, threshold=0.8)
    assert pa.count_nodes(verified, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(verified, "CartesianProduct") == 0


def test_no_driver_collect_in_query_paths():
    """Every query stays distributed end-to-end: no collect()/toPandas()
    driver round-trips in the query catalog (localCheckpoint is the
    sanctioned way to pin a result past a temp tier's lifetime).

    One narrow exception, which must be EXPLICITLY marked: iterative
    trainers (the GD quality classifier, the BPE merge loop) fetch one
    argmax row or one aggregate row per step — bounded metadata, the
    n_centroids-collect class, never data-sized. Such lines carry a
    ``bounded metadata`` marker comment on the line or the line above;
    an unmarked collect is a violation."""
    import pathlib

    qdir = pathlib.Path(__file__).parent.parent / "lab3_lakehouse_spark" / "queries"
    for f in qdir.glob("*.py"):
        lines = f.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".collect()" in line or ".toPandas()" in line:
                context = (lines[i - 1] if i else "") + line
                assert "bounded metadata" in context, (
                    f"{f.name}:{i + 1} unmarked driver collect in a "
                    "query path (tag genuinely bounded 1-row/argmax "
                    "fetches with a 'bounded metadata' comment)"
                )


def test_decontamination_join_is_equi_only(spark, sf):
    """The corpus-vs-benchmark overlap must plan as shingle-key
    equi-join — never a doc-by-doc nested loop."""
    df = QUERIES["decontamination_ngram_overlap"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_tfidf_df_side_broadcasts(spark, sf):
    """tf⋈df must broadcast the (term, df) vocabulary side, not
    shuffle the tf frame a second time."""
    df = QUERIES["tfidf_top_terms"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 1
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_aggregate_in_subquery_becomes_semi_join(spark, sf):
    """TPC-H Q18 shape: the IN over a HAVING aggregate must plan as an
    aggregate + semi-join probe (no nested-loop, no per-row subquery)."""
    df = QUERIES["sql_large_volume_customers"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf, tmp_path):
    """A fact table partitioned on the join key must get a runtime
    partition filter injected from the filtered dim side (DPP) — at
    100 TB this is the difference between scanning one partition and
    scanning the tier."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact_dpp")
    ev = load_table(spark, sf, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2), ("view", 3), ("error", 4), ("signup", 5)],
        ["event_type", "type_rank"],
    ).filter(F.col("type_rank") <= 1)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]


def test_semantic_dedup_blocked_equi_join(spark, sf):
    """Semantic dedup must pair within blocks via equi-join hashing —
    an all-pairs BNLJ/cartesian would be O(n²) at corpus scale."""
    df = QUERIES["semantic_dedup_flags"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_semantic_dedup_clustered_equi_join_no_vector_shuffle_blowup(spark, sf):
    """SemDeDup's pair stage must hash-join on the cluster key (never
    BNLJ/cartesian), and the k-means assignment passes must be map-side
    (centroid literals in the plan) — the only exchanges allowed are
    the k-key Lloyd update aggregation and the pair join's cluster
    hashing."""
    df = QUERIES["semantic_dedup_clustered"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_mixture_materializer_broadcasts_rates_never_shuffles_corpus(spark, sf):
    """materialize_rate_mix joins the ≤ n_sources rate frame onto the
    corpus — that join must be broadcast-hash (no sort-merge: a corpus
    shuffle on source would be the skewed-key worst case). The only
    nested-loop nodes allowed are the documented 1-row-singleton
    crossJoins (tot / z / mtot normalizers), which this query caps at
    one appearance each because the rate frame is checkpointed instead
    of re-derived per consumer."""
    df = QUERIES["temperature_mix_materialized"](spark, sf)
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 1  # rates→corpus
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") <= 3


def test_quantization_is_scan_pipeline(spark, sf):
    """Int8 quantization audit is pure per-row math: zero shuffles,
    fused into the parquet scan."""
    df = QUERIES["embedding_quantization_report"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 0


def test_repetition_features_scan_pipeline(spark, sf):
    """Gopher repetition signals fold per-row arrays — no shuffle."""
    df = QUERIES["gopher_repetition_rules"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 0


def test_centroids_single_wide_aggregation(spark, sf):
    """Label centroids: ONE shuffle (the group-by), dim folded into
    wide agg state — not a posexplode 64× row multiplication."""
    df = QUERIES["embedding_label_centroids"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 1
    # partial + final HashAggregate: the 64 per-dim avgs combine
    # map-side; the stack-unpivot Generate runs AFTER the agg on the
    # tiny (n_labels × 65) frame, never on the corpus
    assert pa.count_nodes(df, "HashAggregate") >= 2


def test_interval_overlap_join_no_nested_loop(spark, sf):
    """Interval×interval overlap must plan as a binned equi-join."""
    df = QUERIES["interval_overlap_view_purchase"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_chunking_is_scan_pipeline(spark, sf):
    """Sliding-window chunking: bounded explode fan-out in the scan
    stage, zero shuffles."""
    df = QUERIES["chunk_documents_sliding"](spark, sf)
    assert pa.count_nodes(df, "Exchange") == 0

def test_pareto_top20_is_take_ordered_not_global_sort(spark, sf):
    """The r4 verdict scale fix: the Pareto top-20 must plan as
    TakeOrderedAndProject (per-partition top-k + tiny merge), so the
    only window in the query runs over ≤ 20 rows — never a
    single-partition sort of the whole per-customer frame."""
    df = QUERIES["revenue_pareto_curve"](spark, sf)
    assert pa.count_nodes(df, "TakeOrderedAndProject") >= 1, pa.formatted_plan(df)


def test_rfm_scoring_has_no_window_at_all(spark, sf):
    """The r4 verdict scale fix: RFM quartile scores are comparisons
    against one broadcast cut-point row — the physical plan must
    contain zero Window nodes (the three un-partitioned NTILE sorts
    are gone) and broadcast the cuts."""
    df = QUERIES["customer_rfm_segments"](spark, sf)
    assert pa.count_nodes(df, "Window") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") >= 1  # 1-row cut join


def test_volume_shipping_broadcasts_dims_single_fact_scan(spark, sf):
    """Q7 shape: every dimension join must broadcast (no SortMergeJoin)
    so the fact table is scanned once and never shuffled."""
    df = QUERIES["sql_volume_shipping"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 4
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_disjunctive_predicate_reaches_both_scans(spark, sf):
    """Q19 shape: Catalyst must derive the single-table implications of
    the OR-of-ANDs — the quantity-range union reaches the lineitem
    scan, the brand/size union reaches the part scan."""
    df = QUERIES["sql_disjunctive_revenue"](spark, sf)
    assert pa.has_pushed_filter(df, "l_quantity"), pa.pushed_filters(df)
    assert pa.has_pushed_filter(df, "p_brand"), pa.pushed_filters(df)


def test_order_count_distribution_keeps_outer_join_and_double_agg(spark, sf):
    """Q13 shape: the priority filter must stay in the LEFT JOIN's ON
    clause (outer join preserved — zero-order customers survive) and
    both aggregation levels must run partial+final (map-side combine
    before each shuffle)."""
    df = QUERIES["sql_order_count_distribution"](spark, sf)
    assert pa.count_nodes(df, "HashAggregate") >= 4, pa.formatted_plan(df)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_waiting_suppliers_existence_joins_no_nested_loop(spark, sf):
    """Q21 shape: the correlated EXISTS / NOT EXISTS legs must
    decorrelate into existence joins on l_orderkey — at 100 TB that is
    a shuffle of the fact on its natural key (SortMergeJoin is the
    RIGHT plan for the fact-to-fact legs), never a per-outer-row
    re-execution (BroadcastNestedLoopJoin) of the subquery."""
    df = QUERIES["sql_waiting_suppliers"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "SortMergeJoin") >= 1  # fact-to-fact existence legs
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 2  # supplier + orders dims


def test_part_promotion_nested_in_stays_broadcast_semi(spark, sf):
    """Q20 shape: both IN subqueries must become semi joins — the part
    name-filter broadcast INTO the lineitem scan side, the grouped
    survivor set semi-joined against the tiny supplier dim — with no
    shuffle of anything but the fact's grouped aggregation."""
    df = QUERIES["sql_part_promotion_suppliers"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 2, pa.formatted_plan(df)
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_top_revenue_supplier_scalar_max_not_cartesian(spark, sf):
    """Q15 shape: the scalar-max subquery over the CTE must evaluate
    once and compare as a filter (Spark plans it as a scalar subquery
    reference) — never a cartesian of revenue × revenue."""
    df = QUERIES["sql_top_revenue_supplier"](spark, sf)
    assert pa.count_nodes(df, "CartesianProduct") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "SortMergeJoin") == 0  # supplier dim broadcasts


def test_containment_pairs_equi_join_on_lang_block(spark, sf):
    """Containment near-dup: the size ordering is a join CONDITION on
    the lang-equi join, not a join strategy — the plan must stay a
    hash/merge equi join on the block key, never a nested loop over
    the cross product."""
    df = QUERIES["containment_near_dups"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_snapshot_diff_full_outer_on_key_no_nested_loop(spark, sf):
    """Snapshot diff: one full outer equi-join on the snapshot key —
    never a nested loop / cartesian, and the unchanged-row filter sits
    above a single join (delta-sized output from snapshot-sized
    input)."""
    df = QUERIES["snapshot_diff_orders"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_prefix_filtered_containment_no_nested_loop(spark, sf):
    """The containment scale path: candidates come from a (block,
    token) equi-join of the rare-prefix explode against the postings —
    hash/merge joins throughout, no nested loop, no cartesian."""
    df = QUERIES["containment_prefix_filtered"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_important_parts_scalar_subquery_no_join(spark, sf):
    """Q11 shape: the HAVING's global-total scalar subquery must
    evaluate once and fold in as a literal — the plan has aggregates
    only, never a join of the two aggregations."""
    df = QUERIES["sql_important_parts"](spark, sf)
    assert pa.count_nodes(df, "HashAggregate") >= 4, pa.formatted_plan(df)
    for node in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert pa.count_nodes(df, node) == 0


def test_part_supplier_counts_not_in_is_hash_anti_join(spark, sf):
    """Q16 shape: NOT IN must plan as a (null-aware) broadcast HASH
    anti join — the BroadcastNestedLoopJoin fallback is the null-trap
    performance cliff this pin guards against — and count(DISTINCT)
    runs the two-phase distinct aggregation."""
    df = QUERIES["sql_part_supplier_counts"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 2
    assert pa.count_nodes(df, "HashAggregate") >= 4


def test_cheapest_supplier_correlated_min_decorrelates(spark, sf):
    """Q2 shape: the correlated scalar MIN must decorrelate into a
    per-part aggregate joined back (argmin join) — hash joins plus one
    aggregate, no per-outer-row re-execution."""
    df = QUERIES["sql_cheapest_supplier_per_part"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, pa.formatted_plan(df)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 3
    assert pa.count_nodes(df, "HashAggregate") >= 2


def test_q6_scan_only_pushed_filters_no_join(spark, sf):
    """Q6 is the pure scan-aggregate: both predicates reach the parquet
    reader and the plan contains no join at all."""
    df = QUERIES["sql_forecast_revenue"](spark, sf)
    assert pa.has_pushed_filter(df, "l_discount")
    assert pa.has_pushed_filter(df, "l_quantity")
    plan = pa.formatted_plan(df)
    assert "Join" not in plan, plan


def test_q12_single_join_single_agg_pass(spark, sf):
    """Q12's dual CASE-counts must be ONE grouped pass (partial+final),
    never two aggregations joined; the year filter prunes lineitem
    before the join."""
    df = QUERIES["sql_shipmode_priority"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") == 1  # the only join
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    assert pa.count_nodes(df, "HashAggregate") == 2  # partial + final only


def test_bpe_pair_topk_is_take_ordered(spark, sf):
    """The top-20 merge candidates must plan as TakeOrdered (per-
    partition heads), never a global sort of the pair domain."""
    df = QUERIES["bpe_pair_frequencies"](spark, sf)
    plan = pa.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_iterations_use_no_nested_loop(spark, sf):
    """Each power iteration is hash joins + one dst-keyed aggregation;
    a BNLJ would mean the rank join degenerated to a cross product."""
    df = QUERIES["part_copurchase_pagerank"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0


def test_domain_mix_weights_broadcasts_totals(spark, sf):
    """The totals singleton must come back as a broadcast, not a
    shuffle of the per-source frame."""
    df = QUERIES["domain_mix_weights"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") <= 1  # 1x1 singleton
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_ivm_plan_never_rejoins_the_base(spark, sf):
    """The maintained view must appear as a materialized scan
    (ExistingRDD from the localCheckpoint) — the only join in the plan
    is the DELTA joining broadcast dims; a full-history re-join would
    defeat the maintenance."""
    df = QUERIES["incremental_join_maintenance"](spark, sf)
    plan = pa.formatted_plan(df)
    assert "ExistingRDD" in plan, plan
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    # dims join the delta (and the dim-dim build side) as broadcasts only
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 1


def test_kmv_pair_math_runs_on_sketch_frames(spark, sf):
    """After the per-segment sketch (one shuffle + partitioned window),
    every pair-merge join must be broadcast — k-row frames never
    sort-merge. Pinned on the PRODUCTION body: the catalog contract
    deliberately adds the exact-count honesty columns, whose
    corpus-sized user self-join is a legitimate shuffle join."""
    df = BODIES["kmv_audience_overlap"](spark, sf)
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    # the only cross products are the documented 5x5 segment-pair
    # builds (broadcast singletons of the segment list)
    assert pa.count_nodes(df, "CartesianProduct") == 0


def test_pq_adc_rank_exchange_is_skinny(spark, sf):
    """The PQ ADC scan is |queries|x|corpus| rows — the per-query rank
    window's shuffle must carry (query_id, neighbor_id, __adc) ONLY.
    The r7 plan shipped the 64-float __cvec/__qvec through it (~100x
    wider than needed at a billion vectors); this pins the fix: no
    shuffle Exchange anywhere in the pq_topk plan may carry the code
    frame's float vectors, the query vectors, or the raw embedding."""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators import similarity as sim_ops

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    coded, books = sim_ops.pq_build(
        emb, "vec_id", "embedding", dim=64, m=8, n_codes=16
    )
    df = sim_ops.pq_topk(coded, books, q, "vec_id", "embedding", k=5, rerank=50)
    forbidden = {"__cvec", "__qvec", "embedding"}
    for plan_df in (
        df,
        # same contract for the composed IVF-PQ layout (cell-routed ADC)
        sim_ops.ivfpq_topk(
            emb, q, "vec_id", "embedding",
            k=5, n_centroids=4, n_probe=2, dim=64, m=8, n_codes=16, rerank=50,
        ),
    ):
        exchanges = pa.exchange_inputs(plan_df)
        ranked = [
            (args, cols)
            for args, cols in exchanges
            if "hashpartitioning(query_id" in args
        ]
        assert ranked, exchanges  # rank windows must still shuffle on query_id
        for args, cols in exchanges:
            # pin CORPUS-sized exchanges (those carrying neighbor_id);
            # query-side frames are |queries|-bounded and may carry
            # __qvec
            if "neighbor_id" in cols:
                assert not (set(cols) & forbidden), (args, cols)


def test_q3_pushdown_and_takeordered(spark, sf):
    """TPC-H Q3 shape: both date predicates reach their own fact scans
    as PushedFilters (orders by order date, lineitem by ship date) and
    the top-10 plans as TakeOrderedAndProject — never a global sort of
    the grouped frame."""
    df = QUERIES["sql_shipping_priority"](spark, sf)
    assert pa.has_pushed_filter(df, "o_orderdate"), pa.formatted_plan(df)
    assert pa.has_pushed_filter(df, "l_shipdate"), pa.formatted_plan(df)
    assert pa.count_nodes(df, "TakeOrderedAndProject") >= 1, (
        pa.formatted_plan(df)
    )


# ------------------------------------------- round-10 continuation ----


def test_skyline_broadcast_frontier_no_smj(spark, sf):
    """The exact dominance finish joins the tiny per-price frontier
    BROADCAST — a sort-merge join here would shuffle the candidate
    frame for no reason."""
    df = QUERIES["part_price_size_skyline"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 1, pa.formatted_plan(df)
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_hard_negatives_codegen_cosine_no_python(spark, sf):
    """The cosine scan must stay JVM-side (HOF fold, no Python worker)
    and the bounded anchor set must broadcast into the corpus scan;
    ranking exchanges carry scores, never embedding vectors."""
    df = QUERIES["hard_negative_mining"](spark, sf)
    plan = pa.formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") >= 1, plan
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    # fan_out's RoundRobin spread is a deliberate low-SF no-op-at-scale;
    # the pin is about KEYED shuffles (ranking / aggregation exchanges)
    for args, cols in pa.exchange_inputs(df):
        if "RoundRobinPartitioning" in args:
            continue
        assert "embedding" not in cols and "__avec" not in cols, (args, cols)


def test_attribution_shuffles_on_analysis_keys_only(spark, sf):
    """The touch join is an equi-join on user_id (never a time-range
    nested loop) and every exchange hashes on user_id or conv_id."""
    df = QUERIES["multi_touch_attribution"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") == 0, (
        pa.formatted_plan(df)
    )
    for args, cols in pa.exchange_inputs(df):
        if "hashpartitioning" in args:
            assert ("user_id" in args) or ("conv_id" in args) or (
                "channel" in args
            ), (args, cols)


def test_bloom_probe_is_broadcast_only(spark, sf, tmp_path):
    """The decontamination probe's bit-table joins (3 hash functions)
    and the exact-truth join are all broadcast — the corpus shingle
    frame is never shuffled before its doc-keyed rollup. Built through
    the same store-append + shared-probe path the registry entry uses
    (the registry frame itself is eagerly checkpointed for scratch-dir
    hygiene, which hides the probe plan)."""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators import dedup as dedup_ops
    from lab3_lakehouse_spark.operators import sketches
    from lab3_lakehouse_spark.queries.advstats import (
        _DECON_BITS,
        _DECON_K,
        _decon_probe_report,
    )
    from lab3_lakehouse_spark.catalog import load_table

    docs = load_table(spark, sf, "documents")
    shingled = docs.select(
        "doc_id", F.explode(dedup_ops.word_shingles("text", 3)).alias("sh")
    )
    root = str(tmp_path / "bloomstore")
    sketches.bloom_store_append(
        root,
        shingled.filter(F.col("doc_id") % 20 == 0).select("sh").distinct(),
        "sh",
        n_bits=_DECON_BITS,
        n_hashes=_DECON_K,
    )
    bits = sketches.bloom_store_bits(spark, root)
    df = _decon_probe_report(shingled, bits)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 4, pa.formatted_plan(df)
    assert pa.count_nodes(df, "SortMergeJoin") == 0


def test_gram_matrix_exchanges_never_carry_vectors(spark, sf):
    """The covariance audit's whole point: only the fixed d(d+1)/2 cell
    grid crosses an exchange — never an embedding array."""
    df = QUERIES["embedding_feature_covariance"](spark, sf)
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    for args, cols in pa.exchange_inputs(df):
        if "RoundRobinPartitioning" in args:  # fan_out's low-SF spread
            continue
        assert "embedding" not in cols, (args, cols)


def test_jsd_exchanges_carry_counts_never_text(spark, sf):
    """The mixture diagnostic's scale claim: every exchange carries
    (source, token, count) rows or smaller — the document text column
    never crosses a shuffle, and the totals ride broadcasts (no
    SortMergeJoin against a 1-row frame)."""
    df = QUERIES["source_token_jsd"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "RoundRobinPartitioning" in args:  # fan_out's low-SF spread
            continue
        assert "text" not in cols, (args, cols)


def test_calibration_audit_never_collapses_doc_frame(spark, sf):
    """The audit inherits the calibration's two-phase global ranking:
    SinglePartition exchanges exist ONLY for scalar/bounded frames
    (global counts, percentile buffers, the ≤64-row bucket offsets) —
    never for the doc-sized frame itself (collapsing it to one
    partition for a global sort is the anti-pattern global_row_number
    exists to avoid)."""
    df = QUERIES["calibration_threshold_audit"](spark, sf)
    saw_single = False
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" not in args:
            continue
        saw_single = True
        assert "doc_id" not in cols and "n_chars" not in cols, (args, cols)
    assert saw_single  # the pin must have inspected something


def test_leakage_split_assignment_join_keys(spark, sf):
    """After the component CC (checkpointed), the split is ONE doc-keyed
    join plus the component member-count window — every hash exchange
    is keyed on doc_id or component, never on text or token columns."""
    df = QUERIES["leakage_safe_split_assignment"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "hashpartitioning" in args:
            assert ("doc_id" in args) or ("component" in args), (args, cols)
        assert "text" not in cols, (args, cols)


# --------------------------------------------- round-12 new ops ----


def test_token_budget_alloc_one_data_sized_stage(spark, sf):
    """The waterfill's scale claim: the grouped token-count pass is the
    ONLY data-sized stage (partial+final HashAggregate — map-side
    combine before the one exchange); everything downstream runs on the
    bounded per-source frame with broadcast 1-row totals — document
    text never crosses a shuffle and no SortMergeJoin exists."""
    df = QUERIES["token_budget_epoch_allocation"](spark, sf)
    assert pa.count_nodes(df, "HashAggregate") >= 2
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    for args, cols in pa.exchange_inputs(df):
        assert "text" not in cols, (args, cols)


def test_sample_store_append_is_takeordered_not_global_sort(spark, sf):
    """The sample tier's append cost claim: the per-batch bottom-k is
    TakeOrderedAndProject (per-partition top-k + tiny merge), never a
    global range-partitioned sort — the same discipline as
    revenue_pareto_curve's r5 fix, applied to the store write path.
    (The registry frame is localCheckpoint-ed, so the pin drives the
    exact frame sample_store_append writes.)"""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators.sketches import portable_hash60

    docs = load_table(spark, sf, "documents")
    mins = (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
        .select("doc_id", portable_hash60(F.col("doc_id"), 131).alias("h"))
        .orderBy("h", "doc_id")
        .limit(50)
    )
    assert pa.count_nodes(mins, "TakeOrderedAndProject") == 1
    plan = pa.formatted_plan(mins)
    assert "rangepartitioning" not in plan.lower(), plan


def test_conformal_threshold_broadcasts_tau_table(spark, sf):
    """The conformal gate's scale claims: the per-source tau table is
    BROADCAST back onto the holdout scan (never a SortMergeJoin), the
    calibration ranking runs under a source-PARTITIONED window, and no
    doc-sized frame ever collapses to a single partition (scalar
    SinglePartition exchanges carry no score column)."""
    df = QUERIES["conformal_quality_threshold"](spark, sf)
    assert pa.count_nodes(df, "BroadcastHashJoin") >= 1
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" in args:
            assert "score" not in cols, (args, cols)
        assert "text" not in cols, (args, cols)


def test_incremental_split_exchanges_keyed_on_ids_only(spark, sf):
    """The incremental splitter inherits the leakage-split shuffle
    discipline: after the (checkpointed) pair tier, every hash exchange
    is keyed on doc/vertex/component ids — the contracted graph, the
    cluster stats and the final assignment join never shuffle text or
    token columns."""
    df = QUERIES["incremental_split_maintenance"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "hashpartitioning" in args:
            assert (
                ("doc_id" in args)
                or ("component" in args)
                or ("vertex" in args)
                or ("cluster" in args)
                or ("u#" in args)
                or ("v#" in args)
                or ("id_a" in args)
                or ("id_b" in args)
            ), (args, cols)
        assert "text" not in cols, (args, cols)


# --------------------------------------------- round-13 new ops ----


def test_shard_assignment_no_doc_sized_single_partition(spark, sf):
    """The snake sharding's scale claim: the global token-count rank
    runs through the two-phase bucketed ranking — SinglePartition
    exchanges exist only for bounded frames (the ≤64-row bucket
    offsets, the ≤S-row shard totals), never for the doc-sized frame,
    and text never crosses a shuffle."""
    df = QUERIES["deterministic_shard_assignment"](spark, sf)
    saw_single = False
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" in args:
            saw_single = True
            assert "doc_id" not in cols, (args, cols)
        assert "text" not in cols, (args, cols)
    assert saw_single


def test_epoch_shuffle_windows_are_partitioned(spark, sf):
    """The loader-order windows must be PARTITIONED by (shard, epoch) —
    S·E independent sorts — with the only SinglePartition exchanges on
    bounded ranking frames; position ranks shuffle (doc_id, shard,
    epoch, hash) rows, never text."""
    df = QUERIES["epoch_shuffle_plan"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" in args:
            assert "doc_id" not in cols, (args, cols)
        assert "text" not in cols, (args, cols)
    # the (shard, epoch) hash exchange exists
    assert any(
        "hashpartitioning" in args and "shard" in args
        for args, _ in pa.exchange_inputs(df)
    )


def test_semantic_decon_broadcasts_benchmark_side(spark, sf):
    """The decon scan's scale claim: the benchmark side is broadcast
    (BroadcastNestedLoopJoin — a bipartite scan, not a shuffle join)
    and the grouped max exchanges carry (vec_id, label, cosine) rows —
    the corpus embedding vectors never cross a shuffle."""
    df = QUERIES["semantic_decontamination"](spark, sf)
    assert pa.count_nodes(df, "BroadcastNestedLoopJoin") >= 1
    assert pa.count_nodes(df, "SortMergeJoin") == 0
    for args, cols in pa.exchange_inputs(df):
        assert "embedding" not in cols and "__bvec" not in cols, (args, cols)


# --------------------------------------------- round-14 new ops ----


def test_packed_manifest_windows_are_partitioned(spark, sf):
    """packed_batch_manifest's scale claim: the position rank and the
    prefix-sum offset windows are PARTITIONED by (shard, epoch) — S·E
    independent sorts sharing one partitioning — with SinglePartition
    exchanges only on bounded ranking frames, and neither text nor any
    doc-sized frame crossing a global sort."""
    df = QUERIES["packed_batch_manifest"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" in args:
            assert "doc_id" not in cols, (args, cols)
        assert "text" not in cols, (args, cols)
    assert any(
        "hashpartitioning" in args and "shard" in args
        for args, _ in pa.exchange_inputs(df)
    )


def test_quality_classifier_broadcasts_bounded_frames_only(spark, sf):
    """quality_classifier_curriculum's scale claim: the scoring frame
    never carries text across a shuffle, and the only broadcast /
    SinglePartition structures are bounded (the ≤k-row phase totals,
    the bucket offsets; GD coefficients ride as plain literals since
    r14, eliminating the per-step BroadcastExchange — each step still
    recompiles its codegen, the literals are inlined into the
    generated source) — never the doc-sized feature frame."""
    df = QUERIES["quality_classifier_curriculum"](spark, sf)
    for args, cols in pa.exchange_inputs(df):
        if "SinglePartition" in args:
            assert "doc_id" not in cols, (args, cols)
        assert "text" not in cols, (args, cols)
