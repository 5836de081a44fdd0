"""Focused pins for the r15 optimization-round rewrites: every change
claimed value-identical in OPTIMIZATION_r15.md gets an equality test
against the un-optimized formulation it replaced."""

from __future__ import annotations

import re
import shutil
import struct
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lab3_lakehouse_spark.catalog import load_table
from lab3_lakehouse_spark.operators import dedup as dedup_ops
from lab3_lakehouse_spark.operators import similarity as sim_ops

SF = "/root/testdata/sf0.001"


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


# ---------------------------------------------------------------- ADC --


def _adc_udf(books: np.ndarray):
    """The reference ADC scorer (the Arrow-batched UDF every probe ran
    before r15): per distinct query vector in the batch, one
    (m, n_codes) lookup table of subvector→codebook distances; each row
    then scores as m table lookups summed by numpy."""
    m, n_codes, sub = books.shape

    @F.pandas_udf("double")
    def adc(qvs: pd.Series, codes: pd.Series) -> pd.Series:
        luts: dict[bytes, np.ndarray] = {}
        out = np.empty(len(qvs), dtype=np.float64)
        C = np.array(list(codes), dtype=np.int64)
        Q = np.array(list(qvs), dtype=np.float64)
        keys = [q.tobytes() for q in Q]
        for i, key in enumerate(keys):
            lut = luts.get(key)
            if lut is None:
                qs = Q[i].reshape(m, sub)
                lut = ((qs[:, None, :] - books) ** 2).sum(-1)  # (m, n_codes)
                luts[key] = lut
            out[i] = lut[np.arange(m), C[i]].sum()
        return pd.Series(out)

    return adc


def _py_pairwise_sum(a: list[float]) -> float:
    """numpy's pairwise_sum_DOUBLE order in plain Python floats — the
    order sim_ops._np_pairwise_sum reproduces as Columns."""
    n = len(a)
    if n < 8:
        res = a[0] if n else 0.0
        for x in a[1:]:
            res += x
        return res
    if n <= 128:
        r = list(a[:8])
        i = 8
        while i + 8 <= n:
            for j in range(8):
                r[j] += a[i + j]
            i += 8
        res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]))
        for x in a[i:]:
            res += x
        return res
    n2 = (n // 2) - ((n // 2) % 8)
    return _py_pairwise_sum(a[:n2]) + _py_pairwise_sum(a[n2:])


def _skip_unless_numpy_pairwise_order() -> None:
    """The bit-identity pins assume np.sum runs numpy's pairwise
    kernel: 8 accumulators up to 128 terms, halving above (verified
    with numpy 1.26.4). A numpy whose sum no longer follows that order
    is an environment change, not an engine regression: skip."""
    rng = np.random.RandomState(5)
    for n in (3, 8, 13, 64, 129, 300):
        a = rng.randn(n) * np.exp(rng.randn(n) * 6)
        if _bits(float(np.sum(a))) != _bits(_py_pairwise_sum(a.tolist())):
            pytest.skip(
                f"numpy {np.__version__}: np.sum no longer follows the "
                "8-accumulator pairwise order that _np_pairwise_sum "
                "reproduces"
            )


def test_adc_expression_bit_equals_retired_udf(spark):
    """The JVM ADC scorer (driver-built per-query lookup tables from
    _query_luts, scored by _adc_score) must reproduce the retired
    Arrow UDF (_adc_udf above) BIT FOR BIT: ADC scores feed a rank cut
    whose membership decides every PQ / IVF-PQ entry's emitted rows,
    so even one ulp of drift can move a tie. Random heavy-tailed
    vectors and codes across shapes that exercise every
    _np_pairwise_sum branch in the per-subspace table sums (sub<8
    sequential, sub=8 tree, sub>8 block+peel) and in the m-term score
    (m<8, m=8). Assumes numpy's pairwise kernel (see the skip)."""
    _skip_unless_numpy_pairwise_order()
    rng = np.random.RandomState(7)
    for m, n_codes, sub in [(8, 16, 8), (8, 32, 8), (4, 16, 4), (2, 8, 10)]:
        dim = m * sub
        books = rng.randn(m, n_codes, sub) * np.exp(
            rng.randn(m, n_codes, sub) * 4
        )
        qv = rng.randn(8, dim) * np.exp(rng.randn(8, dim) * 3)
        qdf = spark.createDataFrame(
            [(j, [float(x) for x in qv[j]]) for j in range(8)],
            "qid long, qv array<double>",
        )
        rows = []
        for i in range(200):
            j = rng.randint(8)
            codes = rng.randint(0, n_codes, size=m)
            rows.append(
                (i, j, [float(x) for x in qv[j]], [int(c) for c in codes])
            )
        df = spark.createDataFrame(
            rows, "id long, qid long, qv array<double>, codes array<int>"
        ).withColumnRenamed("codes", "__codes")
        luts, _ = sim_ops._query_luts(qdf, "qid", "qv", books)
        got = (
            df.join(luts, df.qid == luts.query_id)
            .select(
                _adc_udf(books)(F.col("qv"), F.col("__codes")).alias("u"),
                sim_ops._adc_score(books).alias("e"),
            )
            .collect()
        )
        assert len(got) == 200
        assert all(_bits(r.u) == _bits(r.e) for r in got), (m, n_codes, sub)


def test_pairwise_sum_expr_bit_equals_numpy_sum(spark):
    """_np_pairwise_sum must reproduce np.sum()'s pairwise summation
    order for ANY length — sequential (n<8), the 8-accumulator block
    with tree combine and tail peel (8<=n<=128), and the recursive
    halving above numpy's PW_BLOCKSIZE. Assumes numpy's pairwise
    kernel (verified with numpy 1.26.4; skipped when np.sum no longer
    follows it)."""
    _skip_unless_numpy_pairwise_order()
    rng = np.random.RandomState(11)
    for n in [1, 3, 7, 8, 9, 15, 16, 17, 64, 127, 128, 129, 200, 1000]:
        a = rng.randn(n) * np.exp(rng.randn(n) * 6)
        got = (
            spark.range(1)
            .select(
                sim_ops._np_pairwise_sum(
                    [F.lit(float(x)) for x in a]
                ).alias("s")
            )
            .first()
            .s
        )
        assert _bits(got) == _bits(float(np.sum(a))), n


def test_query_luts_route_ties_to_lower_cell(spark):
    """Driver-side routing keeps the retired routing window's order,
    (d2, cell): a query equidistant from two centroids goes to the
    LOWER cell id, whatever the centroid list order; the routed cells
    come back sorted for the pushdown; query_id keeps its type."""
    books = np.zeros((2, 4, 1))
    queries = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [3.0, 0.0])], "qid string, v array<float>"
    )
    cents = [(5, [1.0, 0.0]), (2, [-1.0, 0.0]), (9, [0.0, 4.0])]
    luts, cells = sim_ops._query_luts(queries, "qid", "v", books, cents, 1)
    assert dict(luts.select("query_id", "__cell").collect()) == {
        "a": 2, "b": 5,
    }
    assert cells == [2, 5]
    assert luts.schema["query_id"].dataType.simpleString() == "string"
    luts2, cells2 = sim_ops._query_luts(queries, "qid", "v", books, cents, 2)
    assert sorted(luts2.select("query_id", "__cell").collect()) == [
        ("a", 2), ("a", 5), ("b", 2), ("b", 5),
    ]
    assert cells2 == [2, 5]


def _coded_store(spark, emb, root):
    """A store appended with m=8, n_codes=32 codes."""
    meta = sim_ops.ivfpq_store_init(
        root, emb, "vec_id", "embedding",
        n_centroids=4, dim=64, m=8, n_codes=32,
    )
    sim_ops.ivfpq_store_append(
        spark, root, emb, "vec_id", "embedding", meta=meta
    )
    return meta


def test_store_probe_builds_with_one_job(spark):
    """Building a store probe runs ONE Spark job before its action —
    the query-batch collect that routes it and builds its ADC tables
    on the driver (the Spark-side routing ran 4-5: its checkpoint, the
    routed-cell collect and the codes tier's schema inference).
    Counted by job-group ids."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    root = tempfile.mkdtemp(prefix="adc_probe_jobs_")
    sc = spark.sparkContext
    try:
        meta = _coded_store(spark, emb, root)
        sc.setJobGroup("store_probe_build", "store probe build")
        try:
            probe = sim_ops.ivfpq_store_topk(
                spark, root, emb, q, "vec_id", "embedding",
                k=5, n_probe=2, meta=meta,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert probe.count() == 4 * 5  # the action runs outside the group
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
        assert len(sc.statusTracker().getJobIdsForGroup("store_probe_build")) == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_store_probe_fails_loudly_on_stale_codes(spark):
    """Code rows that do not match the probe's metadata — m codes, each
    below n_codes — must fail the probe with the store root in the
    message: a code >= n_codes would read the next subspace's table
    slice and score silently wrong, and a short code array would score
    null and rank FIRST under __adc ASC."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    root = tempfile.mkdtemp(prefix="adc_stale_codes_")
    other = tempfile.mkdtemp(prefix="adc_stale_meta_")
    try:
        cents, _ = _coded_store(spark, emb, root)
        for m, n_codes in [(4, 32), (8, 16)]:
            _, books = sim_ops.ivfpq_store_init(
                other, emb, "vec_id", "embedding",
                n_centroids=4, dim=64, m=m, n_codes=n_codes,
            )
            probe = sim_ops.ivfpq_store_topk(
                spark, root, emb, q, "vec_id", "embedding",
                k=5, n_probe=4, meta=(cents, books),
            )
            with pytest.raises(Exception, match=re.escape(root)):
                probe.collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)


def test_probe_plan_has_no_python_boundary(spark):
    """The r15 point of the ADC rewrite: given an already-encoded code
    frame (materialized, as a persisted index is), the PQ probe plan
    and the full IVF-PQ STORE probe plan contain no ArrowEvalPython /
    BatchEvalPython — the only remaining Python pass is the
    append-path encode (pq_encode), which is amortized ingestion work,
    not probe work."""
    from lab3_lakehouse_spark.plans import analysis as pa

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    coded, books = sim_ops.pq_build(
        emb, "vec_id", "embedding", dim=64, m=8, n_codes=16
    )
    coded = coded.localCheckpoint(eager=True)  # the persisted-index shape
    df = sim_ops.pq_topk(coded, books, q, "vec_id", "embedding", k=5)
    plan = pa.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    root = tempfile.mkdtemp(prefix="r15_probe_store_")
    try:
        meta = sim_ops.ivfpq_store_init(
            root, emb, "vec_id", "embedding",
            n_centroids=8, dim=64, m=8, n_codes=16,
        )
        sim_ops.ivfpq_store_append(
            spark, root, emb, "vec_id", "embedding", meta=meta
        )
        probe = sim_ops.ivfpq_store_topk(
            spark, root, emb, q, "vec_id", "embedding",
            k=5, n_probe=4, meta=meta,
        )
        splan = pa.formatted_plan(probe)
        assert "ArrowEvalPython" not in splan
        assert "BatchEvalPython" not in splan
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------- connected components --


def test_lazy_checkpoint_cc_matches_eager_reference(spark):
    """The r15 per-round job fusion (lazy localCheckpoint materialized
    by the convergence aggregate) must leave hash-min CC's output
    exactly as the eager form computed it — same components, same
    canonical min-id labels — on a graph with chains, a clique and
    singleton-free edges."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r.vertex, r.component)
        for r in dedup_ops.connected_components(edges, "id_a", "id_b").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    # alternating variant got the same fusion; same fixpoint contract
    alt = {
        (r.vertex, r.component)
        for r in dedup_ops.connected_components(
            edges, "id_a", "id_b", algorithm="alternating"
        ).collect()
    }
    assert alt == got


# ------------------------------------------------- banded= guard ----


def test_minhash_banded_passthrough_requires_matching_params(spark):
    """r14 advice: a banded= frame built with different (num_perm,
    bands, seed) than the append kwargs must raise, not write rows the
    params sidecar misdescribes; omitting banded_params raises too."""
    docs = load_table(spark, SF, "documents").limit(20)
    hashed = docs.select(
        F.col("doc_id").alias("__id"),
        dedup_ops.shingle_hashes("text", 3).alias("__h"),
    )
    banded = dedup_ops.banded_signatures(hashed, 64, 32, 42)
    root = tempfile.mkdtemp(prefix="r15_banded_guard_")
    try:
        with pytest.raises(ValueError, match="banded_params"):
            dedup_ops.minhash_store_append(root, hashed, banded=banded)
        with pytest.raises(ValueError, match="one shared tuple"):
            dedup_ops.minhash_store_append(
                root, hashed, bands=16, banded=banded,
                banded_params=(64, 32, 42),
            )
        # matching params still write (the r14 passthrough contract)
        dedup_ops.minhash_store_append(
            root, hashed, bands=32, banded=banded,
            banded_params=(64, 32, 42),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
