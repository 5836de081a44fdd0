"""Window-function operators (absent from the reference — SURVEY §2.7).

Ranking, top-k-per-group, running aggregates, and lag/lead — all stock
``pyspark.sql.window.Window`` specs.

Scale notes: a window spec with ``partitionBy`` shuffles once on the
partition keys and sorts within partitions — the same cost class as a
groupBy. An *unpartitioned* window (global running total) serializes the
whole dataset through one task, so every helper here requires partition
keys; global top-n is expressed as ``orderBy().limit()`` instead, which
Spark executes as per-partition top-n + driver merge (TakeOrdered), not
a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _spec(partition_by: Sequence[str], order_by: Sequence[Column | str]) -> WindowSpec:
    if not partition_by:
        raise ValueError("partition keys required — unpartitioned windows do not scale")
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    rank_col: str = "rn",
    keep_rank: bool = True,
) -> DataFrame:
    """Top-k rows per group via row_number. Use a total (tie-broken)
    ordering for deterministic output."""
    out = df.withColumn(rank_col, F.row_number().over(_spec(partition_by, order_by))).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    method: str = "rank",
    alias: str = "rank",
) -> DataFrame:
    fns = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number,
           "percent_rank": F.percent_rank, "ntile4": lambda: F.ntile(4)}
    if method not in fns:
        raise ValueError(f"method must be one of {sorted(fns)}")
    return df.withColumn(alias, fns[method]().over(_spec(partition_by, order_by)))


def lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    offset: int = 1,
) -> DataFrame:
    spec = _spec(partition_by, order_by)
    return df.withColumn(f"{col}_lag", F.lag(F.col(col), offset).over(spec)).withColumn(
        f"{col}_lead", F.lead(F.col(col), offset).over(spec)
    )


def global_top_n(df: DataFrame, order_by: Sequence[Column], n: int) -> DataFrame:
    """Global top-n: executed as TakeOrdered (per-partition heap + merge),
    NOT a full sort — the scalable way to answer limit-after-order."""
    return df.orderBy(*order_by).limit(n)


def global_row_number(
    df: DataFrame,
    metric: str,
    tie_breakers: Sequence[str],
    rank_col: str = "rank",
    ascending: bool = False,
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic GLOBAL row_number over ``(metric, *tie_breakers)``
    without a single-partition sort — the scale-safe form of
    ``row_number() OVER (ORDER BY ...)``.

    Classic two-phase distributed ranking, expressed entirely as one
    lazy plan (no driver actions, unlike ``repartitionByRange`` whose
    sampled boundaries can differ between job evaluations):

    1. ``approx_percentile`` computes ``n_buckets-1`` cut points of the
       metric in one pass — a single broadcast row.
    2. every row gets a bucket by counting cuts it exceeds; the
       assignment is monotone in the metric, so bucket order IS metric
       order, and equal metrics always share a bucket (the tie-break
       sort never straddles buckets).
    3. per-bucket ``row_number`` (a PARTITIONED window: one shuffle on
       the bucket id) plus each bucket's cumulative predecessor count
       (a ≤ ``n_buckets``-row frame, broadcast back).

    The final rank is EXACT and independent of the cut values — GK
    sketch error only skews bucket sizes, never the rank — which is
    why the approximate percentile is safe here even though the
    operator's output is deterministic. Null metrics are not ranked
    (filter or coalesce first); ``ascending=False`` ranks the largest
    metric 1. Skew note: all-equal metrics degenerate to one bucket
    (inherent — a total order over indistinguishable keys); mix a
    second metric into ``metric`` upstream if that is a real workload.
    """
    m = F.col(metric)
    probs = F.array(
        *[F.lit(i / n_buckets) for i in range(1, n_buckets)]
    )
    cuts = df.agg(
        F.approx_percentile(m.cast("double"), probs, F.lit(10000)).alias("__cuts")
    )
    cmp = (lambda acc, c: acc + F.when(m > c, 1).otherwise(0)) if ascending else (
        lambda acc, c: acc + F.when(m < c, 1).otherwise(0)
    )
    bucketed = df.crossJoin(F.broadcast(cuts)).withColumn(
        "__b",
        F.aggregate(F.col("__cuts"), F.lit(0), cmp),
    ).drop("__cuts")
    counts = bucketed.groupBy("__b").agg(F.count(F.lit(1)).alias("__bn"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__bn").over(w_off), F.lit(0))
    ).drop("__bn")
    order = [m.asc() if ascending else m.desc()] + [F.col(t) for t in tie_breakers]
    w_in = Window.partitionBy("__b").orderBy(*order)
    return (
        bucketed.join(F.broadcast(offsets), "__b")
        .withColumn(
            rank_col,
            (F.row_number().over(w_in) + F.col("__off")).cast("long"),
        )
        .drop("__b", "__off")
    )


def reciprocal_rank_fusion(
    ranked: list[DataFrame],
    *,
    id_col: str,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rrf_k: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — THE
    standard combiner for hybrid retrieval (sparse BM25 + dense ANN):
    every input ranking contributes ``1/(rrf_k + rank)`` for each
    (query, candidate) it surfaced, candidates absent from a system
    contribute nothing there, and the fused top-``topk`` is cut on the
    summed score. Scores never need calibrating across systems — only
    ranks flow in, which is why RRF is the default hybrid in every
    production search stack.

    Determinism: ranks are exact integers, each contribution is one
    IEEE division (identical both engines), and the per-candidate sum
    has ≤ len(ranked) terms — two-term sums are order-insensitive
    bitwise, and callers round4 the fused score before the final rank
    anyway (doc-id tie-break). Inputs are top-k frames (bounded), so
    everything here is broadcast-scale; the heavy lifting happened in
    the upstream rankers.
    """
    contribs = None
    for r in ranked:
        c = r.select(
            query_col,
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(rank_col))).alias(
                "__rrf"
            ),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy(query_col, id_col).agg(
        F.sum("__rrf").alias("__score"),
        F.count(F.lit(1)).cast("long").alias("n_systems"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select(query_col, id_col, "__score", "n_systems", "rank")
    )
