"""Shared lifecycle for the persisted-store families.

The index families persist state between queries — BM25 postings
(operators/text.py), IVF-PQ codes (operators/similarity.py), Bloom
decontamination bits (operators/sketches.py), media perceptual-hash
signatures (operators/multimodal.py), KLL quantile compactors
(operators/sketches.py + streaming/monitor.py), MinHash LSH
band/hash signatures (operators/dedup.py) and the bottom-k sample
tiers — uniform mins + Efraimidis–Spirakis weighted priorities
(operators/sampling.py). They all follow ONE contract, which this
module owns so each family implements only its domain math:

* **Root layout** — a store is a directory of named parquet *tiers*:
  ``{root}/{tier}``. Three tier classes:

  - *data tiers* grow with the corpus and are **append-only**: an
    append writes new files and NEVER reads or rewrites existing ones
    (:func:`append_rows` — the invariant that makes daily ingestion
    against a 100 TB index cost one scan of the day's batch, pinned
    for every family by tests/test_stores.py's parameterized
    file-snapshot test over :func:`snapshot_files`).
  - *sidecar tiers* take one bounded accounting row per appended batch
    (:func:`append_sidecar`) so probes can derive global statistics
    (N, avgdl, key counts) from a batches-sized frame instead of
    rescanning the data tier.
  - *init tiers* hold fitted metadata written once per index build
    (IVF centroids, PQ codebooks — :func:`overwrite_meta_tier`),
    kilobytes regardless of corpus size.

* **Probe reads** — a probe reads the data tier through a pushed-down
  membership filter over the tier's cluster key
  (:func:`pruned_read`): appends cluster their own batch on that key
  (``cluster_expr``/``sort_cols``), so parquet min/max prunes row
  groups and the probe reads index slivers, not the index.

* **GC / compaction** — offline maintenance is the only pass allowed
  to read a data tier wholesale; it writes the re-clustered result to
  a **new** root (:func:`gc_write`, ``mode("error")``) so probes
  against the live root are never disturbed — swap-in is
  :func:`swap_root` (two renames that never overwrite, with documented
  crash recovery; on an object store, the catalog-location repoint).
  Probe results from the compacted tier must be identical (pinned per
  family by the randomized-append GC property tests; probe-equality
  across an executed swap is pinned by test_swap_root_*).

:data:`FAMILIES` is the machine-readable registry of every layout
(one :class:`StoreSpec` per family — count it, don't trust prose);
the parameterized lifecycle tests iterate it so a new family added
here is automatically held to the same contract.
"""
from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_lakehouse_spark import fs


@dataclass(frozen=True)
class StoreSpec:
    """Declared tier layout of one persisted-store family."""

    name: str
    data_tiers: tuple[str, ...]
    sidecar_tiers: tuple[str, ...] = ()
    init_tiers: tuple[str, ...] = ()


FAMILIES: dict[str, StoreSpec] = {
    "bm25": StoreSpec("bm25", ("postings",), ("meta",)),
    "ivfpq": StoreSpec("ivfpq", ("codes",), (), ("centroids", "codebooks")),
    "bloom": StoreSpec("bloom", ("bits",), ("meta",)),
    "phash": StoreSpec("phash", ("signatures",)),
    "kll": StoreSpec("kll", ("kll",)),
    "minhash": StoreSpec("minhash", ("bands", "hashes"), ("params",)),
    "sample": StoreSpec("sample", ("mins", "priorities")),
}


def tier_path(store_root: str, tier: str) -> str:
    return f"{store_root}/{tier}"


def _shaped(
    df: DataFrame,
    *,
    cluster_expr: Column | None = None,
    buckets: int | None = None,
    sort_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cluster a batch for probe-side row-group pruning: repartition on
    the tier's cluster key, sort inside partitions so parquet min/max
    stats are tight. With ``buckets`` alone, just cap the file count
    (tiny streaming batches); with neither, keep the batch's natural
    partitioning (a corpus-sized append's parallelism IS the tier's
    file count)."""
    if cluster_expr is not None:
        if buckets is not None:
            df = df.repartition(buckets, cluster_expr)
        else:  # cluster on the key, count chosen by AQE/defaults
            df = df.repartition(cluster_expr)
    elif buckets is not None:
        df = df.repartition(buckets)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    return df


def append_rows(
    df: DataFrame,
    store_root: str,
    tier: str,
    *,
    cluster_expr: Column | None = None,
    buckets: int | None = None,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Append one batch to a data tier — the ONE write primitive every
    family's ingestion routes through. Cost ∝ the batch, never the
    store: ``mode("append")`` adds files, and nothing here reads the
    existing tier (the append-never-reads-store invariant)."""
    _shaped(
        df, cluster_expr=cluster_expr, buckets=buckets, sort_cols=sort_cols
    ).write.mode("append").parquet(tier_path(store_root, tier))


def append_sidecar(df: DataFrame, store_root: str, tier: str = "meta") -> None:
    """Append one bounded accounting row-set to a sidecar tier (one
    file per batch — the sidecar stays batches-sized, so probes
    aggregate it instead of the data tier).

    Eager localCheckpoint first, the :func:`overwrite_meta_tier`
    lesson applied to the append path too: pushing a driver-local
    relation (``createDataFrame`` of a params/accounting row) straight
    through the parquet writer measures ~5 s PER CALL on this build —
    the write task re-ships the embedded local relation — vs ~0.2 s
    from block storage. Sidecar frames are bounded by contract, so the
    checkpoint is always rows-sized. (Found r14: the r13 params
    sidecar added ~20 s to the minhash_band_rebalance gate entry
    through three un-checkpointed 1-row writes.)"""
    df.localCheckpoint(eager=True).coalesce(1).write.mode("append").parquet(
        tier_path(store_root, tier)
    )


def overwrite_meta_tier(df: DataFrame, store_root: str, tier: str) -> None:
    """(Re)write an init tier of fitted metadata. Eager localCheckpoint
    first: serializing a driver-local Python relation through the
    parquet writer is measured ~10× slower than writing the same
    handful of rows from block storage (the write task re-ships the
    embedded local relation)."""
    df.localCheckpoint(eager=True).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tier_path(store_root, tier))


def read_tier(
    spark, store_root: str, tier: str, *, schema: str | None = None
) -> DataFrame:
    """Read one tier. Pass a DDL ``schema`` when the tier's layout
    gained a column over time (e.g. bloom meta's ``batch_id``, added
    r11): an explicit read schema makes files written before the
    column existed surface it as NULL instead of failing the union —
    the migration-free path for mixed-age stores."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(tier_path(store_root, tier))


def pruned_read(
    spark, store_root: str, tier: str, col: str, values: list
) -> DataFrame:
    """The probe's index read: a bounded membership list pushed as an
    ``IN (…)`` parquet filter onto the clustered tier — row groups
    outside the probe's keys are never read (plan-pinned per family on
    THIS frame; a caller's localCheckpoint would hide the scan). The
    list compiles to a lookup in a referenced hash set
    (:data:`lab3_lakehouse_spark.session.RUNTIME_CONF`), so a probe's
    generated code does not depend on its values and a second probe
    with other keys compiles nothing; a one-value list is the
    exception (planned as ``=``, compiled once per value)."""
    return read_tier(spark, store_root, tier).filter(
        F.col(col).isin(list(values))
    )


def gc_write(
    df: DataFrame,
    dst_root: str,
    tier: str,
    *,
    cluster_expr: Column | None = None,
    buckets: int | None = None,
    sort_cols: tuple[str, ...] = (),
    coalesce: int | None = None,
) -> None:
    """Write one tier of a compacted store. Always to a NEW root with
    ``mode("error")``: GC must never mutate the live store in place —
    probes keep reading ``src_root`` until the caller swaps roots."""
    out = _shaped(
        df, cluster_expr=cluster_expr, buckets=buckets, sort_cols=sort_cols
    )
    if coalesce is not None:
        out = out.coalesce(coalesce)
    out.write.mode("error").parquet(tier_path(dst_root, tier))


def swap_root(spark, live_root: str, new_root: str) -> str:
    """Promote a GC'd store root over the live one — the swap-in step
    the :func:`gc_write` contract leaves to the caller — by
    :func:`lab3_lakehouse_spark.fs.swap`: ``live_root`` is renamed to
    ``live_root + ".retired"``, then ``new_root`` to ``live_root``, with
    rollback if the second rename fails. Returns the retired path; the
    caller deletes it once satisfied (keeping it makes the swap
    trivially reversible). A probe that plans DURING the swap window
    can fail on the briefly-absent path and must retry; on an object
    store, where a directory rename is a copy, the equivalent step is
    the catalog location repoint, which has no window. Refuses to run
    while a previous swap's retired root is present or if ``new_root``
    is no directory."""
    return fs.swap(spark, live_root, new_root)


def snapshot_files(
    spark, store_root: str, tier: str | None = None
) -> dict[str, tuple[int, int]]:
    """(size, mtime ms) per parquet file under a tier (or the whole
    root), listed through :mod:`lab3_lakehouse_spark.fs` so URI roots
    answer like plain paths — the shared harness behind the
    append-never-reads-store tests: snapshot, append, snapshot again;
    every pre-existing file must be byte-identical and the file set
    must grow."""
    base = tier_path(store_root, tier) if tier else store_root
    return {
        p: sig
        for p, sig in fs.list_files(spark, base).items()
        if p.endswith(".parquet")
    }
