"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of ``(seed, size)``: it returns the
files the engine reads plus the *planted truth* the output checks
compare against (counts of dirty rows, exact-duplicate ids, near-dup
pairs, query vectors). Inputs are cached per ``(workload, seed, size)``
under the cache root, written to a temporary directory first and
renamed into place, so an interrupted run never leaves a half cache.

Nothing here imports pyspark: generation runs before the session
exists and outside every timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# --------------------------------------------------------------- sizes --
#: rows per workload; the ``why`` of each size is in BENCHMARK.json
TAXI_TRIPS = 30_000
TAXI_DIRTY_PER_RULE = 100  # × 6 quality rules = 1.5 % dirty rows
TAXI_ZONES = 16
TAXI_DAYS = 90  # 2023-01-01 .. 2023-03-31 → 3 bronze month partitions

ANN_VECTORS = 20_000  # two append batches of 10k
ANN_DIM = 16
ANN_QUERIES = 16
ANN_QUERY_REGIONS = 1  # the query batch sits near this many clusters
ANN_CLUSTERS = 400

CORPUS_UNIQUE = 10_000
CORPUS_EXACT_DUPS = 600
CORPUS_CLUSTERS = 400  # base + 3 one-substitution variants each
CORPUS_CLUSTER_VARIANTS = 3
CORPUS_CHAINS = 6
CORPUS_CHAIN_LEN = 8
CORPUS_VOCAB = 8_000
CORPUS_LEN = (30, 50)  # tokens; see _corpus_tokens for why this range

TAXI_RULES = (
    "fare_positive",
    "distance_positive",
    "passengers_positive",
    "total_positive",
    "pickup_before_dropoff",
    "duration_range",
)


@dataclass(frozen=True)
class Inputs:
    """Where a generated input set lives and what was planted in it."""

    workload: str
    root: str
    truth: dict

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def cached(cache_root: str, workload: str, seed: int, scale: float) -> Inputs:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; the
    cache key includes a digest of this module's size constants."""
    sizes = {k: v for k, v in globals().items() if k.isupper() and k != "GENERATORS"}
    digest = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    tag = f"{workload}-s{seed}-x{scale:g}-{digest}"
    root = os.path.join(cache_root, tag)
    truth_file = os.path.join(root, "truth.json")
    if not os.path.exists(truth_file):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        truth = GENERATORS[workload](tmp, seed, scale)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(truth_file) as f:
        return Inputs(workload, root, json.load(f))


def _n(base: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(base * scale)))


# ---------------------------------------------------------------- taxi --

def taxi(out: str, seed: int, scale: float = 1.0) -> dict:
    """Taxi trips as the reference's CSV (all columns strings), with
    ``TAXI_DIRTY_PER_RULE`` rows planted per quality rule. Every dirty
    row starts clean and breaks exactly the one rule it is planted
    for (the pickup>dropoff rows also have a negative duration, so
    they break ``duration_range`` too — still one rejected row each).
    Clean rows satisfy every rule with margin, so the expected silver
    count and ``n_rejected`` are exact."""
    rng = np.random.RandomState(seed)
    n = _n(TAXI_TRIPS, scale, 600)
    per_rule = _n(TAXI_DIRTY_PER_RULE, scale, 10)
    base = np.datetime64("2023-01-01T00:00:00")
    pickup_s = rng.randint(0, TAXI_DAYS * 86400, n).astype(np.int64)
    dur_s = rng.randint(60, 120 * 60, n).astype(np.int64)
    passengers = rng.randint(1, 5, n)
    distance = np.round(rng.exponential(3.0, n) + 0.1, 2)
    pu = rng.randint(1, TAXI_ZONES + 1, n)
    do = rng.randint(1, TAXI_ZONES + 1, n)
    fare = np.round(2.5 + rng.exponential(12.0, n), 2)
    total = np.round(fare + rng.uniform(0.0, 5.0, n), 2)

    dirty = rng.choice(n, size=per_rule * len(TAXI_RULES), replace=False)
    for i, rule in enumerate(TAXI_RULES):
        rows = dirty[i * per_rule:(i + 1) * per_rule]
        if rule == "fare_positive":
            fare[rows] = -np.round(rng.uniform(0.0, 20.0, len(rows)), 2)
        elif rule == "distance_positive":
            distance[rows] = 0.0
        elif rule == "passengers_positive":
            passengers[rows] = 0
        elif rule == "total_positive":
            total[rows] = -np.round(rng.uniform(1.0, 20.0, len(rows)), 2)
        elif rule == "pickup_before_dropoff":
            dur_s[rows] = -rng.randint(60, 600, len(rows))
        else:  # duration_range: longer than 180 minutes
            dur_s[rows] = rng.randint(181 * 60, 600 * 60, len(rows))

    pickup = base + pickup_s.astype("timedelta64[s]")
    dropoff = base + (pickup_s + dur_s).astype("timedelta64[s]")
    fmt = "%Y-%m-%d %H:%M:%S"
    frame = pd.DataFrame(
        {
            "tpep_pickup_datetime": pd.DatetimeIndex(pickup).strftime(fmt),
            "tpep_dropoff_datetime": pd.DatetimeIndex(dropoff).strftime(fmt),
            "passenger_count": passengers,
            "trip_distance": [f"{x:.2f}" for x in distance],
            "PULocationID": pu,
            "DOLocationID": do,
            "fare_amount": [f"{x:.2f}" for x in fare],
            "total_amount": [f"{x:.2f}" for x in total],
        }
    )
    frame.to_csv(os.path.join(out, "trips.csv"), index=False)
    is_dirty = np.zeros(n, dtype=bool)
    is_dirty[dirty] = True
    np.save(os.path.join(out, "dirty.npy"), is_dirty)
    return {
        "rows": n,
        "n_rejected": int(len(dirty)),
        "silver_rows": int(n - len(dirty)),
        "per_rule": per_rule,
        "input_bytes": os.path.getsize(os.path.join(out, "trips.csv")),
    }


def taxi_frames(inputs: Inputs) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(clean, dirty) trip frames typed like silver — the pandas side
    of every taxi check, built from the CSV the engine reads."""
    raw = pd.read_csv(inputs.path("trips.csv"), dtype=str)
    typed = pd.DataFrame(
        {
            "tpep_pickup_datetime": pd.to_datetime(raw["tpep_pickup_datetime"]),
            "tpep_dropoff_datetime": pd.to_datetime(raw["tpep_dropoff_datetime"]),
            "passenger_count": raw["passenger_count"].astype(np.int32),
            # silver casts to Spark FLOAT: round-trip through float32
            "trip_distance": raw["trip_distance"].astype(np.float32),
            "PULocationID": raw["PULocationID"].astype(np.int32),
            "DOLocationID": raw["DOLocationID"].astype(np.int32),
            "fare_amount": raw["fare_amount"].astype(np.float32),
            "total_amount": raw["total_amount"].astype(np.float32),
        }
    )
    dirty = np.load(inputs.path("dirty.npy"))
    return typed[~dirty].reset_index(drop=True), typed[dirty].reset_index(drop=True)


# ----------------------------------------------------------------- ann --

def ann(out: str, seed: int, scale: float = 1.0) -> dict:
    """Unit vectors from an isotropic mixture of ``ANN_CLUSTERS``
    overlapping Gaussian clusters. The clusters overlap the 16 IVF
    cells' boundaries, so a query's true neighbours spread over
    several cells and recall@10 rises with n_probe (tight, separated
    clusters would sit inside one cell each and make recall flat).
    The queries are drawn from ``ANN_QUERY_REGIONS`` of the clusters
    only, so a low n_probe routes the batch to a few cells and the
    store's ``__cell IN`` pushdown has rows to skip."""
    rng = np.random.RandomState(seed)
    n = _n(ANN_VECTORS, scale, 2_000)
    centers = rng.randn(ANN_CLUSTERS, ANN_DIM)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(k: int, clusters: np.ndarray) -> np.ndarray:
        x = centers[rng.choice(clusters, k)] + 0.35 * rng.randn(k, ANN_DIM)
        return x / np.linalg.norm(x, axis=1, keepdims=True)

    vecs = draw(n, np.arange(ANN_CLUSTERS))
    queries = draw(ANN_QUERIES, rng.choice(ANN_CLUSTERS, ANN_QUERY_REGIONS, replace=False))
    half = n // 2
    for name, lo, hi in (("batch0", 0, half), ("batch1", half, n)):
        pd.DataFrame(
            {"id": np.arange(lo, hi, dtype=np.int64), "vec": list(vecs[lo:hi])}
        ).to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    qid = np.arange(ANN_QUERIES, dtype=np.int64) + 10**9
    pd.DataFrame({"id": qid, "vec": list(queries)}).to_parquet(
        os.path.join(out, "queries.parquet"), index=False
    )
    # exact top-10 by cosine (unit vectors: cosine = dot), ties by id
    sims = queries @ vecs.T
    order = np.lexsort((np.tile(np.arange(n), (len(queries), 1)), -sims), axis=1)
    truth = {str(int(q)): [int(i) for i in order[j, :10]] for j, q in enumerate(qid)}
    return {
        "rows": n,
        "dim": ANN_DIM,
        "top10": truth,
        "input_bytes": sum(
            os.path.getsize(os.path.join(out, f"{b}.parquet"))
            for b in ("batch0", "batch1")
        ),
    }


# -------------------------------------------------------------- corpus --

def _corpus_tokens(rng: np.random.RandomState, vocab: np.ndarray) -> list[str]:
    """One document: 30–50 tokens from a uniform vocabulary. The
    length range is what makes the planted structure exact at a 0.8
    shingle-Jaccard threshold: one substitution changes 3 of n−2
    3-shingles, so Jaccard = (n−5)/(n+1) ≥ 0.8 for n ≥ 30, while two
    substitutions give (n−8)/(n+4) < 0.8 for n ≤ 50 — variants link to
    their base, never to each other, and chains are paths. A uniform
    vocabulary keeps every band bucket at its planted cluster size
    (a Zipf vocabulary grows hot buckets and made verify unsteady)."""
    length = rng.randint(CORPUS_LEN[0], CORPUS_LEN[1] + 1)
    return list(vocab[rng.randint(0, len(vocab), length)])


def _substitute(rng, vocab, toks: list[str], pos: int) -> list[str]:
    out = list(toks)
    new = toks[pos]
    while new == toks[pos]:
        new = vocab[rng.randint(0, len(vocab))]
    out[pos] = new
    return out


def _spaced_positions(rng, length: int, k: int) -> list[int]:
    """k substitution positions ≥3 apart and ≥2 from either end, so
    each substitution changes exactly 3 distinct shingles."""
    slots = np.arange(2, length - 2, 3)
    return sorted(int(p) for p in rng.choice(slots, size=k, replace=False))


def corpus(out: str, seed: int, scale: float = 1.0) -> dict:
    """Documents with planted exact duplicates, near-dup clusters
    (base + variants, one substitution each) and chains (each link one
    more substitution than the last). Ids are assigned so the planted
    base / chain head has the smallest id of its group — the doc the
    pipeline keeps."""
    rng = np.random.RandomState(seed)
    words = np.array(
        ["".join(chr(97 + d) for d in rng.randint(0, 26, rng.randint(4, 9)))
         for _ in range(CORPUS_VOCAB)]
    )
    vocab = np.unique(words)
    docs: list[list[str]] = []
    pairs: list[tuple[int, int]] = []
    for _ in range(_n(CORPUS_CLUSTERS, scale, 5)):
        base = _corpus_tokens(rng, vocab)
        b = len(docs)
        docs.append(base)
        for p in _spaced_positions(rng, len(base), CORPUS_CLUSTER_VARIANTS):
            pairs.append((b, len(docs)))
            docs.append(_substitute(rng, vocab, base, p))
    for _ in range(CORPUS_CHAINS):
        cur = _corpus_tokens(rng, vocab)
        docs.append(cur)
        for p in _spaced_positions(rng, len(cur), CORPUS_CHAIN_LEN - 1):
            pairs.append((len(docs) - 1, len(docs)))
            cur = _substitute(rng, vocab, cur, p)
            docs.append(cur)
    for _ in range(_n(CORPUS_UNIQUE, scale, 50)):
        docs.append(_corpus_tokens(rng, vocab))
    originals = len(docs)
    dup_src = rng.choice(originals, size=_n(CORPUS_EXACT_DUPS, scale, 5), replace=False)
    dup_ids = list(range(originals, originals + len(dup_src)))
    docs.extend(docs[i] for i in dup_src)

    n = len(docs)
    frame = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "source": [f"src{i % 7}" for i in range(n)],
            "text": [" ".join(t) for t in docs],
        }
    ).iloc[rng.permutation(n)]
    frame.to_parquet(os.path.join(out, "docs.parquet"), index=False)
    return {
        "rows": n,
        "exact_dup_ids": dup_ids,
        "near_dup_pairs": pairs,
        "input_bytes": os.path.getsize(os.path.join(out, "docs.parquet")),
    }


GENERATORS = {"taxi_medallion": taxi, "ann_store": ann, "corpus_dedup": corpus}
