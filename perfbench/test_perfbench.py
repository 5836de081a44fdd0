"""The benchmark's own tests: seeded inputs, output checks, and the
metric names it prints. Run with ``python3 -m pytest perfbench -q``
from the repository root; none of these start Spark."""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a = gen.cached(str(tmp_path / "a"), workload, 5, 0.02)
    b = gen.cached(str(tmp_path / "b"), workload, 5, 0.02)
    c = gen.cached(str(tmp_path / "c"), workload, 6, 0.02)
    files = sorted(os.listdir(a.root))
    assert files == sorted(os.listdir(b.root))
    _, mismatch, errors = filecmp.cmpfiles(a.root, b.root, files, shallow=False)
    assert not mismatch and not errors
    assert a.truth == b.truth
    data = [f for f in files if f != "truth.json"]
    _, differ, _ = filecmp.cmpfiles(a.root, c.root, data, shallow=False)
    assert differ, "another seed must give other inputs"


def test_generated_inputs_hold_what_was_planted(tmp_path):
    taxi = gen.cached(str(tmp_path), "taxi_medallion", 3, 0.05)
    clean, dirty = gen.taxi_frames(taxi)
    assert len(dirty) == taxi.truth["n_rejected"] == 6 * taxi.truth["per_rule"]
    assert len(clean) == taxi.truth["silver_rows"]
    dur = (clean.tpep_dropoff_datetime - clean.tpep_pickup_datetime).dt.total_seconds()
    assert (clean.fare_amount > 0).all() and (clean.passenger_count > 0).all()
    assert ((dur > 0) & (dur < 180 * 60)).all()

    corpus = gen.cached(str(tmp_path), "corpus_dedup", 3, 0.05)
    import pandas as pd

    docs = pd.read_parquet(corpus.path("docs.parquet")).set_index("doc_id").text
    for dup in corpus.truth["exact_dup_ids"]:
        assert (docs == docs[dup]).sum() == 2  # the copy and its original
    for a, b in corpus.truth["near_dup_pairs"]:
        assert a < b and docs[a] != docs[b]
    # a lookup expects a doc present exactly when it is kept by truth
    dropped = {b for _, b in corpus.truth["near_dup_pairs"]} | set(corpus.truth["exact_dup_ids"])
    for _, (doc_id, present) in workloads.corpus_read_plan(corpus, 3):
        assert (doc_id not in dropped) == present


def _ann_result(recall: dict, rows_per_probe: int, share: dict | None = None
                ) -> workloads.PassResult:
    res = workloads.PassResult(attempted=7)
    res.out["recall"] = recall
    res.out["rows_read_share"] = share or dict(zip(workloads.N_PROBES, (0.2, 0.5, 1.0)))
    res.out["codes_bytes"] = 1234
    res.reads = [("probe", (p,), 1.0, [None] * rows_per_probe) for p in recall]
    return res


def test_corrupted_output_makes_fail_share_positive(tmp_path):
    inputs = gen.Inputs("ann_store", str(tmp_path), {"top10": {str(q): [] for q in range(4)}})
    good = dict(zip(workloads.N_PROBES, (0.4, 0.8, 0.95)))
    checks = workloads.ann_check(None, _ann_result(good, 40), inputs)
    assert all(checks.values())
    assert run.fail_share(7, 0, checks) == 0.0

    for bad in (
        _ann_result({**good, 4: 0.99}, 40),  # recall falls as n_probe grows
        _ann_result({**good, 16: 0.5}, 40),  # below the recall floor
        _ann_result(good, 39),  # a probe lost a neighbour row
        _ann_result(good, 40, {1: 0.5, 4: 0.3, 16: 1.0}),  # more cells, fewer rows
        _ann_result(good, 40, {1: 0.5, 4: 1.0, 16: 2.0}),  # code rows read twice
    ):
        assert run.fail_share(7, 0, workloads.ann_check(None, bad, inputs)) > 0

    assert not workloads._close([(1, 2, 3.0)], [(1, 2, 3.5)], 1e-6)
    assert workloads._close([(1, 2, 3.0)], [(1, 2, 3.0 + 1e-9)], 1e-6)


def test_survivors_compare_with_the_first_run(tmp_path):
    inputs = gen.Inputs("corpus_dedup", str(tmp_path), {})
    assert workloads._same_as_first_run(inputs, {1, 2, 5})
    assert workloads._same_as_first_run(inputs, {5, 2, 1})
    assert not workloads._same_as_first_run(inputs, {1, 2, 6})
    assert not workloads._same_as_first_run(inputs, {1, 2})


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(40)]
    assert run.tail(xs) == (29.0, 75.0, 10)
    assert run.tail(xs[:5]) == (4.0, 100.0, 0)


def test_printed_metric_names_exist_in_benchmark_json(bench):
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    printed = {k: u for k, u in run.E2E_UNITS.items() if k != "fail_share"}
    assert printed == e2e
    assert bench["per_layer"] == layers.metrics()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_every_name_uses_the_allowed_characters(bench):
    declared = [w["name"] for w in bench["workloads"]] + [
        m["name"] for m in bench["end_to_end"] + bench["per_layer"]
    ]
    assert len(set(declared)) == len(declared), "a name is used twice"
    names = declared + list(run.E2E_UNITS) + list(workloads.WORKLOADS)
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(UNIT.match(u) for u in units)


def test_benchmark_json_shape(bench):
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in bench["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert len(bench["per_layer"]) <= 128
    for span, (_, moves, flat) in layers.CALLS.items():
        assert {w for _, w in moves} | set(flat) <= set(layers.WORKLOADS), span
