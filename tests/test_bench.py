"""Bench harness regression tests.

A bench that times a catalog contract instead of its production body
bills the contract's verification work (a brute-force reference,
exact counts) to the operator: round 2 once showed a phantom 3.5×
regression on ``doc_fingerprint_matches`` that way. These tests pin
the wiring so the bench always times the registered production
bodies (``queries.registry.BODIES``).
"""

from __future__ import annotations

import pytest

import bench
from lab3_lakehouse_spark.queries import BODIES, QUERIES, body


def test_every_body_targets_a_headline_query():
    assert BODIES, "body registry unexpectedly empty"
    for name in BODIES:
        assert name in bench.HEADLINE, f"{name} has a body but is not benched"
        assert name in QUERIES, f"{name} has a body but is not registered"


def test_timed_path_resolves_through_bodies():
    """The timed path must consult BODIES, not QUERIES alone — the
    bug of round 2 (bench bodies defined but never called). The timed
    path is run_single (executed in a fresh child JVM per query);
    main() only orchestrates children."""
    assert "BODIES" in bench.run_single.__code__.co_names
    assert "_child" in bench.main.__code__.co_names


def test_fresh_jvm_child_measures_one_query(monkeypatch):
    """End-to-end child smoke (the r4 verdict isolation fix): forking
    `bench.py --one <name>` must start its own JVM, warm up, time the
    query at $SPARK_GRAFT_SF_DIR and print one parseable JSON line."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", os.environ.get(
        "SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001"))
    secs = bench._child("daily_revenue")
    assert 0 < secs < 120


def test_bodies_differ_from_catalog_contracts():
    """A body that just re-exports its contract entry would silently
    reintroduce the verification work into the timed path."""
    for name, fn in BODIES.items():
        assert fn is not QUERIES[name], f"{name} body is the catalog contract"


def test_body_registration_rejects_unknown_and_duplicate_names():
    """A body must attach to an already-registered contract, once."""
    with pytest.raises(ValueError, match="unregistered"):
        body("no_such_query")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="duplicate"):
        body("ann_ivf_topk")(lambda spark, sf_dir: None)
    assert "no_such_query" not in BODIES


def test_every_body_runs_through_the_noop_sink(spark, sf_small):
    """Execute every registered body end to end at the smallest scale,
    through the bench's own sink: a body the gate never runs must still
    run."""
    for fn in BODIES.values():
        bench.run_full(fn(spark, sf_small))


def test_headline_names_are_registered():
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, f"HEADLINE references unregistered queries: {missing}"


def test_run_order_watch_items_first_every_name_once(monkeypatch):
    """r12 timeout-proofing: the launch order must start with the
    WATCH_FIRST block (this round's verdict-relevant queries) and
    contain every HEADLINE name plus the medallion pipeline plus the
    late-slot A/B sentinel exactly once — a budget-truncated run then
    still carries the numbers the verdict needs. No prior artifact:
    the committed BENCH_LOCAL.json records the core count of the host
    that wrote it, which turns on auto-follow on smaller hosts (its own
    test below)."""
    monkeypatch.setattr(bench, "_prior_local", lambda: {})
    order = bench.run_order()
    assert order[: len(bench.WATCH_FIRST)] == bench.WATCH_FIRST
    assert sorted(order) == sorted(
        [*bench.HEADLINE, "medallion_pipeline", *bench.LATE_AB]
    )
    assert len(order) == len(set(order))
    pool = [*bench.HEADLINE, "medallion_pipeline"]
    unknown = [n for n in bench.WATCH_FIRST if n not in pool]
    assert not unknown, f"WATCH_FIRST not benchable: {unknown}"
    # each A/B sentinel sits at its LATE slot (after the cold-start
    # window) and its base query keeps an earlier slot
    for sentinel, slot in bench.LATE_AB.items():
        assert order.index(sentinel) == slot
        assert order.index(sentinel.removesuffix("__late")) < slot


def test_run_order_rotates_through_prior_skipped(monkeypatch):
    """r12 verdict task #3: entries the prior driver run budget-skipped
    must run immediately after WATCH_FIRST, so driver coverage cycles
    through the whole catalog across rounds instead of re-measuring
    the same prefix forever."""
    fake_skipped = [n for n in bench.HEADLINE if n not in bench.WATCH_FIRST][
        -5:
    ]
    monkeypatch.setattr(
        bench, "_prior_local", lambda: {"skipped": list(fake_skipped)}
    )
    order = bench.run_order()
    no_ab = [n for n in order if n not in bench.LATE_AB]
    got = no_ab[len(bench.WATCH_FIRST) : len(bench.WATCH_FIRST) + 5]
    assert got == fake_skipped
    # unknown names in the prior artifact are ignored, not launched
    monkeypatch.setattr(
        bench, "_prior_local", lambda: {"skipped": ["no_such_query"]}
    )
    assert "no_such_query" not in bench.run_order()


def test_run_order_fixed_subset_env_disables_rotation(monkeypatch):
    """r14 verdict task #2b: SPARK_GRAFT_BENCH_FIXED=1 must freeze the
    launch order to WATCH_FIRST + the static HEADLINE order regardless
    of the prior artifact — two same-round runs then measure the
    identical subset."""
    fake_skipped = [n for n in bench.HEADLINE if n not in bench.WATCH_FIRST][
        -5:
    ]
    monkeypatch.setattr(
        bench, "_prior_local", lambda: {"skipped": list(fake_skipped)}
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FIXED", "1")
    order = [n for n in bench.run_order() if n not in bench.LATE_AB]
    expect = [
        *bench.WATCH_FIRST,
        *[
            n
            for n in [*bench.HEADLINE, "medallion_pipeline"]
            if n not in bench.WATCH_FIRST
        ],
    ]
    assert order == expect


def test_run_order_low_core_run_follows_high_core_subset(monkeypatch):
    """r14 verdict task #2b (auto mode): when BENCH_LOCAL records a
    HIGHER core count than this run, this run is the scaling A/B's
    low-core follower and must replay the recorded launch order
    verbatim (sentinels re-spliced, new watch items at the tail) —
    the r14 c32/c8 pair shared only 3 of ~70 queries because both
    runs rotated."""
    recorded = [n for n in bench.HEADLINE if n not in bench.WATCH_FIRST][:6]
    prior = {
        "cpus": 1 << 20,  # always above this host's core count
        "queries": {
            **{n: 1.0 for n in recorded},
            "ann_store_ivfpq_topk__late": 2.0,  # sentinel: not replayed
        },
        "slots": {
            n: {"slot": i} for i, n in enumerate(reversed(recorded))
        },
        "skipped": [n for n in bench.HEADLINE if n not in recorded][:10],
    }
    monkeypatch.setattr(bench, "_prior_local", lambda: dict(prior))
    order = [n for n in bench.run_order() if n not in bench.LATE_AB]
    # recorded subset first, in the recorded slot order
    assert order[: len(recorded)] == list(reversed(recorded))
    # current watch items not in the recorded subset run at the tail
    assert set(order) == set(recorded) | set(bench.WATCH_FIRST)
    # a same-or-higher-core run (cpus equal/lower in the artifact)
    # still rotates — coverage across rounds is unaffected
    monkeypatch.setattr(
        bench, "_prior_local", lambda: {**prior, "cpus": 1}
    )
    rotated = [n for n in bench.run_order() if n not in bench.LATE_AB]
    assert rotated[: len(bench.WATCH_FIRST)] == bench.WATCH_FIRST


def test_main_streams_lines_budgets_and_persists_incrementally(
    monkeypatch, capsys, tmp_path
):
    """The r11 postmortem contract end-to-end (with a stubbed child):
    one JSON line per completed query streams to stdout, BENCH_LOCAL
    is rewritten after every child, the wall-clock budget stops
    launching children and reports the remainder as skipped, and a
    failing child costs only its own entry."""
    import json
    import time as _time

    ran: list[str] = []
    local_writes: list[dict] = []

    def fake_child(name):
        if name == "__warmup__":  # untimed, never recorded
            return 0.5
        if name == bench.WATCH_FIRST[2]:
            raise RuntimeError("boom")
        ran.append(name)
        _time.sleep(0.02)
        return 1.5

    monkeypatch.setattr(bench, "_child", fake_child)
    monkeypatch.setattr(bench, "_prior_bench", lambda: {})
    monkeypatch.setattr(
        bench, "_write_local", lambda payload: local_writes.append(payload)
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "0.1")
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    bench.main()
    out_lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    # the FINAL line is the compact driver-parseable digest (r12
    # verdict task #2: the full summary outgrew the 2000-char tail;
    # r14 verdict task #2a: it now carries a capped per-query dict —
    # the whole line must still fit the driver's 2000-char tail)
    compact = out_lines[-1]
    assert len(json.dumps(compact, separators=(",", ":"))) < 1700
    assert compact["metric"] == "headline_suite_total"
    assert compact["n_queries"] == len(ran)
    assert compact["n_failed"] == 1
    summary = out_lines[-2]
    # per-query seconds at 1 decimal, WATCH_FIRST included, sentinels
    # excluded, every value matching the full artifact's rounding
    assert compact["queries"]
    assert not [n for n in compact["queries"] if n.endswith("__late")]
    for n, v in compact["queries"].items():
        assert v == round(summary["queries"][n], 1)
    # budget truncated the run: something completed, something skipped
    assert 0 < len(summary["queries"]) < len(bench.run_order())
    assert summary["skipped"]
    assert summary["failed"] == [bench.WATCH_FIRST[2]]
    assert compact["n_skipped"] == len(summary["skipped"])
    # one streamed line per completed child, in launch order (the
    # untimed __warmup__ child streams nothing)
    streamed = out_lines[:-2]
    assert [list(d) for d in streamed] == [[n] for n in ran]
    # BENCH_LOCAL rewritten after every child + once at the end
    assert len(local_writes) == len(ran) + 1
    assert local_writes[-1] is not None and not local_writes[-1].get(
        "partial", False
    )
    assert all(w["partial"] for w in local_writes[:-1])
    # completed + failed + skipped partitions the launch order, except
    # that un-run A/B sentinels never enter the persisted skipped list
    # (they are synthetic names, not catalog rotation sources)
    launched = [*summary["queries"], *summary["failed"], *summary["skipped"]]
    expected = [
        n
        for n in bench.run_order()
        if n not in bench.LATE_AB
        or n in summary["queries"]
        or n in summary["failed"]
    ]
    assert sorted(launched) == sorted(expected)
    assert not [n for n in summary["skipped"] if n in bench.LATE_AB]
