"""Unit tests for queries/advstats.py — skyline, Kaplan–Meier, Welch,
Spearman, Gini, ACF, assortativity. Each test plants a known structure
and checks the operator recovers it (numpy reference implementations
where a closed form exists — scipy is absent in the sandbox)."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from lab3_lakehouse_spark.queries import QUERIES


def _write(spark, tmp_path, table, rows, cols):
    spark.createDataFrame(rows, cols).write.parquet(
        str(tmp_path / f"{table}.parquet")
    )


# ------------------------------------------------------------ skyline ----


def test_local_skyline_prune_keeps_frontier_drops_only_dominated():
    from lab3_lakehouse_spark.queries.advstats import _local_skyline

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "p_partkey": np.arange(400, dtype=np.int64),
            "p_retailprice": rng.uniform(1, 100, 400).round(2),
            "p_size": rng.integers(1, 50, 400).astype(np.int32),
        }
    )
    kept = pd.concat(list(_local_skyline(iter([pdf]))))

    def dominated(row, frame):
        return bool(
            (
                (frame.p_retailprice <= row.p_retailprice)
                & (frame.p_size >= row.p_size)
                & (
                    (frame.p_retailprice < row.p_retailprice)
                    | (frame.p_size > row.p_size)
                )
            ).any()
        )

    true_sky = {
        int(r.p_partkey) for r in pdf.itertuples() if not dominated(r, pdf)
    }
    kept_keys = set(kept.p_partkey.astype(int))
    assert true_sky <= kept_keys, "prune dropped a frontier row"
    dropped = set(pdf.p_partkey.astype(int)) - kept_keys
    for k in dropped:
        row = pdf[pdf.p_partkey == k].iloc[0]
        assert dominated(row, pdf), f"prune dropped non-dominated part {k}"


def test_skyline_matches_bruteforce(spark, tmp_path):
    rows = [
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # tie of 1 -> both kept (no strict dominance)
        (3, 10.0, 4),   # dominated by 1 (same price, smaller)
        (4, 5.0, 3),    # frontier (cheapest-for-size 3)
        (5, 20.0, 9),   # frontier (biggest)
        (6, 25.0, 9),   # dominated by 5 (pricier, same size)
        (7, 4.0, 1),    # frontier (cheapest overall)
        (8, 6.0, 1),    # dominated by 7 and 4
    ]
    _write(spark, tmp_path, "part", rows,
           ["p_partkey", "p_retailprice", "p_size"])
    got = {
        r["part_key"]
        for r in QUERIES["part_price_size_skyline"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {1, 2, 4, 5, 7}


# ------------------------------------------------------ Kaplan–Meier ----


def test_kaplan_meier_hand_computed_with_censoring(spark, tmp_path):
    """3 converters at hours 1, 1, 3; one censored at hour 2; one
    censored at horizon. KM: S(1) = 1 - 2/5 = 0.6; at t=3 risk set is
    {converter3, horizon-censored} = 2 -> S(3) = 0.6 * (1 - 1/2) = 0.3.
    The hour-2 censored subject leaves the risk set WITHOUT counting as
    an event — the property a naive converter-average gets wrong."""
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = []
    # every user: a first event (click, low value) at t0
    for u in ["a", "b", "c", "d", "e"]:
        rows.append((f"s{u}", t0, u, "click", 1.0))
    # converters: high-value purchase at t0+1h (a, b) and t0+3h (c)
    rows.append(("pa", t0 + 1 * h, "a", "purchase", 200.0))
    rows.append(("pb", t0 + 1 * h, "b", "purchase", 150.0))
    rows.append(("pc", t0 + 3 * h, "c", "purchase", 131.0))
    # d: an event at +2h but never a qualifying purchase -> censored at
    # horizon (+5h) NOT at +2h (KM censors at last observation window,
    # which for this contract is the corpus horizon)
    rows.append(("xd", t0 + 2 * h, "d", "purchase", 50.0))
    # e: nothing further -> censored at horizon
    rows.append(("he", t0 + 5 * h, "e", "click", 1.0))
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = {
        r["dur_hours"]: r
        for r in QUERIES["kaplan_meier_conversion"](
            spark, str(tmp_path)
        ).collect()
    }
    # death times: hour 1 (d=2) and hour 3 (d=1); d and e censored at 5h
    assert set(out) == {1, 3}
    assert out[1]["n_events"] == 2 and out[1]["n_at_risk"] == 5
    assert out[1]["survival"] == pytest.approx(0.6, abs=1e-4)
    # at t=3: subjects with dur >= 3 are c (3), d (5h censor), e (5h)
    assert out[3]["n_at_risk"] == 3
    assert out[3]["survival"] == pytest.approx(0.6 * (1 - 1 / 3), abs=1e-4)


def test_kaplan_meier_risk_wipeout_yields_zero_not_null(spark, tmp_path):
    """If the last at-risk subjects all convert at the same hour the
    ln(0) branch must short-circuit to survival 0.0 (Spark's log(0) is
    NULL, DuckDB's is -inf — the guarded CASE keeps both at 0.0)."""
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = []
    for u in ["a", "b"]:
        rows.append((f"s{u}", t0, u, "click", 1.0))
        rows.append((f"p{u}", t0 + 2 * h, u, "purchase", 999.0))
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = QUERIES["kaplan_meier_conversion"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 2 and out[0]["n_at_risk"] == 2
    assert out[0]["survival"] == 0.0


# ------------------------------------------------------ Welch t-test ----


def test_welch_matches_numpy(spark, sf_small):
    out = QUERIES["welch_ttest_purchase_click"](spark, sf_small).first()
    ev = pd.read_parquet(f"{sf_small}/events.parquet")
    a = ev[(ev.event_type == "purchase") & ev.value.notna()].value.to_numpy()
    b = ev[(ev.event_type == "click") & ev.value.notna()].value.to_numpy()
    na, nb = len(a), len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    t = (a.mean() - b.mean()) / math.sqrt(va / na + vb / nb)
    df = (va / na + vb / nb) ** 2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    assert out["n_a"] == na and out["n_b"] == nb
    assert out["t_stat"] == pytest.approx(t, abs=2e-4)
    assert out["welch_df"] == pytest.approx(df, rel=1e-3)


# --------------------------------------------------------- Spearman ----


def _avg_ranks(x: np.ndarray) -> np.ndarray:
    order = np.argsort(x, kind="stable")
    ranks = np.empty(len(x), dtype=float)
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j + 1 < len(sx) and sx[j + 1] == sx[i]:
            j += 1
        ranks[order[i: j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def test_spearman_matches_numpy_average_ranks(spark, sf_small):
    out = {
        r["event_type"]: r
        for r in QUERIES["spearman_value_hour"](spark, sf_small).collect()
    }
    ev = pd.read_parquet(f"{sf_small}/events.parquet")
    ev = ev[ev.value.notna()]
    for etype, grp in ev.groupby("event_type"):
        rx = _avg_ranks(grp.value.to_numpy())
        ry = _avg_ranks(grp.ts.dt.hour.to_numpy().astype(float))
        rho = np.corrcoef(rx, ry)[0, 1]
        assert out[etype]["n_events"] == len(grp)
        assert out[etype]["spearman_rho"] == pytest.approx(rho, abs=2e-4), etype


def test_spearman_perfect_monotone_is_one(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (f"e{i}", t0 + dt.timedelta(hours=i % 24), "u", "click",
         float(i % 24) * 3.0 + 1.0)
        for i in range(48)
    ]
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = QUERIES["spearman_value_hour"](spark, str(tmp_path)).first()
    assert out["spearman_rho"] == pytest.approx(1.0, abs=1e-4)


# ------------------------------------------------------------- Gini ----


def test_gini_equal_spend_is_zero_and_concentration_is_high(spark, tmp_path):
    orders = []
    # segment EQ: 10 customers, one order of 100 each -> Gini 0
    for i in range(10):
        orders.append((1000 + i, 100 + i, 100.0))
    # segment SKEW: 9 customers spend 1, one spends 1000
    for i in range(9):
        orders.append((2000 + i, 200 + i, 1.0))
    orders.append((2009, 209, 1000.0))
    custs = [(100 + i, "EQ") for i in range(10)] + [
        (200 + i, "SKEW") for i in range(10)
    ]
    _write(spark, tmp_path, "orders", orders,
           ["o_orderkey", "o_custkey", "o_totalprice"])
    _write(spark, tmp_path, "customer", custs, ["c_custkey", "c_mktsegment"])
    out = {
        r["segment"]: r
        for r in QUERIES["gini_segment_spend"](spark, str(tmp_path)).collect()
    }
    assert out["EQ"]["gini"] == pytest.approx(0.0, abs=1e-4)
    # exact rank formula on [1]*9 + [1000]
    x = np.array([1.0] * 9 + [1000.0])
    rn = np.arange(1, 11)
    g = (2 * (rn * x).sum() - 11 * x.sum()) / (10 * x.sum())
    assert out["SKEW"]["gini"] == pytest.approx(g, abs=1e-4)
    assert out["SKEW"]["n_customers"] == 10


def test_gini_matches_numpy_on_real_data(spark, sf_small):
    out = {
        r["segment"]: r["gini"]
        for r in QUERIES["gini_segment_spend"](spark, sf_small).collect()
    }
    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    cust = pd.read_parquet(f"{sf_small}/customer.parquet")
    spend = (
        orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
        .groupby(["c_mktsegment", "o_custkey"])["o_totalprice"]
        .sum()
        .reset_index()
    )
    for seg, grp in spend.groupby("c_mktsegment"):
        x = np.sort(grp.o_totalprice.to_numpy())
        n = len(x)
        rn = np.arange(1, n + 1)
        g = (2 * (rn * x).sum() - (n + 1) * x.sum()) / (n * x.sum())
        assert out[seg] == pytest.approx(g, abs=1e-3), seg


# -------------------------------------------------------------- ACF ----


def test_acf_detects_weekly_cycle(spark, tmp_path):
    """Planted period-7 series: lag-7 autocorrelation ~1, lag-1 far
    below it."""
    base = dt.datetime(2024, 1, 1)
    pattern = [100.0, 200.0, 300.0, 400.0, 300.0, 200.0, 100.0]
    rows = [
        (i, base + dt.timedelta(days=i), pattern[i % 7])
        for i in range(70)
    ]
    _write(spark, tmp_path, "orders", rows,
           ["o_orderkey", "o_orderdate", "o_totalprice"])
    out = {
        r["lag"]: r
        for r in QUERIES["acf_daily_revenue"](spark, str(tmp_path)).collect()
    }
    assert set(out) == set(range(1, 8))
    assert out[7]["acf"] > 0.85
    assert out[7]["acf"] > out[1]["acf"] + 0.3
    assert out[7]["n_pairs"] == 63


def test_acf_matches_numpy(spark, sf_small):
    out = {
        r["lag"]: r["acf"]
        for r in QUERIES["acf_daily_revenue"](spark, sf_small).collect()
    }
    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    daily = (
        orders.assign(day=orders.o_orderdate.dt.floor("D"))
        .groupby("day")["o_totalprice"]
        .sum()
        .sort_index()
        .to_numpy()
    )
    # mirror the engine's round4 pinning of the daily series + mean
    daily = np.floor(daily * 1e4 + 0.5) / 1e4
    mu = math.floor(daily.mean() * 1e4 + 0.5) / 1e4
    den = ((daily - mu) ** 2).sum()
    for k in range(1, 8):
        num = ((daily[:-k] - mu) * (daily[k:] - mu)).sum()
        assert out[k] == pytest.approx(num / den, abs=2e-4), k


# ----------------------------------------------- degree assortativity ----


def test_assortativity_star_graph_is_minus_one(spark, tmp_path):
    """Baskets {hub, leaf_i} build a star: every edge joins the deg-k
    hub to a deg-1 leaf -> assortativity exactly -1."""
    rows = []
    for i in range(1, 9):
        rows.append((i, 999))      # hub part in every order
        rows.append((i, i))        # one distinct leaf per order
    _write(spark, tmp_path, "lineitem", rows, ["l_orderkey", "l_partkey"])
    out = QUERIES["copurchase_degree_assortativity"](
        spark, str(tmp_path)
    ).first()
    assert out["n_nodes"] == 9 and out["n_edges"] == 8
    assert out["assortativity"] == pytest.approx(-1.0, abs=1e-4)


def test_assortativity_matches_numpy(spark, sf_small):
    out = QUERIES["copurchase_degree_assortativity"](spark, sf_small).first()
    li = pd.read_parquet(f"{sf_small}/lineitem.parquet")
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs.l_partkey_x < pairs.l_partkey_y]
    e = pairs[["l_partkey_x", "l_partkey_y"]].drop_duplicates()
    deg = pd.concat(
        [e.l_partkey_x, e.l_partkey_y]
    ).value_counts()
    x = np.concatenate([deg[e.l_partkey_x].to_numpy(float),
                        deg[e.l_partkey_y].to_numpy(float)])
    y = np.concatenate([deg[e.l_partkey_y].to_numpy(float),
                        deg[e.l_partkey_x].to_numpy(float)])
    r = np.corrcoef(x, y)[0, 1]
    assert out["n_edges"] == len(e)
    assert out["assortativity"] == pytest.approx(r, abs=2e-4)


# ---------------------------------------------- OOF target encoding ----


def test_target_encoding_oof_excludes_own_fold(spark, tmp_path):
    """Recompute every fold's OOF mean in pandas using the engine's own
    fold assignment (recovered from n_rows + the OOF identity) and
    check each row's encoding equals the mean of the OTHER folds."""
    from lab3_lakehouse_spark.queries.advstats import _TE_K

    rows = [(i, "HIGH", float(100 + i)) for i in range(200)]
    _write(spark, tmp_path, "orders", rows,
           ["o_orderkey", "o_orderpriority", "o_totalprice"])
    out = QUERIES["fold_target_encoding"](spark, str(tmp_path)).toPandas()
    assert set(out.fold) == set(range(_TE_K))
    assert out.n_rows.sum() == 200
    total = sum(100.0 + i for i in range(200))
    full = total / 200.0
    pdf = out.set_index("fold")
    for f in range(_TE_K):
        assert pdf.loc[f, "full_mean"] == pytest.approx(full, abs=1e-4)
        assert pdf.loc[f, "leak_delta"] == pytest.approx(
            full - pdf.loc[f, "oof_mean"], abs=2e-4
        )
    # recover each fold's sum from the OOF identity; the fold sums must
    # reassemble the exact total (the subtraction identity is lossless)
    s_fs = [
        total - pdf.loc[f, "oof_mean"] * (200 - pdf.loc[f, "n_rows"])
        for f in range(_TE_K)
    ]
    assert sum(s_fs) == pytest.approx(total, rel=1e-4)
    # and no two folds share the same encoding on this asymmetric data
    assert len(set(out.oof_mean.round(4))) == _TE_K


# ------------------------------------------- embedding covariance ----


def test_embedding_covariance_planted_duplicate_dim(spark, tmp_path):
    """dim1 duplicates dim0 -> corr exactly 1 and cov(0,1)=var(0);
    diag corr is exactly 1 everywhere."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, d = 300, 64
    x = rng.normal(0, 1, (n, d)).astype(np.float32)
    x[:, 1] = x[:, 0]
    rows = [(i, x[i].tolist(), int(i % 3)) for i in range(n)]
    _write(spark, tmp_path, "embeddings", rows,
           ["vec_id", "embedding", "label"])
    out = QUERIES["embedding_feature_covariance"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(out) == d * (d + 1) // 2
    cell = out.set_index(["i", "j"])
    assert cell.loc[(0, 1), "corr"] == pytest.approx(1.0, abs=1e-4)
    assert cell.loc[(0, 1), "cov"] == pytest.approx(
        cell.loc[(0, 0), "cov"], abs=1e-3
    )
    diag = out[out.i == out.j]
    assert (diag["corr"] - 1.0).abs().max() < 1e-9
    # cross-check one off-diagonal cell against numpy population cov
    x64 = x.astype(np.float64)
    c = np.cov(x64[:, 2], x64[:, 3], ddof=0)[0, 1]
    assert cell.loc[(2, 3), "cov"] == pytest.approx(c, abs=1e-3)


# ---------------------------------------------------- Mann-Whitney ----


def test_mannwhitney_matches_numpy(spark, sf_small):
    import numpy as np

    out = QUERIES["mannwhitney_value_shift"](spark, sf_small).first()
    ev = pd.read_parquet(f"{sf_small}/events.parquet")
    a = ev[(ev.event_type == "purchase") & ev.value.notna()].value.to_numpy()
    b = ev[(ev.event_type == "click") & ev.value.notna()].value.to_numpy()
    allv = np.concatenate([a, b])
    ranks = _avg_ranks(allv)
    r_a = ranks[: len(a)].sum()
    na, nb, nn = len(a), len(b), len(allv)
    u = r_a - na * (na + 1) / 2.0
    _, t = np.unique(allv, return_counts=True)
    tie = (t ** 3 - t).sum()
    var = (na * nb / 12.0) * ((nn + 1) - tie / (nn * (nn - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(var)
    assert out["n_a"] == na and out["n_b"] == nb
    assert out["u_stat"] == pytest.approx(u, abs=1e-6)
    assert out["z_score"] == pytest.approx(z, abs=2e-4)


def test_mannwhitney_total_separation(spark, tmp_path):
    """All purchase values above all click values -> U = na*nb."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"p{i}", t0, "u", "purchase", 100.0 + i) for i in range(10)]
    rows += [(f"c{i}", t0, "u", "click", float(i)) for i in range(20)]
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = QUERIES["mannwhitney_value_shift"](spark, str(tmp_path)).first()
    assert out["u_stat"] == 200.0
    assert out["z_score"] > 4.0


# ---------------------------------------------- conversion z-test ----


def test_conversion_ztest_hand_computed(spark, tmp_path):
    """view-first users convert 3/4, click-first 1/4 -> z from the
    pooled formula by hand."""
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = []
    for i, u in enumerate(["v1", "v2", "v3", "v4"]):
        rows.append((f"f{u}", t0 + i * m, u, "view", 1.0))
    for i, u in enumerate(["c1", "c2", "c3", "c4"]):
        rows.append((f"f{u}", t0 + i * m, u, "click", 1.0))
    for u in ["v1", "v2", "v3", "c1"]:
        rows.append((f"p{u}", t0 + dt.timedelta(hours=1), u, "purchase", 200.0))
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = QUERIES["conversion_rate_ztest"](spark, str(tmp_path)).first()
    assert (out["n_view"], out["conv_view"]) == (4, 3)
    assert (out["n_click"], out["conv_click"]) == (4, 1)
    p = 4 / 8
    z = (0.75 - 0.25) / math.sqrt(p * (1 - p) * (1 / 4 + 1 / 4))
    assert out["z_score"] == pytest.approx(z, abs=1e-4)


def test_conversion_ztest_degenerate_pool_is_null(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("f1", t0, "a", "view", 1.0),
        ("f2", t0, "b", "click", 1.0),
        ("p1", t0 + dt.timedelta(hours=1), "a", "purchase", 999.0),
        ("p2", t0 + dt.timedelta(hours=1), "b", "purchase", 999.0),
    ]
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = QUERIES["conversion_rate_ztest"](spark, str(tmp_path)).first()
    assert out["rate_view"] == 1.0 and out["rate_click"] == 1.0
    assert out["z_score"] is None


# ------------------------------------------------- Holt-Winters ----


def test_holt_winters_perfect_weekly_pattern_zero_residual(spark, tmp_path):
    """A pure period-7 series: the first-week init captures the season
    exactly, level stays at the mean, trend at 0 -> every in-sample
    forecast is exact (residual 0 for all post-warm-up days)."""
    base = dt.datetime(2024, 1, 1)
    pattern = [100.0, 220.0, 340.0, 400.0, 340.0, 220.0, 100.0]
    rows = [(i, base + dt.timedelta(days=i), pattern[i % 7])
            for i in range(35)]
    _write(spark, tmp_path, "orders", rows,
           ["o_orderkey", "o_orderdate", "o_totalprice"])
    out = QUERIES["holt_winters_weekly"](spark, str(tmp_path)).toPandas()
    assert len(out) == 28
    assert (out.residual.abs() < 1e-6).all()
    assert (out.trend.abs() < 1e-6).all()


def test_holt_winters_matches_numpy_recursion(spark, sf_small):
    import numpy as np

    from lab3_lakehouse_spark.queries.advstats import (
        _HW_A, _HW_A1, _HW_B, _HW_B1, _HW_G, _HW_G1, _HW_P,
    )

    out = QUERIES["holt_winters_weekly"](spark, sf_small).toPandas()
    orders = pd.read_parquet(f"{sf_small}/orders.parquet")
    daily = (
        orders.assign(day=orders.o_orderdate.dt.floor("D"))
        .groupby("day")["o_totalprice"].sum().sort_index().to_numpy()
    )
    daily = np.floor(daily * 1e4 + 0.5) / 1e4
    l = math.floor(daily[:_HW_P].sum() / _HW_P * 1e4 + 0.5) / 1e4
    b = 0.0
    s = list(daily[:_HW_P] - l)
    fcs = []
    for t in range(_HW_P, len(daily)):
        x = daily[t]
        fcs.append(l + b + s[0])
        lnew = _HW_A * (x - s[0]) + _HW_A1 * (l + b)
        bnew = _HW_B * (lnew - l) + _HW_B1 * b
        snew = _HW_G * (x - lnew) + _HW_G1 * s[0]
        l, b = lnew, bnew
        s = s[1:] + [snew]
    assert len(out) == len(fcs)
    got = out.sort_values("day").forecast.to_numpy()
    assert np.allclose(got, np.array(fcs), atol=2e-4)


# ------------------------------------- decontamination Bloom store ----


def test_bloom_store_union_semantics(spark, tmp_path):
    """Two disjoint appends merge to the one-shot build over the union
    of keys (bit sets are a union). The append-never-reads-store file
    snapshot is the shared parameterized lifecycle test in
    tests/test_stores.py."""
    from lab3_lakehouse_spark.operators import sketches

    keys = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)], ["sh"]
    )
    root = str(tmp_path / "bloom")
    sketches.bloom_store_append(
        root, keys.filter("sh < 'key1'"), "sh", n_bits=4096, n_hashes=3
    )
    sketches.bloom_store_append(
        root, keys.filter("sh >= 'key1'"), "sh", n_bits=4096, n_hashes=3
    )
    merged = {
        r["bit"] for r in sketches.bloom_store_bits(spark, root).collect()
    }
    oneshot = {
        r["bit"]
        for r in sketches.bloom_build(keys, "sh", 4096, 3).collect()
    }
    assert merged == oneshot


def test_decon_bloom_flags_planted_copy_no_false_negatives(spark, tmp_path):
    """doc 1 copies benchmark doc 10 verbatim -> flagged with
    exact_frac 1.0; a disjoint-vocabulary doc is absent; bloom_frac >=
    exact_frac on every emitted row."""
    bench_text = " ".join(f"tok{i}" for i in range(40))
    clean_text = " ".join(f"other{i}" for i in range(40))
    rows = [
        (10, bench_text, "en", "web", 1),       # benchmark (10 % 10 == 0)
        (20, clean_text, "en", "web", 1),       # benchmark 2 (disjoint)
        (1, bench_text, "en", "web", 1),        # contaminated corpus doc
        (3, " ".join(f"x{i}" for i in range(40)), "en", "web", 1),  # clean
    ]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = {
        r["doc_id"]: r
        for r in QUERIES["decontamination_bloom_store"](
            spark, str(tmp_path)
        ).collect()
    }
    assert 1 in out and 3 not in out
    assert out[1]["exact_frac"] == pytest.approx(1.0, abs=1e-4)
    for r in out.values():
        assert r["no_false_negatives"]
        assert r["bloom_frac"] >= r["exact_frac"] - 1e-9


# ------------------------------------------------------- Heaps' law ----


def test_heaps_beta_one_for_all_unique_tokens(spark, tmp_path):
    """Every token globally unique -> V(n) = n -> beta ~ 1."""
    rows = [
        (i, " ".join(f"u{i}_{j}" for j in range(20)), "en", "web", 1)
        for i in range(64)
    ]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["heaps_vocabulary_growth"](spark, str(tmp_path)).first()
    assert out["heaps_beta"] == pytest.approx(1.0, abs=1e-3)


def test_heaps_beta_zero_for_closed_vocabulary(spark, tmp_path):
    """Identical docs -> vocabulary saturates at doc 1 -> beta ~ 0."""
    text = " ".join(f"w{j}" for j in range(20))
    rows = [(i, text, "en", "web", 1) for i in range(64)]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["heaps_vocabulary_growth"](spark, str(tmp_path)).toPandas()
    assert (out.vocab == 20).all()
    assert abs(out.heaps_beta.iloc[0]) < 1e-6


# ------------------------------------------------ hard negatives ----


def test_hard_negatives_exclude_same_label_and_rank_planted(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(5)
    d = 16
    base = rng.normal(0, 1, d)
    rows = []
    # anchor: vec_id 0 (0 % 31 == 0), label 0
    rows.append((0, base.tolist(), 0))
    # same-label twin (cos ~1) must NEVER appear as a negative
    rows.append((1, (base + rng.normal(0, 0.001, d)).tolist(), 0))
    # different-label near-twin -> must be rank 1
    rows.append((2, (base + rng.normal(0, 0.01, d)).tolist(), 1))
    # far different-label vectors
    for i in range(3, 30):
        rows.append((i, rng.normal(0, 1, d).tolist(), 1 + i % 2))
    _write(spark, tmp_path, "embeddings", rows,
           ["vec_id", "embedding", "label"])
    out = QUERIES["hard_negative_mining"](spark, str(tmp_path)).toPandas()
    a0 = out[out.anchor_id == 0].sort_values("rank")
    assert len(a0) == 5
    assert (a0.negative_label != 0).all()
    assert 1 not in set(a0.negative_id)
    assert a0.iloc[0].negative_id == 2
    assert a0.iloc[0].cosine > 0.99


def test_hard_negatives_match_numpy_on_real_data(spark, sf_small):
    import numpy as np

    out = QUERIES["hard_negative_mining"](spark, sf_small).toPandas()
    emb = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    x = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()
    from lab3_lakehouse_spark.queries.advstats import _HN_ANCHOR_MOD, _HN_K
    for a in np.where(ids % _HN_ANCHOR_MOD == 0)[0]:
        sims = xn @ xn[a]
        mask = labels != labels[a]
        order = sorted(
            [(float(-sims[i]), int(ids[i])) for i in np.where(mask)[0]]
        )[:_HN_K]
        want = [v for _, v in order]
        got = (
            out[out.anchor_id == ids[a]]
            .sort_values("rank")
            .negative_id.tolist()
        )
        assert got == want, ids[a]


# --------------------------------------- streaming Bloom ingestion ----


def test_streaming_bloom_equals_batch_store(spark, sf_small):
    """The stream-fed Bloom tier must yield the IDENTICAL contamination
    report as the batch-built store (same bits -> same probe)."""
    batch = sorted(
        tuple(r)
        for r in QUERIES["decontamination_bloom_store"](
            spark, sf_small
        ).collect()
    )
    stream = sorted(
        tuple(r)
        for r in QUERIES["streaming_bloom_decontamination"](
            spark, sf_small
        ).collect()
    )
    assert stream == batch
    assert len(stream) > 0


# ------------------------------------------ multi-touch attribution ----


def test_attribution_position_weights_hand_computed(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 10)
    h = dt.timedelta(hours=1)
    rows = [
        # user a: view, click, view -> purchase 100 (40/20/40)
        ("t1", t0 + 1 * h, "a", "view", 1.0),
        ("t2", t0 + 2 * h, "a", "click", 1.0),
        ("t3", t0 + 3 * h, "a", "view", 1.0),
        ("p1", t0 + 4 * h, "a", "purchase", 100.0),
        # user b: single click -> purchase 50 (100%)
        ("t4", t0 + 1 * h, "b", "click", 1.0),
        ("p2", t0 + 2 * h, "b", "purchase", 50.0),
        # user c: view then click -> purchase 80 (50/50)
        ("t5", t0 + 1 * h, "c", "view", 1.0),
        ("t6", t0 + 2 * h, "c", "click", 1.0),
        ("p3", t0 + 3 * h, "c", "purchase", 80.0),
        # user d: touch OUTSIDE the 7-day window -> no attribution rows
        ("t7", t0 - dt.timedelta(days=8), "d", "view", 1.0),
        ("p4", t0, "d", "purchase", 999.0),
    ]
    _write(spark, tmp_path, "events", rows,
           ["event_id", "ts", "user_id", "event_type", "value"])
    out = {
        r["channel"]: r
        for r in QUERIES["multi_touch_attribution"](
            spark, str(tmp_path)
        ).collect()
    }
    # view: p1 first (40) + p1 last (40) + p3 first of two (50% of 80)
    assert out["view"]["credited_revenue"] == pytest.approx(
        0.4 * 100 + 0.4 * 100 + 0.5 * 80, abs=1e-4
    )
    # click: p1 middle (20) + p2 solo (100%) + p3 last of two (40)
    assert out["click"]["credited_revenue"] == pytest.approx(
        0.2 * 100 + 1.0 * 50 + 0.5 * 80, abs=1e-4
    )
    assert out["view"]["n_touches"] == 3
    assert out["click"]["n_touches"] == 3
    # books balance: total credit = total touched revenue (d excluded)
    total = sum(r["credited_revenue"] for r in out.values())
    assert total == pytest.approx(230.0, abs=1e-3)
    # credited conversions sum to the number of touched conversions
    convs = sum(r["credited_conversions"] for r in out.values())
    assert convs == pytest.approx(3.0, abs=1e-6)


def test_attribution_books_balance_on_real_data(spark, sf_small):
    out = QUERIES["multi_touch_attribution"](spark, sf_small).toPandas()
    ev = pd.read_parquet(f"{sf_small}/events.parquet")
    ev = ev.sort_values("ts")
    purch = ev[(ev.event_type == "purchase") & ev.value.notna()]
    touch = ev[ev.event_type.isin(["view", "click"])]
    w = pd.Timedelta(days=7)
    touched_total = 0.0
    n_touched = 0
    for p in purch.itertuples():
        t = touch[(touch.user_id == p.user_id)
                  & (touch.ts < p.ts) & (touch.ts >= p.ts - w)]
        if len(t):
            touched_total += p.value
            n_touched += 1
    assert out.credited_revenue.sum() == pytest.approx(
        touched_total, rel=1e-4
    )
    assert out.credited_conversions.sum() == pytest.approx(
        n_touched, rel=1e-6
    )


# ------------------------------------ hard negatives via ANN store ----


def test_hard_negative_store_recall_contract(spark, sf_medium):
    """The store-probe leg must recover >= the floor of the exact hard
    negatives (IVF routing bound; the label filter must not break the
    contract), and the counts must be exactly anchors x k."""
    out = QUERIES["hard_negative_store_mining"](spark, sf_medium).first()
    assert out["recall_ok"]
    assert out["n_exact_pairs"] == out["n_anchors"] * 5


# ------------------------------------------------ code-switch audit ----


def test_code_switch_flags_planted_mixed_doc(spark, tmp_path):
    """Doc 1: first 32-token window English markers, second window
    Spanish markers -> 2 langs, flagged; doc 2: pure English across 2
    windows -> majority share 1.0, not flagged."""
    en = ("the cat and the dog of the house " * 4).strip()     # 32 tokens
    es = ("el gato la casa los perros el sol " * 4).strip()    # 32 tokens
    rows = [
        (1, en + " " + es, "en", "web", 1),
        (2, en + " " + en, "en", "web", 1),
    ]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = {
        r["doc_id"]: r
        for r in QUERIES["code_switch_langmix"](spark, str(tmp_path)).collect()
    }
    assert out[1]["is_code_switched"] and out[1]["n_langs"] == 2
    assert out[1]["majority_share"] == pytest.approx(0.5, abs=1e-9)
    assert not out[2]["is_code_switched"]
    assert out[2]["majority_lang"] == "en"
    assert out[2]["majority_share"] == 1.0


# -------------------------------------------- quantile calibration ----


def test_calibration_maps_source_extremes_to_global_extremes(spark, tmp_path):
    """Two sources on disjoint scales: each source's min/max must map
    to the GLOBAL min/max, and mid-ranks map monotonically — the
    cross-source comparability property."""
    rows = [(i, "x", "en", "A", 10 + i) for i in range(10)]        # 10..19
    rows += [(100 + i, "x", "en", "B", 1000 + i) for i in range(10)]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["source_length_calibration"](
        spark, str(tmp_path)
    ).toPandas().set_index("doc_id")
    # A's max (19) sits at source quantile 1.0 -> global max (1009)
    assert out.loc[9, "calibrated_n_chars"] == 1009
    # B's min (1000) sits at source quantile 0.0 -> global min (10)
    assert out.loc[100, "calibrated_n_chars"] == 10
    # both sources' medians map to the same neighborhood of the pooled
    # scale (rank-based comparability)
    a_mid = out.loc[4, "calibrated_n_chars"]
    b_mid = out.loc[104, "calibrated_n_chars"]
    assert a_mid == b_mid
    # monotone within source
    a = out[out.source == "A"].sort_values("n_chars")
    assert a.calibrated_n_chars.is_monotonic_increasing


def test_calibration_identity_on_single_source(spark, tmp_path):
    """One source: the calibration must be the identity mapping."""
    rows = [(i, "x", "en", "A", 100 + 7 * i) for i in range(20)]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["source_length_calibration"](spark, str(tmp_path)).toPandas()
    assert (out.calibrated_n_chars == out.n_chars).all()


# ---------------------------------------------- canonical selection ----


def test_canonical_selection_keeps_longest(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 5
    rows = [
        (1, base.strip(), "en", "web", len(base)),
        (2, (base + "iota").strip(), "en", "web", len(base) + 5),   # longest
        (3, base.strip(), "en", "web", len(base)),
        (9, "totally different words entirely here now", "en", "web", 40),
    ]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["dup_canonical_selection"](spark, str(tmp_path)).toPandas()
    assert set(out.doc_id) == {1, 2, 3}          # singleton 9 absent
    assert (out.canonical_id == 2).all()          # longest wins
    assert (out.n_members == 3).all()
    assert out.set_index("doc_id").loc[2, "is_canonical"]
    assert not out.set_index("doc_id").loc[1, "is_canonical"]


# ---------------------------------------------- Neyman allocation ----


def test_neyman_allocates_by_variance_not_size(spark, tmp_path):
    """Stratum A: 100 docs, constant length (sigma 0) -> floor
    allocation of 1 despite being the bigger stratum. Stratum B: 50
    docs, high variance -> gets the budget (clipped at N_h)."""
    rows = [(i, "x", "en", "A", 500) for i in range(100)]
    rows += [(1000 + i, "x", "en", "B", 10 + 97 * i) for i in range(50)]
    _write(spark, tmp_path, "documents", rows,
           ["doc_id", "text", "lang", "source", "n_chars"])
    out = QUERIES["neyman_stratified_sample"](spark, str(tmp_path)).toPandas()
    by_src = out.groupby("source").size()
    assert by_src["A"] == 1          # sigma 0 -> min allocation
    assert by_src["B"] == 50         # clipped at stratum size
    # deterministic draw: rerun produces the identical sample
    again = QUERIES["neyman_stratified_sample"](spark, str(tmp_path)).toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)


def test_neyman_total_near_budget_on_real_data(spark, sf_small):
    from lab3_lakehouse_spark.queries.advstats import _NEY_BUDGET

    out = QUERIES["neyman_stratified_sample"](spark, sf_small).toPandas()
    # rounding per stratum can move the total a few slots either way
    assert abs(len(out) - _NEY_BUDGET) <= 5
    # per-stratum draws never exceed their allocation
    g = out.groupby("source")
    assert (g.size() == g.n_alloc.first()).all()


# ------------------------------------------------ DP noisy counts ----


def test_dp_noise_matches_inverse_cdf_replay(spark, tmp_path):
    """The Laplace draw is a pure function of (category, seed) — replay
    it in Python and check the released value to the round4 contract;
    true counts are never emitted."""
    import hashlib

    from lab3_lakehouse_spark.queries.advstats import _DP_EPS, _DP_SEED

    rows = [(i, 100 + i, "URGENT" if i % 3 else "LOW", 10.0)
            for i in range(90)]
    _write(spark, tmp_path, "orders", rows,
           ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"])
    out = {r["category"]: r for r in
           QUERIES["dp_noisy_counts"](spark, str(tmp_path)).collect()}
    truth = {"URGENT": 60, "LOW": 30}
    for cat, n in truth.items():
        h = int(hashlib.md5(f"{_DP_SEED}|{cat}".encode()).hexdigest()[:15], 16)
        u = h / float(1 << 60)
        c = u - 0.5
        noise = 0.0 if abs(c) < 1e-15 else (
            -(1.0 / _DP_EPS) * (1.0 if c > 0 else -1.0)
            * math.log(1.0 - 2.0 * abs(c))
        )
        want = math.floor((n + noise) * 1e4 + 0.5) / 1e4
        assert out[cat]["n_noisy"] == pytest.approx(want, abs=1e-9)
        assert out[cat]["epsilon"] == 1.0
        assert set(out[cat].asDict()) == {"category", "epsilon", "n_noisy"}


# -------------------------------------------- Jaro-Winkler linkage ----


def test_jaro_winkler_udf_matches_duckdb_builtin(spark):
    """The pandas-UDF must equal DuckDB's jaro_winkler_similarity on
    the classic cases (this equality is what licenses the oracle)."""
    import duckdb

    from lab3_lakehouse_spark.operators.dedup import jaro_winkler_udf

    cases = [
        ("martha", "marhta"), ("dixon", "dicksonx"), ("dwayne", "duane"),
        ("jellyfish", "smellyfish"), ("abc", "abc"), ("abc", "xyz"),
        ("a", ""), ("ab", "ba"), ("prefix match long", "prefix match lonh"),
    ]
    df = spark.createDataFrame(cases, ["a", "b"])
    jw = jaro_winkler_udf()
    got = {(r["a"], r["b"]): r["jw"]
           for r in df.select("a", "b", jw("a", "b").alias("jw")).collect()}
    for a, b in cases:
        want = duckdb.sql(
            f"select jaro_winkler_similarity('{a}', '{b}')").fetchone()[0]
        assert got[(a, b)] == pytest.approx(want, abs=1e-12), (a, b)


def test_jaro_winkler_matches_planted_transposition(spark, tmp_path):
    rows = [
        (1, "navy mint rose powder", "B1", "t", 5, 1.0),
        (2, "navy mint rose podwer", "B1", "t", 5, 1.0),   # transposed
        (3, "navy completely other thing", "B1", "t", 5, 1.0),
        (4, "navy mint rose powder", "B2", "t", 5, 1.0),   # other brand block
    ]
    _write(spark, tmp_path, "part", rows,
           ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
            "p_retailprice"])
    out = QUERIES["jaro_winkler_name_matches"](spark, str(tmp_path)).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got            # transposition matched
    assert (1, 4) not in got        # blocking respected (brands differ)
    assert all(r["jw"] >= 0.9 for r in out)


# ------------------------------------ calibration threshold audit ----


def test_calibration_audit_shares_uniform_after_mapping(spark, sf_small):
    """The audit's core claim on equal-sized sources: after quantile
    calibration, one pooled threshold selects the SAME share from every
    source (the raw shares scatter), and every within_tol boolean
    holds."""
    from lab3_lakehouse_spark.queries import QUERIES

    rows = QUERIES["calibration_threshold_audit"](spark, sf_small).collect()
    assert len(rows) >= 2
    assert all(r.within_tol for r in rows)
    cal_shares = {r.cal_share for r in rows}
    assert len(cal_shares) == 1, cal_shares  # equal n_s -> identical share
    raw_shares = {r.raw_share for r in rows}
    assert len(raw_shares) > 1, "raw shares should scatter across sources"


# ---------------------------------------- leakage-safe split ----


def test_leakage_safe_split_never_separates_near_dups(spark, tmp_path):
    """Planted near-dup pairs (and a 3-chain) must land on ONE side of
    the split — the construction guarantee, verified end-to-end — and
    the assignment must be deterministic across invocations."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    # 3-chain: 1~2~3 (each adjacent pair >= 0.8 word-jaccard)
    rows.append((1, "en", len(base), base))
    rows.append((2, "en", len(base), base + " iota"))
    rows.append((3, "en", len(base), base + " iota kappa"))
    # isolated pair: 9 of 11 distinct words shared -> jaccard 0.818
    rows.append(
        (10, "en", 40, "one two three four five six seven eight nine ten")
    )
    rows.append(
        (11, "en", 40, "one two three four five six seven eight nine zzz")
    )
    # singletons with disjoint vocab
    rows.append((20, "en", 20, "red orange yellow green blue indigo"))
    rows.append((21, "de", 20, "rot orange gelb gruen blau violett"))
    spark.createDataFrame(
        rows, ["doc_id", "lang", "n_chars", "text"]
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in QUERIES["leakage_safe_split_assignment"](
            spark, str(tmp_path)
        ).collect()
    }
    assert len(out) == 7
    # chain 1-2-3: one component, one split
    assert out[1].component == out[2].component == out[3].component == 1
    assert out[1].n_members == 3
    assert out[1].split == out[2].split == out[3].split
    assert out[10].component == out[11].component == 10
    assert out[10].split == out[11].split
    assert out[20].n_members == 1 and out[21].n_members == 1
    # deterministic: a second run reproduces the assignment exactly
    again = {
        r.doc_id: r.split
        for r in QUERIES["leakage_safe_split_assignment"](
            spark, str(tmp_path)
        ).collect()
    }
    assert again == {k: v.split for k, v in out.items()}


# ------------------------------------ incremental split maintenance ----


def test_incremental_split_planted_statuses_and_no_straddle(
    spark, tmp_path
):
    """The r12 incremental splitter on a planted graph covering every
    status: a batch doc inheriting a 2-member corpus component, a fresh
    near-dup PAIR inside the batch (must share one fresh component), a
    fresh singleton, and a batch doc bridging two corpus components
    (bridged if their hashes agree, conflict — flagged, never silent —
    if they straddle). Pins the two contract properties: existing
    assignments never change (the op emits ONLY batch rows), and no
    ≥0.8-Jaccard pair crosses the split except through a flagged
    conflict cluster."""
    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators.sketches import portable_hash60
    from lab3_lakehouse_spark.queries.advstats import (
        _SPLIT_SEED,
        _SPLIT_TRAIN_OF_10,
    )

    n = [f"n{i}" for i in range(1, 11)]
    rows = [
        # corpus component {1, 2} (comp id 1): J(1,2) = 10/11
        (1, "en", 50, " ".join([*n[:9], "a1"])),
        (2, "en", 50, " ".join([*n[:9], "a1", "a2"])),
        # corpus singleton component 11: J(25,11) = 9/11, J(1,11) = 8/12
        (11, "en", 50, " ".join([*n[1:10], "b1"])),
        # corpus component {31, 32} (comp id 31)
        (31, "en", 50, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (32, "en", 50, "u1 u2 u3 u4 u5 u6 u7 u8 z1"),
        # corpus singleton 21, disjoint vocab
        (21, "en", 30, "s1 s2 s3 s4 s5 s6"),
        # batch (% 5 == 0): 5 inherits comp 31 (J(5,31) = 8/9)
        (5, "en", 50, "u1 u2 u3 u4 u5 u6 u7 u8 z2"),
        # batch pair {10, 20}: fresh near-dups of each other (J = 9/11)
        (10, "en", 40, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
        (20, "en", 40, " ".join([f"q{i}" for i in range(2, 11)] + ["q11"])),
        # batch fresh singleton
        (15, "en", 20, "r1 r2 r3 r4 r5 r6"),
        # batch doc 25 bridges comps 1 and 11 (J = 9/11 to each leg)
        (25, "en", 50, " ".join(n)),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "n_chars", "text"]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.doc_id: r
        for r in QUERIES["incremental_split_maintenance"](
            spark, str(tmp_path)
        ).collect()
    }
    # existing assignments never change: ONLY batch rows are emitted
    assert sorted(out) == [5, 10, 15, 20, 25]

    # the hash rule the corpus assignment used (split is a pure
    # function of the component id — recompute it for the pins)
    splits = {
        r.c: r.s
        for r in spark.createDataFrame(
            [(1,), (11,), (31,), (10,), (15,)], ["c"]
        )
        .select(
            "c",
            F.when(
                portable_hash60(F.col("c"), _SPLIT_SEED) % 10
                < _SPLIT_TRAIN_OF_10,
                F.lit("train"),
            )
            .otherwise(F.lit("val"))
            .alias("s"),
        )
        .collect()
    }

    assert out[5].status == "inherited"
    assert out[5].component == 31 and out[5].n_matched_components == 1
    assert out[5].split == splits[31]
    # fresh batch pair: one shared fresh component, one side
    assert out[10].status == out[20].status == "fresh"
    assert out[10].component == out[20].component == 10
    assert out[10].split == out[20].split == splits[10]
    assert out[15].status == "fresh" and out[15].component == 15
    assert out[15].split == splits[15]
    # the bridge: two matched components; flagged conflict iff their
    # hash splits disagree, silently safe (bridged) iff they agree
    assert out[25].n_matched_components == 2
    assert out[25].component == 1 and out[25].split == splits[1]
    expected = "bridged" if splits[1] == splits[11] else "conflict"
    assert out[25].status == expected

    # no-straddle sweep over EVERY >=0.8 pair in the union: corpus
    # rows keep their (unchanged) component-hash split; a pair may
    # cross sides only by passing through the flagged conflict cluster
    from lab3_lakehouse_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    corpus_split = {1: splits[1], 2: splits[1], 11: splits[11],
                    31: splits[31], 32: splits[31], 21: None}
    combined = {**corpus_split, **{d: out[d].split for d in out}}
    conflict_docs = {d for d in out if out[d].status == "conflict"}
    for p in dedup_ops.banded_word_jaccard_pairs(docs).collect():
        if {p.id_a, p.id_b} & conflict_docs:
            continue
        assert combined[p.id_a] == combined[p.id_b], (p.id_a, p.id_b)

    # deterministic across invocations
    again = {
        r.doc_id: tuple(r)
        for r in QUERIES["incremental_split_maintenance"](
            spark, str(tmp_path)
        ).collect()
    }
    assert again == {k: tuple(v) for k, v in out.items()}


# ------------------------------------ conformal quality threshold ----


def test_conformal_threshold_matches_plain_python(spark, tmp_path):
    """Third-implementation check on planted single-token docs (score
    == exact text length): recompute the split-conformal cut in plain
    Python from the same deterministic hash split and the engine must
    agree on k_rank, tau, and the exact holdout keep rate."""
    import math

    from pyspark.sql import functions as F

    from lab3_lakehouse_spark.operators.sketches import portable_hash60
    from lab3_lakehouse_spark.queries import QUERIES

    # 40 docs, one source, text = one token of doc_id-determined length
    rows = [
        (i, "en", 3 + (i * 7) % 23, "x" * (3 + (i * 7) % 23), "s0")
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "n_chars", "text", "source"]
    ).write.parquet(str(tmp_path / "documents.parquet"))

    member = {
        r.doc_id: r.is_cal
        for r in spark.createDataFrame(
            [(i,) for i in range(40)], ["doc_id"]
        )
        .select(
            "doc_id",
            (portable_hash60(F.col("doc_id"), 83) % 2 == 0).alias("is_cal"),
        )
        .collect()
    }
    score = {i: float(3 + (i * 7) % 23) for i in range(40)}
    cal = sorted(
        (score[i], i) for i in range(40) if member[i]
    )
    hold = [score[i] for i in range(40) if not member[i]]
    k = (len(cal) + 1) // 5  # floor(0.2 * (n_cal + 1))
    tau = cal[k - 1][0] if k >= 1 else None
    keep = (
        1.0
        if tau is None
        else sum(1 for s in hold if s >= tau) / len(hold)
    )

    out = QUERIES["conformal_quality_threshold"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_cal, r.n_holdout) == (len(cal), len(hold))
    assert r.k_rank == k and r.tau == tau
    assert math.isclose(r.holdout_keep_rate, round(keep, 4), abs_tol=1e-9)
