"""Invariant tests for the round-5f tier (weighted graphs, multiple
testing, conformal prediction, calendar/queueing analytics, DP noise)
— algorithm cross-checks against independent pure-Python computations
and closed-form identities the oracle's value-hash can't articulate.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5e  # noqa: F401 (registers queries)
import beacon_data_importer_spark.catalog_r5f  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


# ---------------------------------------------------------------------------
# weighted_sssp vs a sequential Bellman-Ford on the collected edges
# ---------------------------------------------------------------------------


def test_weighted_sssp_matches_python_bellman_ford(spark, sf_dir):
    """The K unrolled distributed relaxations must equal K rounds of a
    dictionary-based Bellman-Ford run sequentially on the same graph."""
    from beacon_data_importer_spark.catalog_r5f import _SSSP_ROUNDS
    from beacon_data_importer_spark.plans.co_purchase import (
        co_purchase_edges_weighted,
    )

    und = co_purchase_edges_weighted(spark, sf_dir).collect()
    edges: list[tuple[int, int, int]] = []
    for r in und:
        w = max(1, 6 - r["shared"])
        edges.append((r["a"], r["b"], w))
        edges.append((r["b"], r["a"], w))
    assert edges, "staged co-purchase graph is empty"
    src = min(a for a, _, _ in edges)
    dist = {src: 0}
    for _ in range(_SSSP_ROUNDS):
        nxt = dict(dist)
        for a, b, w in edges:
            if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + w
        dist = nxt
    expected: dict[int, int] = {}
    for d in dist.values():
        expected[d] = expected.get(d, 0) + 1

    got = {
        r["dist"]: r["n_nodes"]
        for r in QUERIES["weighted_sssp"](spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# fdr_bh_audit vs a pure-Python Benjamini-Hochberg step-up
# ---------------------------------------------------------------------------


def test_fdr_bh_matches_python_stepup(spark, sf_dir):
    """Re-running BH sequentially on the query's own (z, rank) columns
    with the module's threshold table must reproduce the rejection set,
    and rejections must form a prefix of the rank order (step-up law)."""
    from beacon_data_importer_spark.catalog_r5f import _BH_TABLE

    rows = QUERIES["fdr_bh_audit"](spark, sf_dir).collect()
    assert rows
    m = rows[0]["m_tests"]
    assert all(r["m_tests"] == m for r in rows) and len(rows) == m
    thr = {(tm, ti): t for tm, ti, t in _BH_TABLE}
    ok_ranks = [
        r["p_rank"] for r in rows if r["z_abs_e6"] >= thr[(m, r["p_rank"])]
    ]
    k = max(ok_ranks, default=0)
    for r in rows:
        assert r["thr_e6"] == thr[(m, r["p_rank"])]
        assert r["rejected"] == (1 if r["p_rank"] <= k else 0)
    # step-up: the rejection set is exactly ranks 1..k (a prefix)
    rejected_ranks = sorted(r["p_rank"] for r in rows if r["rejected"] == 1)
    assert rejected_ranks == list(range(1, k + 1))


def test_bh_threshold_table_is_monotone():
    """Within each m the |z| threshold must decrease with rank (larger
    i ⇒ larger p budget ⇒ smaller z), and the i=m entry is the
    uncorrected two-sided q=0.10 critical value."""
    from beacon_data_importer_spark.catalog_r5f import _BH_MAX_M, _BH_TABLE

    by_m: dict[int, dict[int, int]] = {}
    for m, i, t in _BH_TABLE:
        by_m.setdefault(m, {})[i] = t
    assert set(by_m) == set(range(1, _BH_MAX_M + 1))
    for m, tbl in by_m.items():
        assert set(tbl) == set(range(1, m + 1))
        for i in range(1, m):
            assert tbl[i] > tbl[i + 1]
        assert tbl[m] == 1644853  # floor(1e6 * Phi^-1(0.95))


# ---------------------------------------------------------------------------
# conformal_interval_audit — order-statistic and coverage reconciliation
# ---------------------------------------------------------------------------


def test_conformal_qhat_is_exact_order_statistic(spark, sf_dir):
    """Recompute the whole conformal pipeline sequentially from the
    subject rows: per-group floor-mean prediction on train, the
    ⌈(n+1)·0.9⌉-th smallest calibration residual, and test coverage."""
    from beacon_data_importer_spark.catalog_r5f import _CONF_SEED
    from beacon_data_importer_spark.functions.expressions import (
        portable_hash64,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    subj = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("grp"),
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("bigint")
            .alias("y"),
            (
                portable_hash64(
                    F.col("o_orderkey").cast("string"), seed=_CONF_SEED
                )
                % 10
            ).alias("bucket"),
        )
    ).collect()

    groups = sorted({r["grp"] for r in subj})
    expected = {}
    for g in groups:
        train = [r["y"] for r in subj if r["grp"] == g and r["bucket"] <= 5]
        cal = [
            (abs(r["y"] - sum(train) // len(train)), r["o_orderkey"])
            for r in subj
            if r["grp"] == g and r["bucket"] in (6, 7)
        ]
        pred = sum(train) // len(train)
        k = ((len(cal) + 1) * 9 + 9) // 10
        qhat = sorted(cal)[k - 1][0]
        test = [
            abs(r["y"] - pred)
            for r in subj
            if r["grp"] == g and r["bucket"] >= 8
        ]
        covered = sum(1 for r in test if r <= qhat)
        expected[g] = (
            len(train),
            pred,
            len(cal),
            k,
            qhat,
            len(test),
            covered,
            covered * 1000000 // len(test),
        )

    got = {
        r["grp"]: (
            r["n_train"],
            r["pred_days"],
            r["n_cal"],
            r["k_order_stat"],
            r["qhat_days"],
            r["n_test"],
            r["n_covered"],
            r["coverage_ppm"],
        )
        for r in QUERIES["conformal_interval_audit"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# business_day_latency — closed form vs calendar iteration
# ---------------------------------------------------------------------------


def test_busday_closed_form_matches_calendar_loop():
    """W(d) (weekdays in [anchor, d)) from the closed form must equal a
    day-by-day calendar walk for every day in a 3-year window."""
    anchor = date(1991, 12, 30)  # Monday
    assert anchor.weekday() == 0

    def closed_form(d: date) -> int:
        n = (d - anchor).days
        return 5 * (n // 7) + min(n % 7, 5)

    walked = 0
    d = anchor
    for _ in range(365 * 3):
        assert closed_form(d) == walked
        if d.weekday() < 5:
            walked += 1
        d += timedelta(days=1)


# ---------------------------------------------------------------------------
# littles_law_audit — identities against the sweep-line profile
# ---------------------------------------------------------------------------


def test_littles_law_identities(spark, sf_dir):
    """(1) Global balance: every open day lands in exactly one year, so
    Σ_years integral == Σ_years durations (L = λW exactly over the full
    horizon).  (2) The yearly integrals must equal the sweep-line
    concurrency profile of max_concurrent_orders summed per year."""
    ll = QUERIES["littles_law_audit"](spark, sf_dir).collect()
    assert sum(r["open_day_integral"] for r in ll) == sum(
        r["sum_durations"] for r in ll
    )

    prof = QUERIES["max_concurrent_orders"](spark, sf_dir).collect()
    prof = sorted(prof, key=lambda r: r["day_no"])
    from beacon_data_importer_spark.catalog_r5f import _LL_YEARS

    integral_by_year = {y: 0 for (y, _, _, _) in _LL_YEARS}
    bounds = {y: (ys, ye) for (y, ys, ye, _) in _LL_YEARS}
    # expand the delta-day profile into per-day concurrency
    for i, r in enumerate(prof):
        start = r["day_no"]
        end = prof[i + 1]["day_no"] - 1 if i + 1 < len(prof) else start
        conc = r["concurrency"]
        if conc == 0:
            continue
        for y, (ys, ye) in bounds.items():
            lo, hi = max(start, ys), min(end, ye)
            if lo <= hi:
                integral_by_year[y] += conc * (hi - lo + 1)
    got = {r["year"]: r["open_day_integral"] for r in ll}
    assert got == {y: v for y, v in integral_by_year.items() if v > 0}


# ---------------------------------------------------------------------------
# dp_noisy_counts — structural noise properties
# ---------------------------------------------------------------------------


def test_dp_noise_structure(spark, sf_dir):
    """Noise must be a pure function of the group key (not the data),
    bounded by the u-grid's tail (|noise| ≤ 1e6·ln(1e6) ≈ 13.8e6),
    reconcile exactly with the noisy count, and its sign must follow
    the hash's upper/lower half."""
    import math

    from beacon_data_importer_spark.catalog_r5f import _DP_SEED
    from beacon_data_importer_spark.functions.expressions import (
        portable_hash64,
    )

    rows = QUERIES["dp_noisy_counts"](spark, sf_dir).collect()
    assert rows
    bound = int(1e6 * math.log(1e6)) + 1
    ks = {
        r["nationkey"]: r["k"]
        for r in (
            QUERIES["dp_noisy_counts"](spark, sf_dir)
            .sparkSession.range(0, 25)
            .select(
                F.col("id").cast("int").alias("nationkey"),
                (
                    portable_hash64(F.col("id").cast("string"), seed=_DP_SEED)
                    % 1000000
                ).alias("k"),
            )
            .collect()
        )
    }
    for r in rows:
        assert abs(r["noise_e6"]) <= bound
        assert r["noisy_count_e6"] == r["n_true"] * 1000000 + r["noise_e6"]
        k = ks[r["nationkey"]]
        if k > 500000:
            assert r["noise_e6"] > 0
        elif k < 500000:
            assert r["noise_e6"] <= 0
