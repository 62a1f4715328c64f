"""Invariant tests for the round-5n tier (Nelson-Aalen hazard,
Haybittle-Peto interim analysis, blocking recall).
"""

from __future__ import annotations

import beacon_data_importer_spark.catalog_r5b  # noqa: F401 (kaplan_meier)
import beacon_data_importer_spark.catalog_r5n  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_nelson_aalen_dominates_km_log_survival(spark, sf_dir):
    """−log S_KM(t) ≥ H_NA(t) at every event time with both in micro
    units (Jensen: −Σlog(1−x) ≥ Σx), the hazard is non-decreasing, and
    the event-time grid and risk sets match kaplan_meier exactly."""
    na = {
        r["t_days"]: r
        for r in QUERIES["nelson_aalen_hazard"](spark, sf_dir).collect()
    }
    km = {
        r["t_days"]: r
        for r in QUERIES["kaplan_meier"](spark, sf_dir).collect()
    }
    assert set(na) == set(km)
    prev = 0
    for t in sorted(na):
        assert na[t]["n_risk"] == km[t]["n_at_risk"]
        assert na[t]["n_events"] == km[t]["n_events"]
        assert na[t]["cum_hazard_e6"] >= prev
        prev = na[t]["cum_hazard_e6"]
        if km[t]["log_surv_micro"] is not None:
            # per-term floors can shift each side by <1 micro-unit per
            # event time; allow that slack on the inequality
            slack = sorted(na).index(t) + 1
            assert (
                -km[t]["log_surv_micro"] + slack
                >= na[t]["cum_hazard_e6"] - slack
            )


def test_interim_looks_are_cumulative_and_flagged(spark, sf_dir):
    """Counts must be non-decreasing across looks, the final look must
    carry the 1.96 boundary while interims carry 3.0, and the first
    crossing year must equal the min crossed look."""
    from beacon_data_importer_spark.catalog_r5n import (
        _HP_FINAL_E6,
        _HP_INTERIM_E6,
    )

    rows = sorted(
        QUERIES["interim_analysis_audit"](spark, sf_dir).collect(),
        key=lambda r: r["look_year"],
    )
    assert rows
    for a, b in zip(rows, rows[1:]):
        for c in ("n_a", "c_a", "n_b", "c_b"):
            assert a[c] <= b[c]
    for r in rows[:-1]:
        assert r["boundary_e6"] == _HP_INTERIM_E6
    assert rows[-1]["boundary_e6"] == _HP_FINAL_E6
    crossed = [r["look_year"] for r in rows if r["crossed"] == 1]
    expected_first = min(crossed) if crossed else None
    for r in rows:
        assert r["first_crossing_year"] == expected_first
        assert r["crossed"] == (
            1 if r["z_abs_e6"] >= r["boundary_e6"] else 0
        )


def test_blocking_recall_reconciles_with_pair_queries(spark, sf_dir):
    """n_truth must equal the staged nation-blocked pair count, n_snm
    the SNM query's verified pair count, and the overlap algebra must
    close (both ≥ n_both; recall = n_both/n_truth; snm_only =
    n_snm − n_both)."""
    import beacon_data_importer_spark.catalog_r5j  # noqa: F401
    from beacon_data_importer_spark.plans.er import customer_fuzzy_pairs

    row = QUERIES["blocking_recall_audit"](spark, sf_dir).collect()[0]
    n_truth = customer_fuzzy_pairs(spark, sf_dir, k=2).count()
    n_snm = QUERIES["sorted_neighborhood_pairs"](spark, sf_dir).count()
    assert row["n_truth"] == n_truth
    assert row["n_snm"] == n_snm
    assert row["n_both"] <= min(n_truth, n_snm)
    assert row["snm_recall_ppm"] == row["n_both"] * 1000000 // n_truth
    assert row["n_snm_only_cross_block"] == n_snm - row["n_both"]
