"""Invariant tests for the round-5p tier (Shapley attribution, RDD,
post-stratification).
"""

from __future__ import annotations

from itertools import permutations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5p  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_shapley_efficiency_and_permutation_definition(spark, sf_dir):
    """Efficiency: Σφ×6 must equal 6·v(full universe).  Definition:
    the closed-form φ must equal the brute permutation average
    (all 3! orderings) computed sequentially from the same coalition
    values."""
    from beacon_data_importer_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + F.max(F.when(F.col("event_type") == "click", 2).otherwise(0))
            + F.max(F.when(F.col("event_type") == "signup", 4).otherwise(0))
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    exact = {
        r["mask"]: r["c"]
        for r in per_user.filter("mask > 0")
        .groupBy("mask")
        .agg(F.sum("conv").alias("c"))
        .collect()
    }
    v = {
        s: sum(cv for m, cv in exact.items() if (m & s) == m)
        for s in range(8)
    }
    bits = {"view": 1, "click": 2, "signup": 4}
    # brute-force permutation definition (×6 = number of orderings)
    phi6 = {ch: 0 for ch in bits}
    for order in permutations(bits):
        s = 0
        for ch in order:
            phi6[ch] += v[s | bits[ch]] - v[s]
            s |= bits[ch]

    rows = {
        r["channel"]: r
        for r in QUERIES["shapley_attribution"](spark, sf_dir).collect()
    }
    assert {ch: rows[ch]["phi_x6"] for ch in bits} == phi6
    total = sum(phi6.values())
    assert total == 6 * v[7]  # efficiency: Σφ = v(full)
    for r in rows.values():
        assert r["total_x6"] == total
        assert r["share_ppm"] == r["phi_x6"] * 1000000 // total


def test_rdd_bandwidths_nest_and_reconcile(spark, sf_dir):
    """The narrow window's counts must be a subset of the wide one's,
    and each effect must equal the mean difference of its own row."""
    rows = {
        r["bandwidth_cents"]: r
        for r in QUERIES["rdd_estimate"](spark, sf_dir).collect()
    }
    h1, h2 = sorted(rows)
    assert rows[h1]["n_left"] <= rows[h2]["n_left"]
    assert rows[h1]["n_right"] <= rows[h2]["n_right"]
    for r in rows.values():
        assert r["effect_ppm"] == r["mean_right_ppm"] - r["mean_left_ppm"]
        assert r["n_left"] > 0 and r["n_right"] > 0


def test_poststratification_algebra_recomputes(spark, sf_dir):
    """Recompute all three estimators sequentially from the collected
    strata (truth, naive, Σ N_g·⌊x̄_g⌋ / N) — the query must match
    exactly.  (Whether PS beats naive is a property of the DATA: on
    this corpus balances are segment-exchangeable, so selection is
    ignorable and PS pays pure variance — the documented honest
    negative the three-column audit exists to reveal.)"""
    from beacon_data_importer_spark.catalog_r5p import _PS_RATES, _PS_SEED
    from beacon_data_importer_spark.functions.expressions import (
        portable_hash64,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("cents"),
        (
            portable_hash64(F.col("c_custkey").cast("string"), seed=_PS_SEED)
            % 10
        ).alias("h"),
    ).collect()
    rates = dict(_PS_RATES)
    pop_n: dict[str, int] = {}
    pop_s: dict[str, int] = {}
    s_n: dict[str, int] = {}
    s_s: dict[str, int] = {}
    for r in c:
        pop_n[r["seg"]] = pop_n.get(r["seg"], 0) + 1
        pop_s[r["seg"]] = pop_s.get(r["seg"], 0) + r["cents"]
        if r["h"] < rates[r["seg"]]:
            s_n[r["seg"]] = s_n.get(r["seg"], 0) + 1
            s_s[r["seg"]] = s_s.get(r["seg"], 0) + r["cents"]
    n_pop = sum(pop_n.values())
    n_samp = sum(s_n.values())
    truth = sum(pop_s.values()) // n_pop
    naive = sum(s_s.values()) // n_samp
    ps = sum(pop_n[g] * (s_s[g] // s_n[g]) for g in pop_n) // n_pop

    row = QUERIES["poststratification_estimate"](
        spark, sf_dir
    ).collect()[0]
    assert (
        row["n_pop"],
        row["n_samp"],
        row["truth_mean_cents"],
        row["naive_mean_cents"],
        row["poststrat_mean_cents"],
    ) == (n_pop, n_samp, truth, naive, ps)
    assert 0 < row["n_samp"] < row["n_pop"]
