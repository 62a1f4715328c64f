"""Invariant tests for the round-5k tier (sequential rules,
t-closeness, Brier decomposition).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5k  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_sequential_rules_match_python_recompute(spark, sf_dir):
    """Recompute the full rule pipeline sequentially: first-purchase
    dates, width cap, directed windowed pairs, support, confidence,
    top-k with tie-break."""
    from beacon_data_importer_spark.catalog_r5k import (
        _SEQ_MAX_WIDTH,
        _SEQ_MIN_SUPPORT,
        _SEQ_TOPK,
        _SEQ_WINDOW_DAYS,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1992-01-01").cast("date")
    cp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(
            F.min(F.datediff(F.col("o_orderdate").cast("date"), epoch))
            .cast("bigint")
            .alias("d")
        )
        .collect()
    )
    by_cust: dict[int, list[tuple[int, int]]] = {}
    for r in cp:
        by_cust.setdefault(r["c"], []).append((r["p"], r["d"]))
    by_cust = {
        c: v for c, v in by_cust.items() if len(v) <= _SEQ_MAX_WIDTH
    }
    base: dict[int, int] = {}
    rules: dict[tuple[int, int], int] = {}
    for v in by_cust.values():
        for p, _ in v:
            base[p] = base.get(p, 0) + 1
        for pa, da in v:
            for pb, db in v:
                if pa != pb and da < db <= da + _SEQ_WINDOW_DAYS:
                    rules[(pa, pb)] = rules.get((pa, pb), 0) + 1
    cand = [
        (n, a, b, base[a], n * 1000000 // base[a])
        for (a, b), n in rules.items()
        if n >= _SEQ_MIN_SUPPORT
    ]
    cand.sort(key=lambda t: (-t[0], t[1], t[2]))
    expected = [
        (a, b, n, na, conf) for n, a, b, na, conf in cand[:_SEQ_TOPK]
    ]

    got = [
        (r["part_a"], r["part_b"], r["n_cust_ab"], r["n_cust_a"],
         r["confidence_ppm"])
        for r in QUERIES["sequential_purchase_rules"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expected


def test_t_closeness_bounds_and_worst_group(spark, sf_dir):
    """TVD is in [0, 1e6]; the broadcast max equals the max of the
    per-group column; homogeneous-with-global groups score near 0."""
    rows = QUERIES["t_closeness_audit"](spark, sf_dir).collect()
    assert rows
    mx = max(r["t_ppm"] for r in rows)
    for r in rows:
        assert 0 <= r["t_ppm"] <= 1000000
        assert r["t_max_ppm"] == mx


def test_brier_identity_and_recompute(spark, sf_dir):
    """BS = REL − RES + UNC must hold exactly on every row, and all
    three components must recompute from the per-bin integers."""
    rows = QUERIES["brier_decomposition"](spark, sf_dir).collect()
    assert len(rows) > 0
    nn = sum(r["n_k"] for r in rows)
    ee = sum(r["e_k"] for r in rows)
    obar = ee * 1000000 // nn
    rel = sum(r["n_k"] * (r["p_ppm"] - r["o_ppm"]) ** 2 for r in rows) // nn
    res = sum(r["n_k"] * (r["o_ppm"] - obar) ** 2 for r in rows) // nn
    unc = obar * (1000000 - obar)
    for r in rows:
        assert r["rel_e12"] == rel
        assert r["res_e12"] == res
        assert r["unc_e12"] == unc
        assert r["brier_e12"] == rel - res + unc
        assert r["o_ppm"] == r["e_k"] * 1000000 // r["n_k"]
