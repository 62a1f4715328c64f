"""Invariant tests for the round-5g tier (Matryoshka recall, item-item
CF, difference-in-differences) — properties beyond the oracle's
value-hash: anchors, symmetry, and full sequential recomputation.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5g  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_matryoshka_full_dim_is_its_own_truth(spark, sf_dir):
    """The full-width row must report perfect recall for every query
    (it IS the truth set), every overlap must lie in [0, k], and the
    audit must cover the complete dim × query grid."""
    from beacon_data_importer_spark.catalog_r5g import (
        _MRL_DIMS,
        _MRL_FULL,
        _MRL_K,
        _MRL_QUERIES,
    )

    rows = QUERIES["matryoshka_recall_audit"](spark, sf_dir).collect()
    grid = {(r["dim"], r["query_id"]) for r in rows}
    assert grid == {(d, q) for d in _MRL_DIMS for q in _MRL_QUERIES}
    for r in rows:
        assert 0 <= r["n_overlap"] <= _MRL_K
        assert r["recall_ppm"] == r["n_overlap"] * 1000000 // _MRL_K
        if r["dim"] == _MRL_FULL:
            assert r["n_overlap"] == _MRL_K


def test_item_item_cf_matches_python_recompute(spark, sf_dir):
    """Recompute the full CF pipeline sequentially (distinct baskets →
    pair counts → cosine → per-item top-k with id tie-break) and
    compare the entire result set."""
    from beacon_data_importer_spark.catalog_r5g import (
        _CF_K,
        _CF_MAX_WIDTH,
        _CF_MIN_CO,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    it = {
        (r["o"], r["p"])
        for r in read_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .collect()
    }
    raw_baskets: dict[int, list[int]] = {}
    for o, p in it:
        raw_baskets.setdefault(o, []).append(p)
    # width cap (a no-op on this corpus — asserted so the claim stays true)
    assert max(len(v) for v in raw_baskets.values()) <= _CF_MAX_WIDTH
    baskets = {
        o: v for o, v in raw_baskets.items() if len(v) <= _CF_MAX_WIDTH
    }
    pop: dict[int, int] = {}
    for v in baskets.values():
        for p in v:
            pop[p] = pop.get(p, 0) + 1
    co: dict[tuple[int, int], int] = {}
    for parts in baskets.values():
        parts = sorted(parts)
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                key = (parts[i], parts[j])
                co[key] = co.get(key, 0) + 1
    neighbors: dict[int, list[tuple[float, int, int]]] = {}
    for (a, b), c in co.items():
        if c < _CF_MIN_CO:
            continue
        raw = c / math.sqrt(pop[a] * pop[b])
        neighbors.setdefault(a, []).append((-raw, b, c))
        neighbors.setdefault(b, []).append((-raw, a, c))
    expected = set()
    for item, cand in neighbors.items():
        for neg_raw, nb, c in sorted(cand)[:_CF_K]:
            expected.add((item, nb, c, math.floor(-neg_raw * 1e6)))

    got = {
        (r["item"], r["neighbor"], r["n_co"], r["cosine_e6"])
        for r in QUERIES["item_item_cf_topk"](spark, sf_dir).collect()
    }
    assert got == expected


def test_cf_scores_are_symmetric(spark, sf_dir):
    """Cosine is symmetric: wherever both directions of a pair survive
    their items' top-k, the scores must be identical."""
    rows = QUERIES["item_item_cf_topk"](spark, sf_dir).collect()
    score = {(r["item"], r["neighbor"]): r["cosine_e6"] for r in rows}
    checked = 0
    for (a, b), s in score.items():
        if (b, a) in score:
            assert score[(b, a)] == s
            checked += 1
    assert checked > 0


def test_did_reconciles_and_carries_placebo(spark, sf_dir):
    """did_mc must equal the 2×2 mean contrast in every scenario row,
    the cell counts must cover all orders, and both the actual and the
    placebo arm must be present."""
    from beacon_data_importer_spark.sources.parquet import read_table

    rows = {
        r["scenario"]: r
        for r in QUERIES["did_estimate"](spark, sf_dir).collect()
    }
    assert set(rows) == {"actual", "placebo"}
    n_orders = read_table(spark, sf_dir, "orders").count()
    for r in rows.values():
        assert r["did_mc"] == (r["m_t_post_mc"] - r["m_t_pre_mc"]) - (
            r["m_c_post_mc"] - r["m_c_pre_mc"]
        )
        assert (
            r["n_c_pre"] + r["n_c_post"] + r["n_t_pre"] + r["n_t_post"]
            == n_orders
        )
