"""Invariant tests for the round-5i tier (ANN nDCG, PSI drift,
equi-depth histogram).
"""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_more  # noqa: F401 (registers ivf_search)
import beacon_data_importer_spark.catalog_r5i  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_ndcg_recomputes_from_the_two_rankings(spark, sf_dir):
    """Rebuild DCG sequentially from the exact and approximate neighbor
    lists (collected raw) using the module's own literal log table, and
    check the audit's bounds: dcg ≤ idcg, hits ≤ k."""
    from beacon_data_importer_spark.catalog_r5i import (
        _NDCG_IDCG,
        _NDCG_ILOG,
        _NDCG_K,
    )
    from beacon_data_importer_spark.operators.similarity import cosine
    from beacon_data_importer_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cosine("embedding", "qemb").alias("raw"))
        .collect()
    )
    exact_sorted = sorted(exact, key=lambda r: (-r["raw"], r["vec_id"]))
    rel = {
        r["vec_id"]: _NDCG_K - i
        for i, r in enumerate(exact_sorted[:_NDCG_K])
    }
    # approximate arm = the ivf_search query's neighbor list (same shape)
    approx_ids = [
        r["neighbor_id"]
        for r in QUERIES["ivf_search"](spark, sf_dir).collect()
    ]
    ilog = dict(_NDCG_ILOG)
    expected_dcg = sum(
        rel.get(nid, 0) * ilog[pos]
        for pos, nid in enumerate(approx_ids, start=1)
    )
    expected_hits = sum(1 for nid in approx_ids if nid in rel)

    row = QUERIES["ann_ndcg_audit"](spark, sf_dir).collect()[0]
    assert row["idcg_units"] == _NDCG_IDCG
    assert row["dcg_units"] == expected_dcg
    assert row["n_hits"] == expected_hits
    assert 0 <= row["dcg_units"] <= row["idcg_units"]
    assert row["ndcg_ppm"] == row["dcg_units"] * 1000000 // _NDCG_IDCG


def test_psi_terms_reconcile(spark, sf_dir):
    """Per-row identities: the total equals the term sum on every row,
    terms are non-negative exactly when shares diverge in ln's
    direction, and equal shares contribute zero."""
    rows = QUERIES["psi_drift_audit"](spark, sf_dir).collect()
    assert rows
    total = sum(r["psi_term_e12"] for r in rows)
    for r in rows:
        assert r["psi_total_e12"] == total
        if r["p_ppm"] == r["q_ppm"]:
            assert r["psi_term_e12"] == 0
        # (p−q) and ln(p/q) share sign, so every term is ≥ 0 up to the
        # per-term floor (which can push a near-zero term to −(p−q))
        assert r["psi_term_e12"] >= -abs(r["p_ppm"] - r["q_ppm"])


def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    """Equi-depth law: bucket sizes differ by at most one row (ntile's
    remainder rule) and boundaries are non-decreasing across buckets."""
    from beacon_data_importer_spark.catalog_r5i import _EQD_BUCKETS

    rows = sorted(
        QUERIES["equidepth_histogram"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(1, _EQD_BUCKETS + 1))
    sizes = [r["n_rows"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # first buckets carry the remainder: sizes must be non-increasing
    assert sizes == sorted(sizes, reverse=True)
    for a, b in zip(rows, rows[1:]):
        assert a["lo_cents"] <= a["hi_cents"]
        assert a["hi_cents"] <= b["lo_cents"]
