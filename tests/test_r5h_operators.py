"""Invariant tests for the round-5h tier (native recursive CTE, RRF
hybrid retrieval).
"""

from __future__ import annotations

import beacon_data_importer_spark.catalog_r5h  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_recursive_cte_matches_closed_form(spark, sf_dir):
    """Spark's WITH RECURSIVE walk must agree row-for-row with the
    closed-form ancestor-array rollup (bom_rollup) — engine-native
    recursion cross-validated by arithmetic that cannot be wrong."""
    rec = QUERIES["recursive_bom_rollup"](spark, sf_dir)
    closed = QUERIES["bom_rollup"](spark, sf_dir)
    assert rec.exceptAll(closed).count() == 0
    assert closed.exceptAll(rec).count() == 0


def test_recursive_root_covers_every_part(spark, sf_dir):
    """Every part's ancestor chain terminates at node 0, so the root's
    subtree count must equal the part-table cardinality."""
    from beacon_data_importer_spark.sources.parquet import read_table

    rows = {
        r["node"]: r
        for r in QUERIES["recursive_bom_rollup"](spark, sf_dir).collect()
    }
    n_parts = read_table(spark, sf_dir, "part").count()
    assert rows[0]["n_subtree_parts"] == n_parts


def test_rrf_fusion_reconciles(spark, sf_dir):
    """Each fused score must equal the integer RRF of its own rank
    columns; ranks must be within the per-arm list depth; and the
    output must be the top-k of its own scores."""
    from beacon_data_importer_spark.catalog_r5h import (
        _RRF_K,
        _RRF_LIST_N,
        _RRF_TOPK,
    )

    rows = QUERIES["rrf_hybrid_search"](spark, sf_dir).collect()
    assert len(rows) == _RRF_TOPK
    scores = []
    for r in rows:
        expected = 0
        if r["lex_rank"] is not None:
            assert 1 <= r["lex_rank"] <= _RRF_LIST_N
            expected += 1000000000 // (_RRF_K + r["lex_rank"])
        if r["sem_rank"] is not None:
            assert 1 <= r["sem_rank"] <= _RRF_LIST_N
            expected += 1000000000 // (_RRF_K + r["sem_rank"])
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        assert r["rrf_e9"] == expected
        scores.append(r["rrf_e9"])
    assert scores == sorted(scores, reverse=True)
