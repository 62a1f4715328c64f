"""Invariant tests for catalog_r3c: passage-level exact dedup and BM25
keyword search.  Cross-engine value equality is covered by the oracle
gate (tests/test_extra_queries.py); these tests pin the SEMANTIC
invariants a hash match alone would not explain.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beacon_data_importer_spark.catalog import QUERIES
import beacon_data_importer_spark.catalog_r3c  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog_r3c import _BM25_TERMS, _PASSAGE_W


@pytest.fixture(scope="module")
def passage_result(spark, sf_dir):
    df = QUERIES["passage_dedup"](spark, sf_dir)
    df = df.persist()
    yield df
    df.unpersist()


def test_passage_dedup_removes_duplicated_passages(passage_result):
    # the interesting branch must actually fire on the testdata
    # (sf0.001 has cross-doc duplicated passages at W=8 — probed before
    # the window size was fixed)
    removed = passage_result.agg(F.sum("removed_passages")).first()[0]
    assert removed > 0


def test_passage_dedup_untouched_docs_roundtrip(spark, sf_dir, passage_result):
    """Docs that lost nothing must reconstruct to their normalized text
    (lower/trim + single-space join) byte-for-byte."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.array_join(
            F.split(F.lower(F.trim("text")), r"\s+"), " "
        ).alias("norm_text"),
    )
    joined = passage_result.filter(F.col("removed_passages") == 0).join(
        docs, "doc_id"
    )
    mism = joined.filter(F.col("clean_text") != F.col("norm_text")).count()
    assert mism == 0
    assert joined.count() > 0


def test_passage_dedup_counts_consistent(passage_result):
    """kept + removed = total windows = ceil(n_tokens / W), and the
    reconstructed text's token count matches the kept windows."""
    bad = passage_result.filter(
        (F.col("kept_passages") < 0)
        | (F.col("removed_passages") < 0)
        | (F.col("kept_passages") + F.col("removed_passages") == 0)
    ).count()
    assert bad == 0
    # every clean_text token count <= kept_passages * W
    over = passage_result.filter(
        F.when(
            F.col("clean_text") == "", F.lit(0)
        ).otherwise(F.size(F.split("clean_text", r"\s+")))
        > F.col("kept_passages") * _PASSAGE_W
    ).count()
    assert over == 0


def test_passage_dedup_global_first_occurrence(spark, sf_dir):
    """After dedup, re-splitting ALL clean texts into W-token windows
    anchored at kept-passage boundaries can still contain duplicates
    (windows re-align), but the FULL-window passages that survived are
    unique corpus-wide — re-running the dedup on its own output at the
    same anchors removes nothing.  Idempotence is the defining property
    of exact dedup."""
    out1 = QUERIES["passage_dedup"](spark, sf_dir).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # rebuild passages from the deduped text at the same window size;
    # count cross-occurrence of full windows only (partial tail windows
    # legitimately re-pair after removal shifts positions)
    toks = out1.filter(F.trim("text") != "").select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("tk")
    )
    pas = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("tk") - 1, F.lit(_PASSAGE_W))
        ).alias("st"),
        "tk",
    ).select(
        "doc_id",
        F.array_join(
            F.slice("tk", F.col("st") + 1, F.lit(_PASSAGE_W)), " "
        ).alias("ptxt"),
        (F.size("tk") - F.col("st") >= _PASSAGE_W).alias("full"),
    )
    dup_full = (
        pas.filter("full")
        .groupBy("ptxt")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_full == 0


@pytest.fixture(scope="module")
def bm25_result(spark, sf_dir):
    df = QUERIES["bm25_search"](spark, sf_dir)
    rows = df.collect()
    return rows


def test_bm25_returns_ranked_topk(bm25_result):
    assert 0 < len(bm25_result) <= 10
    # descending score, doc_id ascending within ties — the deterministic
    # order the LIMIT depends on
    keys = [(-r.score_e6, r.doc_id) for r in bm25_result]
    assert keys == sorted(keys)
    assert all(1 <= r.terms_matched <= len(_BM25_TERMS) for r in bm25_result)


def test_bm25_hits_contain_a_query_term(spark, sf_dir, bm25_result):
    ids = [r.doc_id for r in bm25_result]
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("tk"))
        .collect()
    )
    for r in docs:
        assert set(r.tk) & set(_BM25_TERMS), r.doc_id


# ---------------------------------------------------------------------------
# analytics tier invariants
# ---------------------------------------------------------------------------


def test_event_transitions_shares_sum_to_unity(spark, sf_dir):
    rows = QUERIES["event_transitions"](spark, sf_dir).collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for frm, grp in by_from.items():
        total_ppm = sum(r.share_ppm for r in grp)
        # truncating integer division loses < 1 ppm per to-state
        assert 1_000_000 - len(grp) <= total_ppm <= 1_000_000, frm


def test_cohort_retention_offsets_start_at_zero(spark, sf_dir):
    rows = QUERIES["cohort_retention"](spark, sf_dir).collect()
    assert rows
    assert all(r.week_offset >= 0 for r in rows)
    # every cohort has an offset-0 row (its own first week)
    cohorts = {r.cohort_week for r in rows}
    zero = {r.cohort_week for r in rows if r.week_offset == 0}
    assert cohorts == zero


def test_source_top_terms_shape(spark, sf_dir):
    rows = QUERIES["source_top_terms"](spark, sf_dir).collect()
    assert rows
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    for src, grp in per_src.items():
        ranks = sorted(r.rk for r in grp)
        assert ranks == list(range(1, len(grp) + 1)), src
        assert len(grp) <= 5
        ordered = sorted(grp, key=lambda r: r.rk)
        scores = [r.score_ppm for r in ordered]
        assert scores == sorted(scores, reverse=True), src


def test_pagerank_mass_and_determinism(spark, sf_dir):
    df = QUERIES["pagerank_parts"](spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 20
    # ranks stay positive and the teleport floor holds
    assert all(r.score_e6 >= 150000 for r in rows)
    assert all(r.kind in ("part", "supplier") for r in rows)
    # deterministic: a second run returns identical rows in order
    again = QUERIES["pagerank_parts"](spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


# ---------------------------------------------------------------------------
# data-quality expectations
# ---------------------------------------------------------------------------


def test_quality_operators_on_synthetic_violations(spark):
    from pyspark.sql import Row

    from beacon_data_importer_spark.operators.quality import (
        quality_report,
        referential_check,
        row_checks,
        unique_check,
    )

    child = spark.createDataFrame(
        [
            Row(id=1, fk=10, v=5),
            Row(id=1, fk=10, v=-1),   # dup id + negative v
            Row(id=2, fk=99, v=3),    # orphan fk
            Row(id=3, fk=None, v=None),  # null fk is NOT an orphan
        ]
    )
    parent = spark.createDataFrame([Row(pk=10), Row(pk=11)])
    rep = quality_report(
        [
            row_checks(
                child,
                {
                    "v_complete": F.col("v").isNull(),
                    "v_nonneg": F.col("v") < 0,
                },
            ),
            unique_check(child, ["id"], "id_unique"),
            referential_check(child, "fk", parent, "pk", "fk_in_parent"),
        ]
    )
    got = {r.check_name: (r.violations, r.total, r.passed) for r in rep.collect()}
    assert got == {
        "v_complete": (1, 4, False),
        "v_nonneg": (1, 4, False),
        "id_unique": (1, 4, False),
        "fk_in_parent": (1, 4, False),
    }


def test_quality_report_clean_table_passes(spark):
    from pyspark.sql import Row

    from beacon_data_importer_spark.operators.quality import (
        row_checks,
        unique_check,
    )

    df = spark.createDataFrame([Row(id=i, v=i) for i in range(5)])
    rep = row_checks(df, {"v_nonneg": F.col("v") < 0}).unionByName(
        unique_check(df, ["id"], "id_unique")
    )
    assert all(r.passed and r.violations == 0 for r in rep.collect())


def test_quality_row_checks_requires_predicates(spark):
    from pyspark.sql import Row

    from beacon_data_importer_spark.operators.quality import row_checks

    df = spark.createDataFrame([Row(a=1)])
    with pytest.raises(ValueError):
        row_checks(df, {})


# ---------------------------------------------------------------------------
# LOCF forward fill + temperature sampling
# ---------------------------------------------------------------------------


def test_forward_fill_carries_last_purchase(spark, sf_dir):
    out = QUERIES["forward_fill_events"](spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    # users with no purchase at all must be all-NULL
    import pyspark.sql.functions as SF

    purchasers = {
        r.user_id
        for r in e.filter("event_type = 'purchase'")
        .select("user_id")
        .distinct()
        .collect()
    }
    bad = (
        out.filter(SF.col("last_purchase_value").isNotNull())
        .select("user_id")
        .distinct()
        .collect()
    )
    assert all(r.user_id in purchasers for r in bad)
    # for purchasers: once filled, never returns to NULL downstream
    rows = (
        out.join(e.select("event_id", "ts"), "event_id")
        .filter(SF.col("user_id").isin(list(purchasers)[:20]))
        .collect()
    )
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    for uid, grp in per_user.items():
        grp.sort(key=lambda r: (r.ts, r.event_id))
        seen = False
        for r in grp:
            if r.last_purchase_value is not None:
                seen = True
            elif seen:
                raise AssertionError(f"fill dropped back to NULL for {uid}")


def test_temperature_sample_flattens_the_mixture(spark, sf_dir):
    """α=0.5 sampling must give small sources a LARGER share than raw
    proportional sampling: quota ratios are compressed toward 1 vs the
    count ratios."""
    import pyspark.sql.functions as SF

    out = QUERIES["temperature_mixture_sample"](spark, sf_dir)
    got = {
        r.source: r.n
        for r in out.groupBy("source").agg(SF.count(SF.lit(1)).alias("n")).collect()
    }
    counts = {
        r.source: r.c
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .agg(SF.count(SF.lit(1)).alias("c"))
        .collect()
    }
    assert sum(got.values()) <= 200
    big = max(counts, key=counts.get)
    small = min(counts, key=counts.get)
    if counts[big] > counts[small] and small in got and big in got:
        # compression: sampled ratio strictly below the raw count ratio
        assert got[big] / got[small] < counts[big] / counts[small] + 1e-9


def test_robust_outliers_bounds(spark, sf_dir):
    rows = QUERIES["robust_outliers"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mad_cents >= 0 and r.median_cents > 0
        # 3xMAD on any distribution bounds outliers well under half the mass
        assert r.n_outliers < r.n_orders / 2


def test_token_cooccurrence_symmetric_and_bounded(spark, sf_dir):
    rows = QUERIES["token_cooccurrence"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert r.term_a < r.term_b  # canonical unordered pairs
        assert r.n_docs > 0 and r.lift_ppm >= 0


def test_snapshot_diff_operator_all_change_types(spark):
    from pyspark.sql import Row

    from beacon_data_importer_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    new = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="B"), Row(k=4, v="d")]
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, "k", ["v"]).collect()
    }
    assert got == {2: "update", 3: "delete", 4: "insert"}  # k=1 unchanged


def test_triangle_count_is_consistent(spark, sf_dir):
    r = QUERIES["triangle_count"](spark, sf_dir).collect()[0]
    assert r.n_nodes > 0 and r.n_edges > 0
    # triangles bounded by C(edges over any vertex): sanity ceiling
    assert 0 <= r.n_triangles <= r.n_edges ** 2


def test_dataset_split_grouped_is_leakage_safe(spark, sf_dir):
    """No source may span two splits — the defining property."""
    from beacon_data_importer_spark.operators.sampling import split_assign

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = (
        d.select(split_assign("source", 90, 5).alias("split"), "source")
        .groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .filter("k > 1")
        .count()
    )
    assert spans == 0


def test_dedup_eval_confusion_matrix_consistent(spark, sf_dir):
    r = QUERIES["dedup_eval"](spark, sf_dir).collect()[0]
    assert r.tp + r.fp == r.n_predicted_pairs
    assert r.tp + r.fn == r.n_truth_pairs
    if r.n_predicted_pairs:
        assert 0 <= r.precision_ppm <= 1_000_000
    if r.n_truth_pairs:
        assert 0 <= r.recall_ppm <= 1_000_000


def test_salted_join_spreads_the_hot_key(spark):
    """The hot key's rows must land under multiple salts (the point of
    the operator), and the join result must equal the unsalted join."""
    from pyspark.sql import Row

    from beacon_data_importer_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [Row(k=0, rid=i, v=1) for i in range(400)]
        + [Row(k=i % 5 + 1, rid=1000 + i, v=1) for i in range(100)]
    )
    dim = spark.createDataFrame([Row(k=i, f=i * 10) for i in range(6)])
    out = salted_join(big, dim, "k", salt_col="rid", salts=8)
    plain = big.join(dim, "k")
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key actually fans out over salts
    from pyspark.sql import functions as SF

    n_salts = (
        big.withColumn(
            "__salt", SF.pmod(SF.xxhash64(SF.col("rid")), SF.lit(8))
        )
        .filter("k = 0")
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts >= 4


def test_pareto_frontier_is_mutually_nondominated(spark, sf_dir):
    rows = QUERIES["pareto_frontier"](spark, sf_dir).collect()
    assert rows
    pts = [(r.price_c, r.size) for r in rows]
    for i, (pa, sa) in enumerate(pts):
        for j, (pb, sb) in enumerate(pts):
            if i != j:
                dominates = pb <= pa and sb >= sa and (pb < pa or sb > sa)
                assert not dominates, (pts[i], pts[j])


def test_degree_oriented_triangles_match_id_oriented_on_skewed_graph(spark):
    """The degree-oriented counter (operators/graph.py) must agree with
    the textbook id-oriented edge iterator on a hub graph — the shape
    where their shuffle profiles diverge most (hub fan-out ~n vs ~1)."""
    from beacon_data_importer_spark.operators.graph import (
        degree_oriented_triangles,
    )

    n = 500
    hub = spark.range(1, n).select(F.lit(0).alias("a"), F.col("id").alias("b"))
    ring = spark.range(1, n - 2).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    edges = hub.unionAll(ring)

    got = degree_oriented_triangles(edges).collect()[0]["n_triangles"]

    e1 = edges.select(F.col("a").alias("a1"), F.col("b").alias("b1"))
    e2 = edges.select(F.col("a").alias("a2"), F.col("b").alias("b2"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    want = (
        e1.join(e2, F.col("a2") == F.col("b1"))
        .join(e3, (F.col("a3") == F.col("a1")) & (F.col("b3") == F.col("b2")))
        .count()
    )
    # hub-ring closure: triangles (0, i, i+1) for i in 1..n-2
    assert got == want == n - 3
