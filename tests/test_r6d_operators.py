"""Independent checks for catalog_r6d: S-curve monotonicity + Python
recomputation for the band advisor, exact leaderboard recomputation for
decayed_topk, and quantile/pinball recomputation for
pinball_quantile_eval."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6d import (
    _DECAY_TOPK,
    _MBA_CONFIGS,
    _PINBALL_CUTOFF,
    _PINBALL_QS,
)
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_band_advisor_matches_python_and_is_monotone(spark, sf_dir):
    rows = {
        (r.bands, r.rows_per_band): r
        for r in _q("minhash_band_advisor")(spark, sf_dir).collect()
    }
    assert set(rows) == set(_MBA_CONFIGS)
    truth = [
        r.jaccard_e6
        for r in _q("prefix_filter_jaccard_join")(spark, sf_dir).collect()
    ]
    assert truth, "exact join found no pairs — advisor has no population"

    def p_ppm(b, r, s_pct):
        return int((1.0 - (1.0 - (s_pct / 100.0) ** r) ** b) * 1_000_000)

    for (b, r), row in rows.items():
        assert row.n_true_pairs == len(truth)
        want = (
            sum(p_ppm(b, r, (j + 5000) // 10000) for j in truth)
            // len(truth)
        )
        assert row.expected_recall_ppm == want, (b, r)
        assert row.p_at_50_ppm == p_ppm(b, r, 50)
        assert row.p_at_70_ppm == p_ppm(b, r, 70)
        assert row.p_at_90_ppm == p_ppm(b, r, 90)

    # more rows per band → steeper curve → lower recall at fixed truth,
    # lower sub-threshold candidate pressure (both strictly ordered
    # down the config list)
    ordered = [rows[c] for c in _MBA_CONFIGS]
    for a, b in zip(ordered, ordered[1:]):
        assert a.expected_recall_ppm >= b.expected_recall_ppm
        assert a.p_at_50_ppm >= b.p_at_50_ppm


def test_decayed_topk_matches_python(spark, sf_dir):
    rows = _q("decayed_topk")(spark, sf_dir).collect()
    orders = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
            F.year("o_orderdate").alias("yr"),
        )
        .collect()
    )
    from collections import defaultdict

    raw, dec = defaultdict(int), defaultdict(int)
    for o in orders:
        raw[o.o_custkey] += o.c
        dec[o.o_custkey] += o.c * (2 ** (o.yr - 1992))
    top = sorted(dec.items(), key=lambda kv: (-kv[1], kv[0]))[:_DECAY_TOPK]
    by_rank = sorted(rows, key=lambda r: r.rank_decayed)
    assert [(r.custkey, r.decayed_e, r.raw_cents) for r in by_rank] == [
        (k, v, raw[k]) for k, v in top
    ]
    # the raw re-ranking is a permutation of 1..k
    assert sorted(r.rank_raw_within for r in rows) == list(
        range(1, _DECAY_TOPK + 1)
    )


def test_pinball_quantile_eval_matches_python(spark, sf_dir):
    rows = {
        r.q_ppm: r
        for r in _q("pinball_quantile_eval")(spark, sf_dir).collect()
    }
    o = read_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        (F.col("o_orderdate") < F.lit(_PINBALL_CUTOFF).cast("date")).alias(
            "pre"
        ),
    )
    data = o.collect()
    pre = sorted(r.c for r in data if r.pre)
    post = [r.c for r in data if not r.pre]
    for q in _PINBALL_QS:
        # smallest value whose cumulative count reaches ceil(q·n / 1e6)
        k = -(-q * len(pre) // 1_000_000)
        pred = pre[k - 1]
        r = rows[q]
        assert r.pred_c == pred, q
        assert r.n_post == len(post)
        loss = sum(
            q * (y - pred) if y >= pred else (1_000_000 - q) * (pred - y)
            for y in post
        )
        assert r.mean_pinball_e6 == loss // len(post)
    # proper-scoring sanity ON THE TRAINING SAMPLE: the pre-period
    # quantile minimizes pinball over the pre period (on the shifted
    # post period a perturbed prediction can legitimately win — that
    # drift is exactly what the eval exists to surface).
    q = 500_000
    pred = rows[q].pred_c

    def mean_loss(p):
        return sum(
            q * (y - p) if y >= p else (1_000_000 - q) * (p - y)
            for y in pre
        ) // len(pre)

    assert mean_loss(pred) <= mean_loss(pred + 100_000)
    assert mean_loss(pred) <= mean_loss(pred - 100_000)
