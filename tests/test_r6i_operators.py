"""Pure-Python recomputation tests for catalog_r6i (EMD, best split,
WoE/IV)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6i import (
    _EMD_BIN_CENTS,
    _EMD_CUTOFF,
    _EMD_MAX_BIN,
    _SPLIT_TOPN,
)
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_emd_matches_python(spark, sf_dir):
    row = _q("emd_drift_audit")(spark, sf_dir).collect()[0]
    o = read_table(spark, sf_dir, "orders").collect()
    from datetime import date, datetime

    cut = datetime.fromisoformat(_EMD_CUTOFF)
    pre, post = Counter(), Counter()
    for r in o:
        b = min(_EMD_MAX_BIN, round(r.o_totalprice * 100) // _EMD_BIN_CENTS)
        d = r.o_orderdate
        if isinstance(d, date) and not isinstance(d, datetime):
            d = datetime(d.year, d.month, d.day)
        (pre if d < cut else post)[b] += 1
    n1, n2 = sum(pre.values()), sum(post.values())
    assert (row.n1, row.n2) == (n1, n2)
    bins = sorted(set(pre) | set(post))
    assert row.n_bins == len(bins)
    c1 = c2 = total = 0
    for b in bins:
        c1 += pre.get(b, 0)
        c2 += post.get(b, 0)
        total += abs(c1 * n2 - c2 * n1)
    assert row.emd_bins_e6 == total * 1_000_000 // (n1 * n2)


def _labeled(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "y"
            )
        )
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
            "y",
        )
        .collect()
    )


def test_best_split_matches_python(spark, sf_dir):
    rows = _q("best_split_finder")(spark, sf_dir).collect()
    data = _labeled(spark, sf_dir)
    by_val = defaultdict(lambda: [0, 0])
    for r in data:
        by_val[r.x][0 if r.y == 1 else 1] += 1
    t1 = sum(v[0] for v in by_val.values())
    t0 = sum(v[1] for v in by_val.values())
    scores = []
    l1 = l0 = 0
    for x in sorted(by_val):
        l1 += by_val[x][0]
        l0 += by_val[x][1]
        r1, r0 = t1 - l1, t0 - l0
        nl, nr = l1 + l0, r1 + r0
        if nl == 0 or nr == 0:
            continue
        score = ((l1 * l1 + l0 * l0) * nr + (r1 * r1 + r0 * r0) * nl) * (
            1_000_000
        ) // (nl * nr)
        scores.append((score, x, nl, nr))
    want = sorted(scores, key=lambda t: (-t[0], t[1]))[:_SPLIT_TOPN]
    got = [(r.score_e6, r.split_c, r.n_left, r.n_right) for r in rows]
    assert got == want
    # the returned winner beats a midpoint split (sanity: argmax real)
    mid = sorted(by_val)[len(by_val) // 2]
    mid_score = next(s for s, x, *_ in scores if x == mid)
    assert got[0][0] >= mid_score


def test_woe_iv_matches_python_and_flags_useless_feature(spark, sf_dir):
    rows = {r.segment: r for r in _q("woe_iv_encoding")(spark, sf_dir).collect()}
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")
    lab = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "bad"
            )
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for r in lab:
        per[r.c_mktsegment][r.bad] += 1  # [good, bad]
    g = sum(v[0] for v in per.values())
    b = sum(v[1] for v in per.values())
    k = len(per)
    iv_total = 0
    terms = {}
    for seg, (ng, nb) in per.items():
        gp = (ng + 1) * 1_000_000 // (g + k)
        bp = (nb + 1) * 1_000_000 // (b + k)
        woe = math.floor(1e6 * math.log(gp / bp))
        terms[seg] = (ng, nb, woe, (gp - bp) * woe)
        iv_total += (gp - bp) * woe
    for seg, (ng, nb, woe, term) in terms.items():
        r = rows[seg]
        assert (r.n_good, r.n_bad, r.woe_e6, r.iv_term_e12) == (
            ng, nb, woe, term,
        )
        assert r.iv_total_e12 == iv_total
    # segment carries no signal about returns → IV ≈ 0 (≪ 0.02·1e12)
    assert abs(iv_total) < 20_000_000_000
