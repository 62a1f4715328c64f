"""Pure-Python recomputation tests for catalog_r6e (KS, log-rank,
LATERAL top-n)."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6e import _KS_C2_E6, _LR_CHI2_05_E6
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_ks_two_sample_matches_python(spark, sf_dir):
    row = _q("ks_two_sample")(spark, sf_dir).collect()[0]
    o = read_table(spark, sf_dir, "orders").collect()
    a = sorted(
        round(r.o_totalprice * 100) for r in o if r.o_orderstatus == "F"
    )
    b = sorted(
        round(r.o_totalprice * 100) for r in o if r.o_orderstatus == "O"
    )
    n1, n2 = len(a), len(b)
    assert (row.n1, row.n2) == (n1, n2)
    import bisect

    pts = sorted(set(a) | set(b))
    d_num = max(
        abs(bisect.bisect_right(a, x) * n2 - bisect.bisect_right(b, x) * n1)
        for x in pts
    )
    assert row.d_num == d_num
    assert row.d_ppm == d_num * 1_000_000 // (n1 * n2)
    assert row.reject_05 == int(
        d_num * d_num * 1_000_000 > _KS_C2_E6 * n1 * n2 * (n1 + n2)
    )
    # the constant really is c(0.05)² in 1e-6 units
    assert _KS_C2_E6 == math.floor(1e6 * (-math.log(0.025) / 2))


def test_logrank_matches_python(spark, sf_dir):
    row = _q("logrank_test")(spark, sf_dir).collect()[0]
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    fs = {
        r.l_orderkey: r.first_ship
        for r in li.groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .collect()
    }
    orders = o.collect()
    horizon = max(r.o_orderdate for r in orders)
    from collections import defaultdict

    per_t = defaultdict(lambda: [0, 0, 0, 0])  # s1, st, d1, dt
    for r in orders:
        if r.o_orderkey not in fs:
            continue
        t = (fs[r.o_orderkey] - r.o_orderdate).days
        c = (horizon - r.o_orderdate).days
        grp = int(r.o_orderpriority in ("1-URGENT", "2-HIGH"))
        obs_t, ev = min(t, c), int(t <= c)
        e = per_t[obs_t]
        e[0] += grp
        e[1] += 1
        e[2] += grp * ev
        e[3] += ev
    n1 = nt = 0
    o1 = e1 = v = 0
    for obs_t in sorted(per_t, reverse=True):
        s1, st, d1, dt = per_t[obs_t]
        n1 += s1
        nt += st
        if dt == 0:
            continue
        o1 += d1
        e1 += math.floor(1e6 * float(dt) * float(n1) / float(nt))
        if nt > 1:
            v += math.floor(
                1e12
                * float(dt)
                * float(n1)
                * float(nt - n1)
                * float(nt - dt)
                / (float(nt) * float(nt) * float(nt - 1))
            )
    assert (row.o1, row.e1_e6, row.v_e12) == (o1, e1, v)
    z = o1 * 1_000_000 - e1
    assert row.chi2_e6 == z * z * 1_000_000 // v
    assert row.reject_05 == int(z * z * 1_000_000 > _LR_CHI2_05_E6 * v)


def test_lateral_topn_equals_window_form(spark, sf_dir):
    got = {
        tuple(r)
        for r in _q("lateral_topn_per_group")(spark, sf_dir).collect()
    }
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    want = {
        tuple(r)
        for r in c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_nationkey").alias("nationkey"),
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            F.round(F.col("c_acctbal") * 100)
            .cast("bigint")
            .alias("acctbal_c"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # no nation exceeds 3 rows
    from collections import Counter

    counts = Counter(r[0] for r in got)
    assert max(counts.values()) <= 3
