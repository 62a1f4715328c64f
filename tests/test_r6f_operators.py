"""Checks for catalog_r6f: planted-variant collapse under collation,
and a pure-Python ACF recomputation + white-noise calibration."""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6f import _ACF_LAGS
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_collated_distinct_collapses_planted_variants(spark, sf_dir):
    row = _q("collated_distinct_audit")(spark, sf_dir).collect()[0]
    p = read_table(spark, sf_dir, "part").collect()
    names = [
        r.p_name.upper() if r.p_partkey % 2 == 0 else r.p_name for r in p
    ]
    assert row.n_rows == len(names)
    assert row.distinct_binary == len(set(names))
    assert row.distinct_ci == len({n.lower() for n in names})
    assert row.distinct_ci == row.distinct_lower
    # the planted uppercasing actually created binary-distinct variants
    assert row.distinct_binary > row.distinct_ci


def test_acf_matches_python_and_white_noise(spark, sf_dir):
    rows = {r.lag: r for r in _q("acf_daily_revenue")(spark, sf_dir).collect()}
    assert set(rows) == set(_ACF_LAGS)
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .orderBy("o_orderdate")
        .collect()
    )
    ys = [r.y for r in daily]
    n, s = len(ys), sum(ys)
    q = sum(y * y for y in ys)
    den = n * n * q - n * s * s
    for k in _ACF_LAGS:
        pairs = list(zip(ys, ys[k:]))
        p = sum(a * b for a, b in pairs)
        sh = sum(a for a, _ in pairs)
        st = sum(b for _, b in pairs)
        num = n * n * p - n * s * (sh + st) + len(pairs) * s * s
        want = (num * 1_000_000) // den if num >= 0 else -(
            (-num * 1_000_000) // den
        )
        r = rows[k]
        assert r.n_pairs == len(pairs)
        assert r.r_ppm == want, k
        # TPC-H dates are i.i.d. → white noise: |r| well under 0.1
        assert abs(r.r_ppm) < 100_000, k


def test_join_view_delta_maintenance_algebra_closes(spark, sf_dir):
    """Every nation's maintained view must equal the recompute (the
    match flag is 1 everywhere), and the delta path must carry real
    mass (the planted 10%/5% inserts touch every nation)."""
    rows = _q("join_view_delta_maintain")(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.delta_matches == 1, r.nation
        assert r.n_maintained == r.n_recomputed
        assert r.rev_maintained_c == r.rev_recomputed_c
        assert 0 < r.delta_share_ppm < 1_000_000, r.nation
