"""Invariant tests for the round-5j tier (sorted-neighborhood
blocking, MASE forecast audit) and the global_rank operator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5j  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_global_rank_is_the_exact_permutation(shuffle4, spark, sf_dir):
    """global_rank must equal row_number() over the same total order —
    a contiguous 1..n permutation in sorted-key order.  Runs at 4
    shuffle partitions (shuffle4 fixture) so the cross-partition
    offset path is the one under test."""
    from beacon_data_importer_spark.operators.order import global_rank
    from beacon_data_importer_spark.sources.parquet import read_table

    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    got = {
        r["c_custkey"]: r["r"]
        for r in global_rank(c, ["c_name", "c_custkey"], out_col="r").collect()
    }
    rows = sorted(c.collect(), key=lambda r: (r["c_name"], r["c_custkey"]))
    expected = {r["c_custkey"]: i + 1 for i, r in enumerate(rows)}
    assert got == expected


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[-1]


def test_snm_matches_sequential_scan(spark, sf_dir):
    from beacon_data_importer_spark.catalog_r5j import _SNM_LEV, _SNM_W
    from beacon_data_importer_spark.sources.parquet import read_table

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    ).collect()
    rows = sorted(c, key=lambda r: (r["c_name"], r["c_custkey"]))
    expected = set()
    for i, a in enumerate(rows):
        for j in range(i + 1, min(i + _SNM_W + 1, len(rows))):
            b = rows[j]
            lev = _lev(a["c_name"], b["c_name"])
            if lev <= _SNM_LEV:
                expected.add((a["c_custkey"], b["c_custkey"], j - i, lev))

    got = {
        (r["key_a"], r["key_b"], r["gap"], r["lev"])
        for r in QUERIES["sorted_neighborhood_pairs"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected


def test_mase_recomputes_from_monthly_series(spark, sf_dir):
    """Rebuild the monthly series sequentially and recompute both error
    sums and the ppm ratio."""
    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders").select(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    monthly: dict[int, int] = {}
    for r in o.collect():
        monthly[r["m"]] = monthly.get(r["m"], 0) + r["cents"]
    es = en = n = 0
    for m, rev in monthly.items():
        if m - 12 in monthly and m - 1 in monthly:
            es += abs(rev - monthly[m - 12])
            en += abs(rev - monthly[m - 1])
            n += 1

    row = QUERIES["mase_forecast_audit"](spark, sf_dir).collect()[0]
    assert row["n_months"] == n
    assert row["sum_abs_err_seasonal"] == es
    assert row["sum_abs_err_naive"] == en
    assert row["mase_ppm"] == es * 1000000 // en
