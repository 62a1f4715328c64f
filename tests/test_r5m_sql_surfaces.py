"""Invariant tests for the round-5m tier (pipe syntax, SQL UDFs)."""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5m  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_pipe_syntax_equals_classic_form(spark, sf_dir):
    """The pipe-syntax query must agree row-for-row with the classic
    pricing_summary on their shared columns — Catalyst must compile
    both syntaxes to the same result."""
    pipe = QUERIES["pipe_syntax_pricing"](spark, sf_dir)
    classic = QUERIES["pricing_summary"](spark, sf_dir).select(
        "returnflag",
        "linestatus",
        "sum_qty_cents",
        "sum_price_cents",
        F.col("count_order").cast("bigint").alias("count_order"),
    )
    pipe = pipe.select(
        "returnflag",
        "linestatus",
        "sum_qty_cents",
        "sum_price_cents",
        F.col("count_order").cast("bigint").alias("count_order"),
    )
    assert pipe.exceptAll(classic).count() == 0
    assert classic.exceptAll(pipe).count() == 0


def test_sql_udf_inlines_without_python(spark, sf_dir):
    """The SQL UDF plan must contain no Python evaluation node (it
    inlines into Catalyst), and the result must equal the same
    expression written inline."""
    df = QUERIES["sql_udf_taxed_margin"](spark, sf_dir)
    txt = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in txt

    from beacon_data_importer_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    inline = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100,
                0,
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("taxed_revenue_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    got = {
        r["returnflag"]: (r["taxed_revenue_cents"], r["n_lines"])
        for r in df.collect()
    }
    exp = {
        r["returnflag"]: (r["taxed_revenue_cents"], r["n_lines"])
        for r in inline.collect()
    }
    assert got == exp
