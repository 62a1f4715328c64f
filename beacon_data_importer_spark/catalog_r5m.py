"""Round-5m catalog tier: two more Spark-4 SQL surfaces —

* ``pipe_syntax_pricing`` — the Q1-shaped pricing summary written in
  Spark 4's SQL PIPE SYNTAX (``FROM t |> WHERE … |> AGGREGATE …``) —
  same logical plan as ``pricing_summary``, proven by both the DuckDB
  oracle and a row-equality test against the classic form; the
  surface matters because pipelined SQL is how analysts increasingly
  author multi-stage queries.
* ``sql_udf_taxed_margin`` — a DECLARED SQL scalar function
  (``CREATE TEMPORARY FUNCTION … RETURN expr``, Spark 4 SQL UDFs)
  used inside an aggregate.  Unlike Python UDFs, a SQL UDF inlines
  into the Catalyst plan — whole-stage codegen, predicate pushdown,
  zero serialization — the right way to share scalar business logic
  across queries.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import query
from .sources.parquet import register_views

# ---------------------------------------------------------------------------
# pipe_syntax_pricing
# ---------------------------------------------------------------------------


@query(
    "pipe_syntax_pricing",
    oracle="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
      CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        AS sum_qty_cents,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS sum_price_cents,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1-shaped pricing summary in Spark 4's SQL PIPE SYNTAX:
    ``FROM … |> WHERE … |> AGGREGATE … GROUP BY …`` — each ``|>``
    stage reads top-to-bottom in execution order (the authoring
    ergonomics pipelined SQL was added for), and Catalyst compiles it
    to the IDENTICAL plan as the classic form (asserted row-for-row
    against ``pricing_summary``'s columns in tests; the oracle is
    plain ANSI SQL — pipe syntax is Spark-side sugar, the RESULTS are
    engine-portable).

    Plan: same as pricing_summary — one pushed-filter scan, hash agg
    with map-side partials, one exchange on the 2×2 key."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> AGGREGATE
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_cents,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS sum_price_cents,
             count(*) AS count_order
           GROUP BY l_returnflag AS returnflag, l_linestatus AS linestatus
        |> SELECT returnflag, linestatus, sum_qty_cents, sum_price_cents,
                  count_order
        """
    )


# ---------------------------------------------------------------------------
# sql_udf_taxed_margin
# ---------------------------------------------------------------------------


@query(
    "sql_udf_taxed_margin",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(sum(CAST(round(
             l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
           ) AS BIGINT)) AS BIGINT) AS taxed_revenue_cents,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_udf_taxed_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A DECLARED SQL scalar function (Spark 4 ``CREATE TEMPORARY
    FUNCTION … RETURN expr``) computing the taxed discounted line
    revenue, used inside a grouped aggregate.  The function INLINES
    into the Catalyst plan — the aggregate below runs in whole-stage
    codegen with no serialization boundary, which is why shared
    scalar business logic belongs in SQL UDFs, never Python UDFs (the
    measured ~30× applyInPandas toll in PERF.md).  The oracle applies
    the same expression inline: a SQL UDF is definitionally
    engine-portable logic.

    Exactness: one cents-rounding at the defined boundary (the
    module's cents discipline) — the UDF body multiplies in DOUBLE
    exactly like the classic queries do before rounding."""
    register_views(spark, sf_dir, "lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION taxed_revenue_cents(
          price DOUBLE, discount DOUBLE, tax DOUBLE
        ) RETURNS BIGINT
        RETURN CAST(round(price * (1 - discount) * (1 + tax) * 100, 0)
                    AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag,
               CAST(sum(taxed_revenue_cents(l_extendedprice, l_discount,
                                            l_tax)) AS BIGINT)
                 AS taxed_revenue_cents,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_returnflag
        """
    )
