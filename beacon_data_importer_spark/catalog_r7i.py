"""Round-7 catalog tier (i): theta-sketch set algebra —

``theta_set_ops_audit`` completes the sketch family's algebra: HLL
(hll_distinct_audit, sketch_reaggregation_audit, the streaming state
twin) supports UNION only, but the retention questions a warehouse
actually asks — how many customers were active in BOTH years?  how
many churned? — are intersections and differences.  Spark 4's Apache
DataSketches theta surface (``theta_sketch_agg`` /
``theta_union`` / ``theta_intersection`` / ``theta_difference`` /
``theta_sketch_estimate``) answers them from PRE-AGGREGATED per-period
sketches, no re-scan of the raw data — the property that makes
sketches a storage format at 100 TB (keep a KB-scale theta sketch per
day/segment; answer any later set question by sketch algebra).

Audit device: estimates are engine-specific bits, so the registered
output is the exact counts plus a boolean error-bound per set
operation (the hll_distinct_audit discipline).  Intersection and
difference error compounds relative to the RESULT size when the
operands barely overlap — the bound here is 10% of results that are
~half the operands, comfortable for lgK=12 (~1.6% rse per operand).

Reference parity: beyond-reference sketch tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 (dialect-shared SQL)

from .catalog import query
from .sources.parquet import read_table


@query(
    "theta_set_ops_audit",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
        max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97,
        max(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS y98
      FROM orders GROUP BY o_custkey
    )
    SELECT
      CAST(sum(CASE WHEN y97 = 1 OR y98 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS union_exact,
      CAST(sum(y97 * y98) AS BIGINT) AS retained_exact,
      CAST(sum(CASE WHEN y97 = 1 AND y98 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS churned_exact,
      true AS union_within_10pct,
      true AS retained_within_10pct,
      true AS churned_within_10pct
    FROM cust
    """,
)
def q_theta_set_ops_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-retention set algebra from theta sketches: one scan
    builds a per-year sketch of active customers (conditional
    ``theta_sketch_agg`` — one pass, two KB-scale states), then union
    (active either year), intersection (retained), and difference
    (churned: 1997 but not 1998) come from sketch ALGEBRA — the raw
    data is never touched again, which is the entire point at 100 TB
    where per-period sketches are stored and periods are long gone.
    Each estimate is audited as a boolean 10% bound against the exact
    customer-flag aggregation (estimates themselves are
    DataSketches-internal bits no other engine reproduces —
    hll_distinct_audit device).

    Both passes are single map-side-combinable aggregations; the
    sketch pass's state is ~KB per operand regardless of row count."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    sk = spark.sql("""
      SELECT
        theta_sketch_agg(CASE WHEN year(o_orderdate) = 1997
                         THEN o_custkey END) AS s97,
        theta_sketch_agg(CASE WHEN year(o_orderdate) = 1998
                         THEN o_custkey END) AS s98
      FROM orders
    """)
    sk.createOrReplaceTempView("__theta_ops_sk")
    est = spark.sql("""
      SELECT
        CAST(theta_sketch_estimate(theta_union(s97, s98)) AS BIGINT)
          AS union_est,
        CAST(theta_sketch_estimate(theta_intersection(s97, s98))
             AS BIGINT) AS retained_est,
        CAST(theta_sketch_estimate(theta_difference(s97, s98))
             AS BIGINT) AS churned_est
      FROM __theta_ops_sk
    """)
    exact = spark.sql("""
      WITH cust AS (
        SELECT o_custkey,
          max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97,
          max(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS y98
        FROM orders GROUP BY o_custkey
      )
      SELECT
        CAST(sum(CASE WHEN y97 = 1 OR y98 = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS union_exact,
        CAST(sum(y97 * y98) AS BIGINT) AS retained_exact,
        CAST(sum(CASE WHEN y97 = 1 AND y98 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS churned_exact
      FROM cust
    """)

    def ok(est_c: str, exact_c: str):
        return (
            F.abs(F.col(est_c) - F.col(exact_c))
            <= F.col(exact_c) * 0.10
        )

    return exact.crossJoin(F.broadcast(est)).select(
        "union_exact",
        "retained_exact",
        "churned_exact",
        ok("union_est", "union_exact").alias("union_within_10pct"),
        ok("retained_est", "retained_exact").alias("retained_within_10pct"),
        ok("churned_est", "churned_exact").alias("churned_within_10pct"),
    )
