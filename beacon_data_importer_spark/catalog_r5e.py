"""Round-5e catalog tier: privacy and interval analytics —

* ``k_anonymity_audit`` — k-anonymity / l-diversity report over
  quasi-identifier configurations: group sizes under each QI set,
  rows in groups smaller than k (re-identifiable), and groups whose
  sensitive attribute shows no diversity.  The release-gate audit any
  dataset must pass before leaving the warehouse.
* ``max_concurrent_orders`` — interval concurrency via the sweep-line
  transform: each order contributes (+1 at start day, -1 after its
  last shipment), daily net deltas aggregate distributed, and the
  running sum over the bounded day frame is the exact concurrency
  profile — the O(n) shape that replaces the O(n²) interval self-join.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# k_anonymity_audit
# ---------------------------------------------------------------------------

_KANON_K = 5
# (config name, list of QI SQL expressions). The sensitive attribute is
# c_mktsegment; the acctbal bucket coarsens a near-unique numeric into a
# generalization level, exactly how QI hierarchies are built.
_KANON_QIS: list[tuple[str, list[str]]] = [
    ("nationkey", ["c_nationkey"]),
    # the +100000000-cent offset keeps the dividend positive: both
    # engines' integer division truncates toward zero (measured — see
    # catalog_r5f._CONF_SHIFT), which on negatives would fold the
    # -0.x and +0.x cent ranges into one double-width bucket; the
    # offset makes every bucket a uniform floor-division bucket.
    (
        "nationkey,balance_bucket",
        [
            "c_nationkey",
            "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) div 100000",
        ],
    ),
]


def _kanon_sql(name: str, qi: list[str]) -> str:
    qi_cols = ", ".join(q.replace(" div ", " // ") for q in qi)
    return f"""
      SELECT '{name}' AS qi_config,
             count(*) AS n_groups,
             CAST(min(sz) AS BIGINT) AS min_group,
             CAST(sum(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_risky_groups,
             CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END)
                  AS BIGINT) AS n_risky_rows,
             CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END)
                  * 1000000 // sum(sz) AS BIGINT) AS risky_ppm,
             CAST(sum(CASE WHEN nsens < 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nodiversity_groups
      FROM (
        SELECT {qi_cols}, count(*) AS sz,
               count(DISTINCT c_mktsegment) AS nsens
        FROM customer GROUP BY {qi_cols}
      )
    """


@query(
    "k_anonymity_audit",
    oracle=" UNION ALL ".join(_kanon_sql(n, q) for n, q in _KANON_QIS),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over two quasi-identifier
    generalization levels.

    For each QI configuration: the number of equivalence classes, the
    smallest class, classes (and rows) below k={k} — each such row is
    re-identifiable by an adversary holding the QI — and classes with
    no sensitive-attribute diversity (every member shares one
    mktsegment, so membership alone leaks it).  Coarse QI
    (nationkey) passes; adding a balance bucket shows exactly how
    fast anonymity collapses as columns join the QI.

    One map-side-combined groupBy per configuration + a 1-row rollup;
    exact group-bounded NDV.  At 100 TB each audit is a single
    exchange on its QI — the audit is cheaper than the release it
    gates.

    Reference parity: the reference redacts per-cell
    (``prepare_contacts.py`` compose/dietary sites); this measures the
    dataset-level protection those cell rules do or don't add up to."""
    frames = []
    for name, qi in _KANON_QIS:
        g = (
            read_table(spark, sf_dir, "customer")
            .groupBy(*[F.expr(q) for q in qi])
            .agg(
                F.count(F.lit(1)).alias("sz"),
                F.countDistinct("c_mktsegment").alias("nsens"),
            )
        )
        frames.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.min("sz").alias("min_group"),
                F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0))
                .cast("bigint")
                .alias("n_risky_groups"),
                F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0))
                .cast("bigint")
                .alias("n_risky_rows"),
                F.sum("sz").alias("__tot"),
                F.sum(F.when(F.col("nsens") < 2, 1).otherwise(0))
                .cast("bigint")
                .alias("n_nodiversity_groups"),
            ).select(
                F.lit(name).alias("qi_config"),
                "n_groups",
                "min_group",
                "n_risky_groups",
                "n_risky_rows",
                F.expr("n_risky_rows * 1000000 div __tot").alias("risky_ppm"),
                "n_nodiversity_groups",
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


q_k_anonymity_audit.__doc__ = (q_k_anonymity_audit.__doc__ or "").format(
    k=_KANON_K
)


# ---------------------------------------------------------------------------
# max_concurrent_orders
# ---------------------------------------------------------------------------

@query(
    "max_concurrent_orders",
    oracle="""
    WITH raw AS (
      SELECT o.o_orderkey,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o.o_orderdate AS DATE)) AS BIGINT) AS a,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(max(l.l_shipdate) AS DATE)) AS BIGINT) AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    span AS (
      SELECT o_orderkey, least(a, b) AS d0, greatest(a, b) AS d1 FROM raw
    ),
    deltas AS (
      SELECT d0 AS day_no, 1 AS delta FROM span
      UNION ALL
      SELECT d1 + 1 AS day_no, -1 AS delta FROM span
    ),
    daily AS (
      SELECT day_no, CAST(sum(delta) AS BIGINT) AS net
      FROM deltas GROUP BY day_no
    )
    SELECT day_no, net,
           CAST(sum(net) OVER (
             ORDER BY day_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS concurrency
    FROM daily
    """,
)
def q_max_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-concurrency profile via the sweep-line transform.

    An order is "in flight" across its activity span — from the
    earlier to the later of (order date, last line shipment); this
    synthetic corpus inverts ~21% of orders (shipment precedes
    ordering), so the span takes least/greatest rather than assuming
    direction, keeping every interval well-formed and the concurrency
    non-negative.  The naive concurrency question is an interval
    self-join (O(n²)).  The sweep line replaces it with two delta
    events per order (+1 at span start, -1 the day after span end), a
    distributed daily rollup, and one running sum over the ~2.4k-day
    frame — O(n) work, one shuffle on day_no, and the global window
    runs on the bounded calendar frame (same rationale as
    ``ewma_daily_revenue``).  Output: per day, net openings and the
    exact number of in-flight orders.

    The per-order span end is itself a map-side-combined max over
    that order's lines (shuffle on orderkey — the join's natural key).
    Orders with no lineitem rows have no span and are excluded by the
    inner join on both engines.

    Reference parity: the set-cardinality-over-time generalization of
    the reference's callback scheduling window (X15,
    ``prepare_contacts.py`` +6-day site)."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1992-01-01").cast("date")
    a = F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("bigint")
    b = F.datediff(F.col("close_ts").cast("date"), epoch).cast("bigint")
    span = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .select(
            F.least(a, b).alias("d0"),
            F.greatest(a, b).alias("d1"),
        )
    )
    deltas = span.select(
        F.col("d0").alias("day_no"), F.lit(1).alias("delta")
    ).unionByName(
        span.select((F.col("d1") + 1).alias("day_no"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day_no").agg(F.sum("delta").cast("bigint").alias("net"))
    w = Window.orderBy("day_no").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day_no", "net", F.sum("net").over(w).alias("concurrency")
    )
