"""Round-5j catalog tier: sorted-neighborhood blocking and forecast
skill —

* ``sorted_neighborhood_pairs`` — the classic Sorted-Neighborhood
  Method (SNM) for entity-resolution blocking: one global sort on the
  match key, candidate pairs = rows within a fixed window of each
  other in the sorted order.  Built on the new distributed
  ``operators/order.global_rank`` (range-partitioned rank, no
  single-task window) + width-w bucket banding, so the quadratic
  all-pairs never materializes — the third blocking family alongside
  the key-equality and PassJoin strategies in ``operators/blocking``.
* ``mase_forecast_audit`` — Mean Absolute Scaled Error of the
  seasonal-naive forecast (same month last year) against the naive
  baseline (previous month) on monthly revenue: the scale-free
  forecast-skill score (MASE < 1e6 ppm ⇒ seasonality beats
  persistence), in exact integer cents end-to-end.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .operators.order import global_rank
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------

_SNM_W = 5  # neighborhood width (pairs within w positions)
_SNM_LEV = 2  # verification threshold on the candidate pairs


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH ranked AS (
      SELECT c_custkey, c_name,
             row_number() OVER (ORDER BY c_name, c_custkey) AS r
      FROM customer
    ),
    cand AS (
      SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
             CAST(b.r - a.r AS BIGINT) AS gap,
             CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
      FROM ranked a JOIN ranked b
        ON b.r - a.r BETWEEN 1 AND {_SNM_W}
    )
    SELECT key_a, key_b, gap, lev
    FROM cand WHERE lev <= {_SNM_LEV}
    """,
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo '95): sort all
    records by the match key (name, id tie-break), emit every pair
    within {w} positions, verify with levenshtein ≤ {lev} — the third
    classic blocking family in this engine (alongside key-equality
    blocks and PassJoin segment keys in ``operators/blocking``), and
    the one that catches near-duplicates whose blocking KEYS disagree
    but whose sort position is adjacent.

    Distributed shape: the global sort position comes from
    ``operators/order.global_rank`` (range repartition + in-partition
    sort + broadcast offset table — no single-task window), and the
    windowed self-join becomes bucket BANDING: with buckets of width
    {w} ((rank−1) div {w}), any pair within {w} positions lies in the
    same or adjacent buckets, so the right side replicates under its
    own and its previous bucket key and the join is a plain equi-join
    on bucket (2× replication instead of an O(n·w) range join probe —
    and never all-pairs).  The rank-window filter then exacts the
    neighborhood.

    The oracle runs the genuine single-sort row_number + windowed
    self-join, so the banding's completeness is re-proven on every
    corpus.  All output columns are integers (keys, gap, edit
    distance)."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ranked = global_rank(c, ["c_name", "c_custkey"], out_col="r")
    left = ranked.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
        F.col("r").alias("ra"),
        F.expr(f"(r - 1) div {_SNM_W}").alias("bucket"),
    )
    rb_bucket = F.expr(f"(r - 1) div {_SNM_W}")
    right = (
        ranked.select(
            F.col("c_custkey").alias("key_b"),
            F.col("c_name").alias("name_b"),
            F.col("r").alias("rb"),
            F.explode(
                F.array(rb_bucket, rb_bucket - 1)
            ).alias("bucket"),
        )
        # bucket −1 duplicates drop at the join (no left bucket is −1)
        .filter(F.col("bucket") >= 0)
    )
    cand = left.join(right, "bucket").filter(
        (F.col("rb") - F.col("ra") >= 1)
        & (F.col("rb") - F.col("ra") <= _SNM_W)
    )
    return cand.select(
        "key_a",
        "key_b",
        (F.col("rb") - F.col("ra")).cast("bigint").alias("gap"),
        F.levenshtein("name_a", "name_b").cast("bigint").alias("lev"),
    ).filter(F.col("lev") <= _SNM_LEV)


q_sorted_neighborhood_pairs.__doc__ = (
    q_sorted_neighborhood_pairs.__doc__ or ""
).format(w=_SNM_W, lev=_SNM_LEV)


# ---------------------------------------------------------------------------
# mase_forecast_audit
# ---------------------------------------------------------------------------


@query(
    "mase_forecast_audit",
    oracle="""
    WITH monthly AS (
      SELECT year(CAST(o_orderdate AS DATE)) * 12
               + month(CAST(o_orderdate AS DATE)) - 1 AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ),
    errs AS (
      SELECT m,
             abs(rev - lag(rev, 12) OVER (ORDER BY m)) AS e_seasonal,
             abs(rev - lag(rev, 1) OVER (ORDER BY m)) AS e_naive,
             lag(m, 12) OVER (ORDER BY m) AS m12,
             lag(m, 1) OVER (ORDER BY m) AS m1
      FROM monthly
    ),
    scored AS (
      SELECT * FROM errs
      WHERE m12 = m - 12 AND m1 = m - 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(e_seasonal) AS BIGINT) AS sum_abs_err_seasonal,
           CAST(sum(e_naive) AS BIGINT) AS sum_abs_err_naive,
           CAST(sum(e_seasonal) * 1000000 // sum(e_naive) AS BIGINT)
             AS mase_ppm
    FROM scored
    """,
)
def q_mase_forecast_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (Mean Absolute Scaled Error) of the SEASONAL-NAIVE monthly
    revenue forecast (predict month m with month m−12) scaled by the
    NAIVE baseline (predict with m−1) — the scale-free forecast-skill
    score (Hyndman & Koehler '06): mase_ppm < 1e6 means yearly
    seasonality genuinely beats persistence on this corpus, and any
    fancier model must beat BOTH before it earns a deploy.

    Months index as year·12+month−1 so the lag-k neighbors are exact
    integer predecessors, and a month only scores when BOTH its m−12
    and m−1 months exist in the data (gap months disqualify — checked
    by comparing the lagged index, not just null-ness).  Errors are
    exact integer cents; the ratio is one floor division.

    Plan: one scan → ~80-row monthly aggregate; the lag windows run on
    that bounded calendar frame (sanctioned), then a 1-row rollup.
    Nothing after the first exchange scales with orders."""
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("m")
    ).agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("rev"))
    w = Window.orderBy("m")  # ~80-month frame: sanctioned
    errs = monthly.select(
        "m",
        F.abs(F.col("rev") - F.lag("rev", 12).over(w)).alias("e_seasonal"),
        F.abs(F.col("rev") - F.lag("rev", 1).over(w)).alias("e_naive"),
        F.lag("m", 12).over(w).alias("m12"),
        F.lag("m", 1).over(w).alias("m1"),
    )
    scored = errs.filter(
        (F.col("m12") == F.col("m") - 12) & (F.col("m1") == F.col("m") - 1)
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("e_seasonal").cast("bigint").alias("sum_abs_err_seasonal"),
        F.sum("e_naive").cast("bigint").alias("sum_abs_err_naive"),
        F.expr("sum(e_seasonal) * 1000000 div sum(e_naive)")
        .cast("bigint")
        .alias("mase_ppm"),
    )
