"""Round-6 catalog tier (e): two-sample distribution testing, survival
comparison, and the correlated-LATERAL SQL surface —

* ``ks_two_sample`` — the Kolmogorov-Smirnov two-sample test between
  finished ('F') and open ('O') orders' value distributions: D = max
  |F̂₁ − F̂₂| found on the distinct-value frame with ONE distributed
  prefix sum (both groups' cumulative counts packed into a single
  64-bit column — c₁·2³¹ + c₂ — so ``global_running_sum`` runs once),
  compared against the α=0.05 critical value by exact
  cross-multiplication (no sqrt at query time).
* ``logrank_test`` — the log-rank test comparing order→first-ship
  survival between high-priority and other orders: observed vs
  expected events per event time from the hypergeometric model, the
  variance term as one IEEE chain per time (identical expression text
  in both engines, kaplan_meier's device), χ² compared to 3.841 by
  cross-multiplication.  Completes the survival tier: KM (estimate),
  Nelson-Aalen (hazard), log-rank (comparison).
* ``lateral_topn_per_group`` — per-nation top-3 customers by balance
  through a CORRELATED LATERAL subquery with ORDER BY + LIMIT — the
  Spark 4 SQL surface (SPARK-28379 lineage) that expresses
  top-n-per-group without a window function, ↔ DuckDB's LATERAL.

Reference parity: beyond-reference tiers; lateral_topn_per_group's
window twin is the proven ``window_rank_lag`` family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# ks_two_sample
# ---------------------------------------------------------------------------

#: c(0.05)² · 1e6 for the two-sample KS critical value
#: c(α) = sqrt(-ln(α/2)/2) = 1.3581015…; reject iff
#: D² · n₁n₂/(n₁+n₂) > c² ⟺ d_num² · 1e6 > C2_E6 · n₁n₂ · (n₁+n₂)
_KS_C2_E6 = 1_844_439  # floor(1e6 · (-ln(0.025)/2))

_KS_PACK = 2_147_483_648  # 2^31: packs both groups' counts in one int64


@query(
    "ks_two_sample",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    by_val AS (
      SELECT x, CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM vals GROUP BY x
    ),
    scanned AS (
      SELECT x,
             sum(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum2
      FROM by_val
    ),
    n AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM by_val
    )
    SELECT n.n1, n.n2,
           CAST(max(abs(CAST(s.cum1 AS HUGEINT) * n.n2
                        - CAST(s.cum2 AS HUGEINT) * n.n1)) AS BIGINT)
             AS d_num,
           CAST(max(abs(CAST(s.cum1 AS HUGEINT) * n.n2
                        - CAST(s.cum2 AS HUGEINT) * n.n1)) * 1000000
                // (CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS d_ppm,
           CASE WHEN CAST(max(abs(CAST(s.cum1 AS HUGEINT) * n.n2
                                  - CAST(s.cum2 AS HUGEINT) * n.n1))
                     AS HUGEINT)
                     * max(abs(CAST(s.cum1 AS HUGEINT) * n.n2
                               - CAST(s.cum2 AS HUGEINT) * n.n1))
                     * 1000000
                   > CAST({_KS_C2_E6} AS HUGEINT) * n.n1 * n.n2
                     * (n.n1 + n.n2)
                THEN 1 ELSE 0 END AS reject_05
    FROM scanned s CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test: do finished and open orders
    draw their values from the same distribution?

    D = max over sample points of |F̂₁ − F̂₂|, located on the
    distinct-value frame.  That frame is unbounded at scale, so the
    cumulative counts run through ONE ``global_running_sum`` pass with
    both groups PACKED into a single column (c₁·2³¹ + c₂; both cums
    < 2³¹ by construction, so ``div``/``%`` unpack exactly) — one
    range exchange where the textbook dual-window form would pay one
    per group, and never a single-task global window.  The decision
    compares d_num² · 1e6 against c²(0.05) · n₁n₂ · (n₁+n₂) in
    DECIMAL(38,0)/HUGEINT — sqrt-free, division-free.

    The distribution-shape member of the comparison family:
    permutation_test (means), AUC/Mann-Whitney (stochastic order),
    kruskal_wallis (k-group ranks), PSI (binned drift) — KS is the
    sup-norm test the others bound.

    Reference parity: beyond-reference statistics tier."""
    from .operators.order import global_running_sum

    o = read_table(spark, sf_dir, "orders")
    vals = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("g"),
    )
    by_val = vals.groupBy("x").agg(
        F.sum("g").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("c2"),
    )
    packed = by_val.withColumn(
        "packed", F.col("c1") * _KS_PACK + F.col("c2")
    )
    scanned = global_running_sum(packed, ["x"], "packed", "cum").select(
        F.expr(f"cum div {_KS_PACK}").alias("cum1"),
        (F.col("cum") % _KS_PACK).alias("cum2"),
    )
    n = by_val.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    d = _DEC
    return (
        scanned.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.expr(
                f"CAST(max(abs(CAST(cum1 AS {d}) * n2"
                f" - CAST(cum2 AS {d}) * n1)) AS BIGINT)"
            ).alias("d_num")
        )
        .select(
            "n1",
            "n2",
            "d_num",
            F.expr(
                f"CAST(CAST(d_num AS {d}) * 1000000"
                f" div (CAST(n1 AS {d}) * n2) AS BIGINT)"
            ).alias("d_ppm"),
            F.expr(
                f"CASE WHEN CAST(d_num AS {d}) * d_num * 1000000"
                f" > CAST({_KS_C2_E6} AS {d}) * n1 * n2 * (n1 + n2)"
                " THEN 1 ELSE 0 END"
            ).alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# logrank_test
# ---------------------------------------------------------------------------

_LR_CHI2_05_E6 = 3_841_459  # χ²(1, 0.05) · 1e6


@query(
    "logrank_test",
    oracle=f"""
    WITH subj AS (
      SELECT date_diff('day', o.o_orderdate, s.first_ship) AS t,
             date_diff('day', o.o_orderdate,
                       (SELECT max(o_orderdate) FROM orders)) AS c,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp
      FROM orders o
      JOIN (SELECT l_orderkey, min(l_shipdate) AS first_ship
            FROM lineitem GROUP BY l_orderkey) s
        ON s.l_orderkey = o.o_orderkey
    ),
    obs AS (
      SELECT least(t, c) AS obs_t,
             CASE WHEN t <= c THEN 1 ELSE 0 END AS ev, grp
      FROM subj
    ),
    by_t AS (
      SELECT obs_t,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(count(*) AS BIGINT) AS st,
             CAST(sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(sum(ev) AS BIGINT) AS dt
      FROM obs GROUP BY obs_t
    ),
    risk AS (
      SELECT obs_t, d1, dt,
             CAST(sum(s1) OVER (ORDER BY obs_t DESC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n1,
             CAST(sum(st) OVER (ORDER BY obs_t DESC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS nt
      FROM by_t
    ),
    terms AS (
      SELECT d1,
             CAST(floor(1e6 * CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                        / CAST(nt AS DOUBLE)) AS BIGINT) AS e1_e6,
             CASE WHEN nt > 1 THEN
               CAST(floor(1e12 * CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                          * CAST(nt - n1 AS DOUBLE)
                          * CAST(nt - dt AS DOUBLE)
                          / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                             * CAST(nt - 1 AS DOUBLE))) AS BIGINT)
             ELSE 0 END AS v_e12
      FROM risk WHERE dt > 0
    )
    SELECT CAST(sum(d1) AS BIGINT) AS o1,
           CAST(sum(e1_e6) AS BIGINT) AS e1_e6,
           CAST(sum(v_e12) AS BIGINT) AS v_e12,
           CAST(CAST(sum(d1) * 1000000 - sum(e1_e6) AS HUGEINT)
                * (sum(d1) * 1000000 - sum(e1_e6)) * 1000000
                // sum(v_e12) AS BIGINT) AS chi2_e6,
           CASE WHEN CAST(sum(d1) * 1000000 - sum(e1_e6) AS HUGEINT)
                     * (sum(d1) * 1000000 - sum(e1_e6)) * 1000000
                   > CAST({_LR_CHI2_05_E6} AS HUGEINT) * sum(v_e12)
                THEN 1 ELSE 0 END AS reject_05
    FROM terms
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do high-priority orders ship on a different
    survival curve than the rest?

    Same subjects, durations and right-censoring as ``kaplan_meier``
    (order → first ship, censored at the observation horizon), split
    by priority group.  At every event time the hypergeometric model
    gives E[d₁] = d·n₁/n and V = d·n₁(n−n₁)(n−d)/(n²(n−1)); each term
    is ONE IEEE chain over exact integer inputs with identical
    expression text in both engines, floored per term (kaplan_meier /
    psi device).  χ² = (O₁−E₁)²/V is compared to χ²(1, 0.05) by exact
    cross-multiplication — no division before the reported chi2_e6.

    The at-risk counts are DESCENDING cumulative sums over the
    event-time frame — bounded by the calendar (duration days), so the
    ordered window is the sanctioned bounded-frame kind (same as KM).

    Completes the survival tier: KM estimates a curve, Nelson-Aalen
    its hazard, log-rank decides whether two curves differ.

    Reference parity: beyond-reference survival tier."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    subj = (
        o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"])
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("first_ship", "o_orderdate").alias("t"),
            F.datediff("h", "o_orderdate").alias("c"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("grp"),
        )
    )
    obs = subj.select(
        F.least("t", "c").alias("obs_t"),
        F.when(F.col("t") <= F.col("c"), 1).otherwise(0).alias("ev"),
        "grp",
    )
    by_t = obs.groupBy("obs_t").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.count(F.lit(1)).cast("bigint").alias("st"),
        F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("ev").cast("bigint").alias("dt"),
    )
    from pyspark.sql import Window

    # bounded frame: distinct durations are calendar-bounded (same
    # sanction as kaplan_meier's ordered windows)
    w = Window.orderBy(F.col("obs_t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.select(
        "obs_t",
        "d1",
        "dt",
        F.sum("s1").over(w).cast("bigint").alias("n1"),
        F.sum("st").over(w).cast("bigint").alias("nt"),
    )
    terms = risk.filter(F.col("dt") > 0).select(
        "d1",
        F.expr(
            "CAST(floor(1e6 * CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)"
            " / CAST(nt AS DOUBLE)) AS BIGINT)"
        ).alias("e1_e6"),
        F.expr(
            "CASE WHEN nt > 1 THEN"
            " CAST(floor(1e12 * CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)"
            " * CAST(nt - n1 AS DOUBLE) * CAST(nt - dt AS DOUBLE)"
            " / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)"
            " * CAST(nt - 1 AS DOUBLE))) AS BIGINT)"
            " ELSE 0 END"
        ).alias("v_e12"),
    )
    d = _DEC
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_e6").cast("bigint").alias("e1_e6"),
        F.sum("v_e12").cast("bigint").alias("v_e12"),
        F.expr(
            f"CAST(CAST(sum(d1) * 1000000 - sum(e1_e6) AS {d})"
            " * (sum(d1) * 1000000 - sum(e1_e6)) * 1000000"
            " div sum(v_e12) AS BIGINT)"
        ).alias("chi2_e6"),
        F.expr(
            f"CASE WHEN CAST(sum(d1) * 1000000 - sum(e1_e6) AS {d})"
            " * (sum(d1) * 1000000 - sum(e1_e6)) * 1000000"
            f" > CAST({_LR_CHI2_05_E6} AS {d}) * sum(v_e12)"
            " THEN 1 ELSE 0 END"
        ).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# lateral_topn_per_group
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation,
           t.c_custkey AS custkey,
           CAST(round(t.c_acctbal * 100) AS BIGINT) AS acctbal_c
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
"""


@query(
    "lateral_topn_per_group",
    oracle=_LATERAL_SQL,
)
def q_lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per nation via a CORRELATED LATERAL
    subquery with ORDER BY + LIMIT — the SQL surface Spark 4 resolves
    by de-correlating into a ranked join (↔ DuckDB executes the same
    text natively).  Functionally the window-rank twin of the proven
    ``window_rank_lag`` / ``max_order_per_customer`` family; the point
    here is the SURFACE: migrating SQL that uses LATERAL top-n (a
    Postgres idiom the reference's stack could contain) runs unchanged.
    Catalyst's decorrelation turns the per-outer-row LIMIT into one
    distributed rank — no nested-loop per nation survives in the
    physical plan.

    Reference parity: the reference's Postgres dialect supports exactly
    this idiom (README.md:73-78 import pipeline); Spark 4 closes it."""
    for t in ("nation", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)
