"""Round-7 catalog tier (g): seasonal decomposition + the remaining
classical test batteries —

* ``stl_decomposition_lite`` — additive trend/seasonal/residual split
  of monthly revenue: centered MA-12 trend (the half-weight endpoint
  form that keeps a 12-month window symmetric), month-of-year means
  of the detrended series as the seasonal component, remainder as
  residual.  The decomposition every seasonality claim should cite
  before a forecast (holt_linear_forecast) consumes the series.
* ``holm_bonferroni`` — step-DOWN familywise-error control over the
  same m ≤ 25 per-nation two-proportion z-tests fdr_bh_audit runs:
  Holm rejects while p(i) ≤ α/(m−i+1) and STOPS at the first
  failure — uniformly more powerful than plain Bonferroni with the
  same FWER guarantee, and the strict counterpart of BH's FDR.
  Thresholds are Φ⁻¹ literals per (m, i) (the fdr_bh device); the
  stop-at-first-failure is a prefix-min over the p-rank order.
* ``levene_test`` — Brown-Forsythe variance-homogeneity test across
  the three returnflag groups (one-way F on |x − group median|):
  the assumption gate in front of anova_oneway — a significant
  result here says the anova's equal-variance premise is false.
  Group medians are rank-defined (the runs_test device).
* ``friedman_test`` — nonparametric repeated-measures test: segments
  ranked within each complete month block; kruskal_wallis compares
  independent groups, Friedman is its blocked twin (months are the
  repeated measures, so between-month level shifts cancel by
  construction).

Parity devices: rank-defined medians, per-(m,i) Φ⁻¹ literal tables,
staged integer divisions with identical floor placement,
DECIMAL(38,0)/HUGEINT where squares top 2^63.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

import math
from statistics import NormalDist

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, Dialect, query, sql_query
from .sources.parquet import register_views


# ---------------------------------------------------------------------------
# stl_decomposition_lite
# ---------------------------------------------------------------------------


def _stl_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
          AS ym,
        month(o_orderdate) AS mo,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT ym, mo, rev,
        lag(rev, 6) OVER (ORDER BY ym) AS x6p,
        lead(rev, 6) OVER (ORDER BY ym) AS x6f,
        sum(rev) OVER (ORDER BY ym
          ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS s11,
        count(*) OVER (ORDER BY ym
          ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS c11
      FROM m
    ),
    t AS (
      SELECT ym, mo, rev,
        CASE WHEN x6p IS NOT NULL AND x6f IS NOT NULL AND c11 = 11
             THEN (x6p + 2 * s11 + x6f){dialect.div}24 END AS trend
      FROM w
    ),
    s AS (
      SELECT mo,
        CASE WHEN count(trend) = 0 THEN NULL
             ELSE CAST(sum(CASE WHEN trend IS NOT NULL
                           THEN rev - trend END)
                       AS BIGINT){dialect.div}count(trend) END AS seasonal
      FROM t GROUP BY mo
    )
    SELECT t.ym, t.rev AS revenue_cents,
      CAST(t.trend AS BIGINT) AS trend_cents,
      CAST(s.seasonal AS BIGINT) AS seasonal_cents,
      CAST(t.rev - t.trend - s.seasonal AS BIGINT) AS residual_cents
    FROM t JOIN s ON s.mo = t.mo
    """


sql_query(
    "stl_decomposition_lite", _stl_sql, "orders",
    doc="""Additive seasonal decomposition of monthly revenue: trend is the
    classic centered moving average over 12 months — endpoints half-
    weighted, computed exactly as (x₋₆ + 2·Σ₋₅..₊₅ + x₊₆) div 24 —
    NULL where the window is incomplete; the seasonal component is the
    month-of-year mean of the detrended series (one integer floor per
    month); residual is what neither explains.  Every seasonality or
    anomaly claim on this series (acf, chow break, grubbs, holt
    forecast) should be read against this table — it separates "is a
    trend" from "is December".

    One aggregation to the bounded month series; all windows run over
    those ~80 rows.  div truncates toward zero identically in both
    engines for the negative detrended values (documented device).""",
)


# ---------------------------------------------------------------------------
# holm_bonferroni
# ---------------------------------------------------------------------------

_HOLM_ALPHA_NUM, _HOLM_ALPHA_DEN = 5, 100  # α = 0.05
_HOLM_MAX_M = 25

#: (m, i) → floor(1e6 · Φ⁻¹(1 − α/(2(m−i+1)))): Holm's step-down
#: two-sided |z| threshold at p-rank i of m — Python-computed literals
#: (the fdr_bh_audit device), so no erf/Φ crosses an engine boundary.
_HOLM_TABLE = [
    (
        m,
        i,
        int(
            math.floor(
                NormalDist().inv_cdf(
                    1.0
                    - _HOLM_ALPHA_NUM
                    / (2.0 * _HOLM_ALPHA_DEN * (m - i + 1))
                )
                * 1e6
            )
        ),
    )
    for m in range(1, _HOLM_MAX_M + 1)
    for i in range(1, m + 1)
]

_HOLM_VALUES_SQL = ", ".join(f"({m}, {i}, {t})" for m, i, t in _HOLM_TABLE)

#: Same per-nation two-proportion z construction as fdr_bh_audit
#: (even- vs odd-custkey return rates) — identical text both engines,
#: floored once to e6.
_HOLM_Z_SQL = """
    per_order AS (
      SELECT o.o_orderkey, o.o_custkey,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey
    ),
    arms AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM per_order p JOIN customer c ON c.c_custkey = p.o_custkey
      GROUP BY c.c_nationkey
    ),
    z AS (
      SELECT nationkey, n_a, c_a, n_b, c_b,
             CAST(floor(abs(
               (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / sqrt(
                   (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(c_a + c_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))
                 )
             ) * 1e6) AS BIGINT) AS z_abs_e6
      FROM arms
      WHERE n_a > 0 AND n_b > 0
        AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b
    )
"""


def _holm_sql() -> str:
    return f"""
    WITH {_HOLM_Z_SQL},
    ranked AS (
      SELECT z.*,
             CAST(row_number() OVER (ORDER BY z_abs_e6 DESC, nationkey)
                  AS BIGINT) AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM z
    ),
    flagged AS (
      SELECT r.*, h.thr_e6,
             CASE WHEN r.z_abs_e6 >= h.thr_e6 THEN 1 ELSE 0 END AS pass_i
      FROM ranked r
      JOIN (VALUES {_HOLM_VALUES_SQL}) AS h(m, i, thr_e6)
        ON h.m = r.m_tests AND h.i = r.p_rank
    )
    SELECT nationkey, n_a, c_a, n_b, c_b, z_abs_e6, p_rank, m_tests,
      thr_e6,
      CAST(min(pass_i) OVER (ORDER BY p_rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS INT) AS rejected
    FROM flagged
    """


@query(
    "holm_bonferroni",
    oracle=_holm_sql(),
)
def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm's step-down familywise-error control (α = 0.05) over the
    SAME m ≤ 25 per-nation two-proportion z-tests fdr_bh_audit runs —
    the two queries together are the multiple-testing decision pair:
    Holm bounds the probability of ANY false rejection (strict, for
    ship/no-ship calls), BH bounds the false-discovery RATE (looser,
    for screening).  Reject while p(i) ≤ α/(m−i+1), stop at the first
    failure: the stop is a running MIN of the pass flag over the
    p-rank order, so a single miss zeroes every later test exactly as
    the procedure demands.  Per-(m, i) thresholds are Φ⁻¹ literals;
    the only float is the shared floored-z chain both engines run
    with identical text.

    Two shuffles to the 25-row test table; everything after is
    bounded."""
    register_views(spark, sf_dir, "orders", "lineitem", "customer")
    return spark.sql(_holm_sql())


# ---------------------------------------------------------------------------
# levene_test (Brown-Forsythe)
# ---------------------------------------------------------------------------


def _levene_sql(dialect: Dialect) -> str:
    return f"""
    WITH x AS (
      SELECT l_returnflag AS g,
        CAST(round(l_extendedprice * 100) AS BIGINT){dialect.div}100 AS v,
        l_orderkey AS ok, l_linenumber AS ln, l_partkey AS pk
      FROM lineitem
    ),
    ranked AS (
      SELECT g, v,
        row_number() OVER (PARTITION BY g ORDER BY v, ok, ln, pk) AS rn,
        count(*) OVER (PARTITION BY g) AS ng
      FROM x
    ),
    med AS (
      SELECT g, max(CASE WHEN rn = (ng + 1){dialect.div}2 THEN v END) AS medv
      FROM ranked GROUP BY g
    ),
    z AS (
      SELECT x.g, abs(x.v - m.medv) AS z
      FROM x JOIN med m ON m.g = x.g
    ),
    grp AS (
      SELECT g, CAST(count(*) AS {dialect.big}) AS n,
        CAST(sum(CAST(z AS {dialect.big})) AS {dialect.big}) AS s,
        CAST(sum(CAST(z AS {dialect.big}) * z) AS {dialect.big}) AS q
      FROM z GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(n) AS {dialect.big}) AS nt, CAST(sum(s) AS {dialect.big}) AS st,
        CAST(count(*) AS BIGINT) AS k,
        CAST(sum(q - (s * s){dialect.div}n) AS {dialect.big}) AS ssw
      FROM grp
    ),
    ssb AS (
      SELECT CAST(sum(
        ((g.s * 1000){dialect.div}g.n - (t.st * 1000){dialect.div}t.nt)
        * ((g.s * 1000){dialect.div}g.n - (t.st * 1000){dialect.div}t.nt)
        * g.n
      ) AS {dialect.big}) AS ssb_e6
      FROM grp g CROSS JOIN tot t
    )
    SELECT CAST(t.nt AS BIGINT) AS n_items, t.k AS n_groups,
      -- Round-11 fix (caught by tools/stat_audit.py): ssb_e6 and
      -- ssw*1e6 sit on the SAME e6 scale, so the old quotient was the
      -- plain truncated F (≈2), not ppm — the 2995732 gate could
      -- never fire.  Scale the numerator by 1e6 before dividing.
      CAST((CAST(b.ssb_e6{dialect.div}(t.k - 1) AS {dialect.big}) * 1000000)
           {dialect.div} ((t.ssw * 1000000){dialect.div}(t.nt - t.k)) AS BIGINT)
        AS f_ppm,
      ((CAST(b.ssb_e6{dialect.div}(t.k - 1) AS {dialect.big}) * 1000000)
       {dialect.div} ((t.ssw * 1000000){dialect.div}(t.nt - t.k)) > 2995732)
        AS significant_95
    FROM tot t CROSS JOIN ssb b
    """


def _levene_spark_hist_sql() -> str:
    """Spark-side histogram form (r11 round, guide §2.2: shuffle the
    bounded (g, v) dollar histogram, not the row stream).  The group
    median is the smallest v whose cumulative histogram count reaches
    rank (ng+1) div 2 — the same VALUE the row_number window picked
    (tie-break columns only ordered rows WITHIN one v; the rank-r
    value is tie-invariant), and the z-moment sums Σc·z / Σc·z² are
    the per-row sums regrouped by value — exact integers, so
    bit-identical.  The per-row ranking window over the full lineitem
    stream is gone; the only volume-bearing stage is the map-side
    combinable (g, v) count.  The DuckDB oracle keeps the pure
    row_number form."""
    big = "DECIMAL(38,0)"
    return f"""
    WITH x AS (
      SELECT l_returnflag AS g,
        CAST(round(l_extendedprice * 100) AS BIGINT) div 100 AS v
      FROM lineitem
    ),
    hist AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY g, v
    ),
    cum AS (
      SELECT g, v,
        sum(c) OVER (PARTITION BY g ORDER BY v) AS cc,
        sum(c) OVER (PARTITION BY g) AS ng
      FROM hist
    ),
    med AS (
      SELECT g, min(CASE WHEN cc >= (ng + 1) div 2 THEN v END) AS medv
      FROM cum GROUP BY g
    ),
    zh AS (
      SELECT h.g, abs(h.v - m.medv) AS z, h.c
      FROM hist h JOIN med m ON m.g = h.g
    ),
    grp AS (
      SELECT g, CAST(sum(c) AS {big}) AS n,
        CAST(sum(CAST(z AS {big}) * c) AS {big}) AS s,
        CAST(sum(CAST(z AS {big}) * z * c) AS {big}) AS q
      FROM zh GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(n) AS {big}) AS nt, CAST(sum(s) AS {big}) AS st,
        CAST(count(*) AS BIGINT) AS k,
        CAST(sum(q - (s * s) div n) AS {big}) AS ssw
      FROM grp
    ),
    ssb AS (
      SELECT CAST(sum(
        ((g.s * 1000) div g.n - (t.st * 1000) div t.nt)
        * ((g.s * 1000) div g.n - (t.st * 1000) div t.nt)
        * g.n
      ) AS {big}) AS ssb_e6
      FROM grp g CROSS JOIN tot t
    )
    SELECT CAST(t.nt AS BIGINT) AS n_items, t.k AS n_groups,
      CAST((CAST(b.ssb_e6 div (t.k - 1) AS {big}) * 1000000)
           div ((t.ssw * 1000000) div (t.nt - t.k)) AS BIGINT)
        AS f_ppm,
      ((CAST(b.ssb_e6 div (t.k - 1) AS {big}) * 1000000)
       div ((t.ssw * 1000000) div (t.nt - t.k)) > 2995732)
        AS significant_95
    FROM tot t CROSS JOIN ssb b
    """


@query(
    "levene_test",
    oracle=_levene_sql(DUCK),
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across the three
    returnflag groups: one-way F on z = |x − group MEDIAN| (the
    median-centered form is the robust Levene variant that survives
    the heavy right tail of prices).  This is the assumption gate in
    front of ``anova_oneway`` — anova presumes equal variances, and
    this query is the test of exactly that premise.  Group medians
    are rank-defined ((n+1) div 2 under a total order, the runs_test
    device); SSB is assembled from per-group means floored once at e3
    (squares land at e6), SSW from the staged s²/n quotient, and F
    arrives by one final staged ratio against F(2, ∞) = 2.995732 ppm.
    Values coarsen to whole dollars so Σz² stays comfortably inside
    DECIMAL(38,0).

    r11: the Spark side runs the HISTOGRAM form (``_levene_spark_hist_sql``
    — the mood_median_test device): medians and z-moments come off the
    bounded (g, dollar) count frame instead of a per-row ranking window
    over the full stream; bit-identical exact integers, and the one
    volume-bearing stage map-side combines."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_levene_spark_hist_sql())


# ---------------------------------------------------------------------------
# friedman_test
# ---------------------------------------------------------------------------


def _friedman_sql(dialect: Dialect) -> str:
    return f"""
    WITH cells AS (
      SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
        c.c_mktsegment AS seg,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    complete AS (
      SELECT ym FROM cells GROUP BY ym HAVING count(*) = 5
    ),
    ranked AS (
      SELECT c.ym, c.seg,
        CAST(rank() OVER (PARTITION BY c.ym ORDER BY c.rev, c.seg)
             AS BIGINT) AS r
      FROM cells c JOIN complete t ON t.ym = c.ym
    ),
    sums AS (
      SELECT seg, CAST(sum(r) AS BIGINT) AS rj,
        CAST(count(*) AS BIGINT) AS nb
      FROM ranked GROUP BY seg
    ),
    stat AS (
      SELECT max(nb) AS n, CAST(count(*) AS BIGINT) AS k,
        CAST(sum(rj * rj) AS BIGINT) AS sr2
      FROM sums
    )
    SELECT n AS n_blocks, k AS n_treatments,
      CAST((12 * sr2 * 1000000){dialect.div}(n * k * (k + 1))
           - 3 * n * (k + 1) * 1000000 AS BIGINT) AS chi2_ppm,
      ((12 * sr2 * 1000000){dialect.div}(n * k * (k + 1))
       - 3 * n * (k + 1) * 1000000 > 9487729) AS significant_95
    FROM stat
    """


sql_query(
    "friedman_test", _friedman_sql, "orders", "customer",
    doc="""Friedman's nonparametric repeated-measures test: market
    segments ranked by revenue WITHIN each complete month block
    (months missing a segment are excluded — the test requires
    complete blocks), χ²_F = 12·ΣR_j²/(n·k(k+1)) − 3n(k+1) in ppm,
    cut at the χ²₄ literal 9.487729.  kruskal_wallis asks "do these
    independent groups differ?"; Friedman asks the blocked version —
    "does any segment consistently out-rank the others month after
    month?" — so level shifts between months cancel by construction.
    Revenue-cents ties within a month are broken by segment name:
    deterministic in both engines, and a tie in month-total cents is
    measure-zero-rare while the textbook tie correction would drag a
    float average-rank through the integer chain.

    One aggregation to ≤ months×5 cells; ranking windows run per
    month over ≤ 5 rows.""",
)
