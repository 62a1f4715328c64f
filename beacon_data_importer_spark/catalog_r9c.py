"""Round-9 catalog, tier 3: categorical & experimentation devices —

* ``g_test_independence`` — the likelihood-ratio G-test on the
  returnflag × linestatus table: G = 2ΣO·ln(O·N/(r·c)) with one
  floored micro-nat ln per cell (the ``woe_iv`` device).  The
  additive-decomposable sibling of ``chi_square_independence``
  (G sums exactly over partitions of a table; Pearson χ² does not).
* ``bayesian_shrinkage_rates`` — empirical-Bayes (beta-binomial,
  method-of-moments) shrinkage of per-nation urgent-order rates:
  small nations pull toward the grand rate, big nations keep their
  own — THE standard fix for "top-k rate" leaderboards where
  low-volume groups own the extremes (``rfm_segments`` /
  ``region_share`` report raw rates; this reports defensible ones).
* ``ratio_metric_delta_ci`` — per-variant delta-method CI for the
  revenue-per-order RATIO metric (unit = customer): the
  experimentation primitive for metrics that are ratios of two sums,
  where the naive per-row variance is simply wrong.
* ``evalue_sensitivity`` — VanderWeele's E-value for the urgent →
  high-value risk ratio: the minimum confounder strength that could
  explain the association away — the sensitivity number every
  observational claim (``did_estimate``, ``ipw_treatment_effect``)
  should ship with.
* ``overlap_weights_ato`` — average treatment effect on the OVERLAP
  population with h(x) = e(x)(1−e(x)) weights: the propensity
  weighting that cannot blow up (weights are bounded by construction,
  unlike IPW's 1/e tails — compare ``ipw_treatment_effect``).
* ``kendall_w_concordance`` — Kendall's W over the month-block
  segment rankings: the effect-size companion to ``friedman_test``
  (χ²_F says "rankings differ"; W says HOW MUCH the months agree).

Reference parity: beyond-reference statistics/experimentation tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

_CHI2_DF1_E6 = 3_841_458
_CHI2_DF2_E6 = 5_991_464
_CHI2_DF4_E6 = 9_487_729


# ---------------------------------------------------------------------------
# g_test_independence
# ---------------------------------------------------------------------------


def _gtest_sql(dialect: Dialect) -> str:
    return f"""
    WITH cell AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(count(*) AS BIGINT) AS o
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    rm AS (SELECT rf, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY rf),
    cm AS (SELECT ls, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY ls),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_cells FROM cell),
    terms AS (
      SELECT cell.o,
        CAST(floor(1000000 * ln(
          CAST(CAST(cell.o AS {dialect.big}) * n.n AS DOUBLE)
          / CAST(CAST(rm.r AS {dialect.big}) * cm.c AS DOUBLE))) AS BIGINT)
          AS ln_e6
      FROM cell
      JOIN rm ON rm.rf = cell.rf
      JOIN cm ON cm.ls = cell.ls
      CROSS JOIN n
    ),
    g AS (
      SELECT CAST(sum(2 * o * ln_e6) AS {dialect.big}) AS g_num FROM terms
    ),
    df AS (
      SELECT CAST((SELECT count(*) FROM rm) - 1 AS BIGINT)
             * ((SELECT count(*) FROM cm) - 1) AS df
    )
    SELECT n.n AS n_rows, n.n_cells, df.df,
      CAST(g.g_num AS BIGINT) AS g_e6,
      (df.df = 2 AND g.g_num > {_CHI2_DF2_E6})
        OR (df.df = 1 AND g.g_num > {_CHI2_DF1_E6})
        OR (df.df > 2 AND g.g_num > {_CHI2_DF4_E6}) AS reject_independence
    FROM n CROSS JOIN g CROSS JOIN df
    """


sql_query(
    "g_test_independence", _gtest_sql, "lineitem",
    doc="""Likelihood-ratio G-test on returnflag × linestatus:
    G = 2 Σ O·ln(O·N/(r·c)), each cell's log-likelihood ratio floored
    ONCE to micro-nats (the ``woe_iv`` per-term device; O·N and r·c
    stay exact integers below 2⁵³ before the one double quotient).
    Pearson's χ² (``chi_square_independence``) approximates this to
    second order; G is the one that decomposes additively across
    table partitions — the property hierarchical log-linear analysis
    needs.  Degrees of freedom (rows−1)(cols−1) picked against the
    matching χ² gate.

    Scale: one cell aggregation (≤6 cells), margin joins on the
    bounded cell frame; 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# bayesian_shrinkage_rates
# ---------------------------------------------------------------------------


def _ebshrink_sql(dialect: Dialect) -> str:
    # kap is ONE row — broadcast it so the cross is a BNL join
    hint = dialect.broadcast("kap")
    return f"""
    WITH s AS (
      SELECT n.n_name AS nation,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    ),
    p AS (SELECT nation, n, a,
                 CAST((a * 1000000){dialect.div}n AS BIGINT) AS p_ppm FROM s),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
        CAST(sum(p_ppm){dialect.div}count(*) AS BIGINT) AS m_ppm
      FROM p
    ),
    vv AS (
      SELECT mom.k, mom.m_ppm,
        CAST(sum(CAST(p.p_ppm - mom.m_ppm AS {dialect.big})
                 * (p.p_ppm - mom.m_ppm)){dialect.div}(mom.k - 1) AS BIGINT)
          AS v_e12
      FROM p CROSS JOIN mom
      GROUP BY mom.k, mom.m_ppm
    ),
    kap AS (
      SELECT k, m_ppm, v_e12,
        greatest(CAST(0 AS BIGINT),
          CAST((CAST(m_ppm AS {dialect.big}) * (1000000 - m_ppm) * 1000000)
               {dialect.div}v_e12 - 1000000 AS BIGINT)) AS kappa_e6
      FROM vv
    )
    SELECT {hint}p.nation, p.n, p.a, p.p_ppm AS raw_ppm,
      CAST(((CAST(kap.m_ppm AS {dialect.big}) * kap.kappa_e6){dialect.div}1000000
            + p.a * 1000000) * 1000000
           {dialect.div}(kap.kappa_e6 + p.n * 1000000) AS BIGINT)
        AS shrunk_ppm,
      CAST((CAST(kap.kappa_e6 AS {dialect.big}) * 1000000)
           {dialect.div}(kap.kappa_e6 + p.n * 1000000) AS BIGINT)
        AS prior_weight_ppm,
      kap.m_ppm AS grand_rate_ppm
    FROM p CROSS JOIN kap
    """


sql_query(
    "bayesian_shrinkage_rates", _ebshrink_sql, "orders", "customer", "nation",
    doc="""Empirical-Bayes shrinkage of per-nation urgent-order rates
    under a method-of-moments beta-binomial prior: the prior strength
    κ = m(1−m)/v − 1 comes from the observed across-nation rate mean
    and variance (both from ppm-floored per-nation rates — exact
    integers after the floors), and each nation's posterior rate
    (κm + a)/(κ + n) interpolates between its raw rate and the grand
    rate with weight κ/(κ+n).  The leaderboard fix: a 40-order nation
    at 30% urgent no longer outranks a 4000-order nation at 26% —
    every row carries its prior weight so the pull is auditable.

    Scale: one aggregation to 25 nation rows behind broadcast dim
    joins; everything after is 25-row arithmetic.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# ratio_metric_delta_ci
# ---------------------------------------------------------------------------

#: z·1e6 at 95% two-sided, floored
_Z_E6 = 1_959_963


def _ratio_ci_sql(dialect: Dialect) -> str:
    return f"""
    WITH cust AS (
      SELECT o_custkey, o_custkey % 2 AS variant,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS x,
        CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey, o_custkey % 2
    ),
    st AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS syy,
        CAST(sum(CAST(x AS {dialect.big}) * y) AS {dialect.big}) AS sxy
      FROM cust GROUP BY variant
    ),
    d AS (
      SELECT variant, n, sx, sy,
        CAST((CAST(sx AS {dialect.big}) * 100){dialect.div}sy AS BIGINT) AS ratio_c,
        CAST(n * sxx - CAST(sx AS {dialect.big}) * sx AS {dialect.big}) AS cxx,
        CAST(n * syy - CAST(sy AS {dialect.big}) * sy AS {dialect.big}) AS cyy,
        CAST(n * sxy - CAST(sx AS {dialect.big}) * sy AS {dialect.big}) AS cxy
      FROM st
    ),
    se AS (
      SELECT variant, n, ratio_c,
        CAST(floor(
          {_Z_E6} / 1e6
          * sqrt(greatest(
              CAST(cxx AS DOUBLE)
              - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(cxy AS DOUBLE)
              + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                * CAST(cyy AS DOUBLE), 0e0)
            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
               * CAST(n AS DOUBLE)))
          / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
          * 1e2) AS BIGINT) AS half_c
      FROM d
    )
    SELECT variant, n AS n_customers, ratio_c AS revenue_per_order_c,
      half_c AS ci_half_c,
      ratio_c - half_c AS ci_lo_c, ratio_c + half_c AS ci_hi_c
    FROM se
    """


sql_query(
    "ratio_metric_delta_ci", _ratio_ci_sql, "orders",
    doc="""Delta-method 95% CI for the revenue-per-order RATIO metric by
    hash-assigned variant, analyzed at the CUSTOMER grain: the ratio
    of sums R = Σx/Σy has Var ≈ (s²ₓ − 2Rsₓᵧ + R²s²ᵧ)/(n·ȳ²) — using
    per-ORDER rows instead (the classic blunder) ignores the
    within-customer correlation and understates the interval.  The
    central moments are exact integers; the one sqrt runs on a fixed
    double expression (identical op order both engines) and floors
    once to cents.

    Scale: one customer aggregation, 2 variant rows of arithmetic.

    Reference parity: beyond-reference experimentation tier.""",
)


# ---------------------------------------------------------------------------
# evalue_sensitivity
# ---------------------------------------------------------------------------

_EV_HIGH_VALUE_C = 30_000_000  # > $300k ⇒ "high-value" (the CMH cut)


def _evalue_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS x,
        CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
             > {_EV_HIGH_VALUE_C} THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    t AS (
      SELECT CAST(sum(x * y) AS BIGINT) AS a,
        CAST(sum(x * (1 - y)) AS BIGINT) AS b,
        CAST(sum((1 - x) * y) AS BIGINT) AS c,
        CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d
      FROM o
    ),
    rr AS (
      SELECT a, b, c, d,
        CAST((CAST(a AS {dialect.big}) * (c + d) * 1000000)
             {dialect.div}(CAST(c AS {dialect.big}) * (a + b)) AS BIGINT) AS rr_ppm
      FROM t
    ),
    star AS (
      SELECT a, b, c, d, rr_ppm,
        CASE WHEN rr_ppm >= 1000000 THEN rr_ppm
             ELSE CAST(1000000000000{dialect.div}rr_ppm AS BIGINT)
        END AS rr_star_ppm
      FROM rr
    )
    SELECT a AS n_urgent_high, b AS n_urgent_low,
      c AS n_other_high, d AS n_other_low, rr_ppm,
      CAST(rr_star_ppm
           + floor(sqrt(CAST(rr_star_ppm AS DOUBLE)
                        * (rr_star_ppm - 1000000))) AS BIGINT)
        AS evalue_ppm
    FROM star
    """


sql_query(
    "evalue_sensitivity", _evalue_sql, "orders",
    doc="""VanderWeele's E-value for the urgent-priority → high-value
    association: E = RR* + √(RR*(RR*−1)) with RR* the risk ratio
    folded above 1 — the minimum strength of association an
    unmeasured confounder would need with BOTH treatment and outcome
    to fully explain the observed ratio.  RR is a staged exact
    integer quotient; the single sqrt runs on an exact e12 integer
    radicand.  The sensitivity number every observational effect in
    the catalog (``did_estimate``, ``ipw_treatment_effect``,
    ``propensity_caliper_match_capped``) should be read next to.

    Scale: one aggregation to a 2×2; 1 row out.

    Reference parity: beyond-reference causal tier.""",
)


# ---------------------------------------------------------------------------
# overlap_weights_ato
# ---------------------------------------------------------------------------

_ATO_BUCKET_C = 2_500_000  # $25k propensity-score buckets


def _ato_sql(dialect: Dialect) -> str:
    lat = dialect.datediff("o.o_orderdate", "l.l_shipdate")
    return f"""
    WITH u AS (
      SELECT o.o_orderkey AS k,
        CAST(round(o.o_totalprice * 100) AS BIGINT){dialect.div}{_ATO_BUCKET_C}
          AS bkt,
        CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS z,
        CAST(min({lat}) AS BIGINT) AS lat
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3
    ),
    ps AS (
      SELECT bkt, CAST((sum(z) * 1000000){dialect.div}count(*) AS BIGINT)
        AS e_ppm
      FROM u GROUP BY bkt
    ),
    w AS (
      SELECT u.k, u.z, u.lat, ps.e_ppm,
        CASE WHEN u.z = 1 THEN 1000000 - ps.e_ppm ELSE ps.e_ppm END
          AS w_ppm
      FROM u JOIN ps ON ps.bkt = u.bkt
      WHERE ps.e_ppm > 0 AND ps.e_ppm < 1000000
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(sum(CASE WHEN z = 1
                 THEN CAST(w_ppm AS {dialect.big}) * lat ELSE 0 END) AS {dialect.big})
          AS num_t,
        CAST(sum(CASE WHEN z = 1 THEN w_ppm ELSE 0 END) AS {dialect.big})
          AS den_t,
        CAST(sum(CASE WHEN z = 0
                 THEN CAST(w_ppm AS {dialect.big}) * lat ELSE 0 END) AS {dialect.big})
          AS num_c,
        CAST(sum(CASE WHEN z = 0 THEN w_ppm ELSE 0 END) AS {dialect.big})
          AS den_c,
        CAST(sum(CASE WHEN z = 1 THEN lat ELSE 0 END) AS BIGINT) AS s_t,
        CAST(sum(CASE WHEN z = 0 THEN lat ELSE 0 END) AS BIGINT) AS s_c
      FROM w
    )
    SELECT n_t AS n_treated, n_c AS n_control,
      CAST((num_t * 1000000){dialect.div}den_t
           - (num_c * 1000000){dialect.div}den_c AS BIGINT)
        AS ato_latency_days_e6,
      CAST((s_t * 1000000){dialect.div}n_t - (s_c * 1000000){dialect.div}n_c AS BIGINT)
        AS naive_diff_days_e6
    FROM agg
    """


sql_query(
    "overlap_weights_ato", _ato_sql, "orders", "lineitem",
    doc="""Overlap-weighted treatment effect (Li-Morgan-Zaslavsky ATO) of
    urgent priority on order→first-ship latency: with h(x) = e(1−e)
    overlap weights, treated units weigh (1−e) and controls weigh e —
    the propensity weighting whose weights are BOUNDED by 1, so a
    bucket with e → 0 or 1 contributes ~nothing instead of exploding
    the way IPW's 1/e does (``ipw_treatment_effect`` is the
    contrast).  The propensity is the deterministic per-$25k-bucket
    urgent share (ppm — both engines floor identically); degenerate
    buckets (e ∈ {0,1}) drop out exactly as the estimand prescribes.
    The naive unadjusted difference rides along for contrast.

    Scale: one order-grain aggregation (min ship latency per order),
    a bounded bucket-rate broadcast join, one final aggregate.

    Reference parity: beyond-reference causal tier.""",
)


# ---------------------------------------------------------------------------
# kendall_w_concordance
# ---------------------------------------------------------------------------


def _kw_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
        c.c_mktsegment AS seg,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    full_m AS (
      SELECT ym FROM m GROUP BY ym HAVING count(*) = 5
    ),
    rk AS (
      SELECT m.ym, m.seg,
        CAST(row_number() OVER (PARTITION BY m.ym
               ORDER BY m.rev, m.seg) AS BIGINT) AS r
      FROM m JOIN full_m ON full_m.ym = m.ym
    ),
    cs AS (
      SELECT seg, CAST(sum(r) AS BIGINT) AS rj FROM rk GROUP BY seg
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_m),
    s2 AS (
      SELECT nb.n,
        CAST(sum(CAST(2 * cs.rj - nb.n * 6 AS {dialect.big})
                 * (2 * cs.rj - nb.n * 6)) AS {dialect.big}) AS s2
      FROM cs CROSS JOIN nb
      GROUP BY nb.n
    ),
    w AS (
      SELECT n,
        CAST((3 * s2 * 1000000)
             {dialect.div}(CAST(n AS {dialect.big}) * n * 5 * 24) AS BIGINT) AS w_ppm
      FROM s2
    )
    SELECT n AS n_blocks, w_ppm,
      CAST(n * 4 * w_ppm AS BIGINT) AS chi2_ppm,
      n * 4 * w_ppm > {_CHI2_DF4_E6} AS reject_no_agreement
    FROM w
    """


sql_query(
    "kendall_w_concordance", _kw_sql, "orders", "customer",
    doc="""Kendall's coefficient of concordance W for the within-month
    revenue rankings of the 5 market segments (complete months only —
    the ``friedman_test`` frame): W = 12·S/(n²k(k²−1)) assembled
    tie-free as 3·Σ(2Rⱼ − n(k+1))²/(n²k(k²−1)) — the doubled-deviation
    trick keeps S exact integer (ranks are strict row_numbers on the
    (rev, seg) total order; the calendar grid has no revenue ties in
    practice).  χ² = n(k−1)W gates agreement at df = k−1 = 4.
    Friedman rejects "no difference"; W reports the effect size —
    how consistently the months agree on the segment order (W = 1:
    identical ranking every month).

    Scale: one month×segment aggregation; ranks partition by month
    (12-row windows); k = 5 rows of arithmetic.

    Reference parity: beyond-reference statistics tier.""",
)
