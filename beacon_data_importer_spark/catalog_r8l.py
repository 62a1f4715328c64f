"""Round-8 catalog, tier 12 (post-slot extras, round-9 promotion
candidates) —

* ``wilson_score_interval`` — per-region 95% Wilson score interval
  for the urgent-order share: the proportion CI that stays calibrated
  at small n and near the 0/1 edges where the Wald interval collapses.
  ``ab_test_ztest`` decides a yes/no; this reports the interval
  (estimation, not testing), with the z² as a ppm literal, the
  radicand assembled from exact integers in a fixed double-op order,
  and one sqrt (IEEE correctly-rounded).
* ``sprt_boundary_crossing`` — Wald's sequential probability ratio
  test replayed over the daily urgent-share series: per-day
  log-likelihood-ratio increments use ln(p₁/p₀) and ln(q₁/q₀) baked
  as SHARED ppm literals (computed once in Python — no engine ln),
  the cumulative LLR walks the calendar, and the FIRST crossing of
  ln((1−β)/α) / ln(β/(1−α)) is the decision day.
  ``interim_analysis_audit`` spends alpha at K scheduled looks; SPRT
  is the look-after-every-day sibling with hard boundaries.

Reference parity: beyond-reference experimentation tier.
"""

from __future__ import annotations

import math

from .catalog import Dialect, sql_query


# ---------------------------------------------------------------------------
# wilson_score_interval
# ---------------------------------------------------------------------------

#: z²·1e6 at 95% two-sided (1.959964²), floored — matches the
#: floor(1e6·...) literal convention of catalog_r8d/r8g/r8i (ADVICE r8).
_Z2_E6 = 3_841_458


def _wilson_sql(dialect: Dialect) -> str:
    z2 = _Z2_E6
    return f"""
    WITH s AS (
      SELECT r.r_name AS region,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN ord.o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name
    ),
    w AS (
      SELECT region, n, a,
        CAST((a * 1000000){dialect.div}n AS BIGINT) AS p_ppm,
        CAST(((CAST(a AS {dialect.big}) * 1000000 + {z2 // 2}) * 1000000)
             {dialect.div}(CAST(n AS {dialect.big}) * 1000000 + {z2}) AS BIGINT)
          AS center_ppm,
        CAST(floor(
          sqrt({z2} / 1e6 * (CAST(a * (n - a) AS DOUBLE) / n
                             + {z2} / 4e6))
          * 1e12 / (CAST(n AS DOUBLE) * 1e6 + {z2})) AS BIGINT)
          AS half_ppm
      FROM s
    )
    SELECT region, n, a, p_ppm,
      center_ppm - half_ppm AS wilson_lo_ppm,
      center_ppm + half_ppm AS wilson_hi_ppm,
      center_ppm + half_ppm < 250000
        OR center_ppm - half_ppm > 250000 AS excludes_quarter
    FROM w
    """


sql_query(
    "wilson_score_interval",
    _wilson_sql, "orders", "customer", "nation", "region",
    doc="""95% Wilson score interval for each region's urgent-order share:
    center (a + z²/2)/(n + z²) in pure ppm integers, half-width via
    ONE sqrt whose radicand z²(a(n−a)/n + z²/4) is assembled from
    exact integers in a fixed double-op order (identical literals and
    operation sequence in both engines), flag = interval excludes the
    1-in-4 null share.  The Wald interval ``p̂ ± z√(p̂q̂/n)`` is what
    everyone writes and is anti-conservative at the edges; Wilson is
    the production-grade default.

    Scale: one aggregation to 5 rows behind broadcast dim joins.""",
)


# ---------------------------------------------------------------------------
# sprt_boundary_crossing
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.18
_SPRT_P1 = 0.22
_SPRT_ALPHA = 0.05
#: per-success and per-failure LLR increments, micro-nats, computed
#: ONCE here so both engines consume identical literals
_SPRT_L1_E6 = math.floor(1e6 * math.log(_SPRT_P1 / _SPRT_P0))
_SPRT_L0_E6 = math.floor(
    1e6 * math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
)
_SPRT_A_E6 = math.floor(1e6 * math.log((1 - _SPRT_ALPHA) / _SPRT_ALPHA))
_SPRT_B_E6 = -_SPRT_A_E6


def _sprt_sql(dialect: Dialect) -> str:
    dd = (
        dialect.datediff("(SELECT min(o_orderdate) FROM orders)", "o_orderdate")
    )
    return f"""
    WITH d AS (
      SELECT CAST({dd} AS BIGINT) AS t,
        CAST(count(*) AS BIGINT) AS m,
        CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM orders GROUP BY 1
    ),
    walk AS (
      SELECT t,
        sum(a * {_SPRT_L1_E6} + (m - a) * ({_SPRT_L0_E6}))
          OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS llr_e6
      FROM d
    ),
    crossing AS (
      SELECT t, llr_e6,
        CASE WHEN llr_e6 >= {_SPRT_A_E6} THEN 'accept_h1'
             ELSE 'accept_h0' END AS decision
      FROM walk
      WHERE llr_e6 >= {_SPRT_A_E6} OR llr_e6 <= {_SPRT_B_E6}
      ORDER BY t LIMIT 1
    ),
    lastrow AS (
      SELECT t, llr_e6, 'continue' AS decision
      FROM walk ORDER BY t DESC LIMIT 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
    SELECT n.n_days,
      coalesce(c.decision, l.decision) AS decision,
      coalesce(c.t, l.t) AS decision_day,
      CAST(coalesce(c.llr_e6, l.llr_e6) AS BIGINT) AS llr_e6,
      {_SPRT_A_E6} AS upper_e6, {_SPRT_B_E6} AS lower_e6
    FROM n
    LEFT JOIN (SELECT * FROM crossing) c ON true
    LEFT JOIN (SELECT * FROM lastrow) l ON true
    """


sql_query(
    "sprt_boundary_crossing", _sprt_sql, "orders",
    doc="""Wald SPRT (H₀: urgent share = 18% vs H₁: 22%; α = β = 0.05)
    replayed over the calendar: the per-day log-likelihood-ratio
    increment a·ln(p₁/p₀) + (m−a)·ln(q₁/q₀) uses micro-nat LITERALS
    baked at module import (no engine ever calls ln), the cumulative
    walk is exact integers, and the first boundary crossing — by
    (day) TakeOrdered — is the decision, with the final-day state
    reported when the walk never escapes the continue band.
    ``interim_analysis_audit`` looks K times with adjusted spends;
    SPRT looks every day with fixed Wald boundaries.

    Scale: one aggregation to the calendar-day frame, one cumulative
    window over it (BOUNDED_FRAME_AUDITED class), two LIMIT-1 picks.""",
)


# ---------------------------------------------------------------------------
# breslow_day_homogeneity
# ---------------------------------------------------------------------------

#: floor(1e6 · χ²(df=4, α=0.05)) — 5 strata ⇒ df 4
_BD_CHI2_DF4_E6 = 9_487_729


def _bd_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT r.r_name AS stratum,
        CASE WHEN ord.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
        CASE WHEN CAST(round(ord.o_totalprice * 100) AS BIGINT)
             > 30000000 THEN 1 ELSE 0 END AS y
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    s AS (
      SELECT stratum,
        CAST(sum(x * y) AS BIGINT) AS a,
        CAST(sum(x * (1 - y)) AS BIGINT) AS b,
        CAST(sum((1 - x) * y) AS BIGINT) AS c,
        CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
        CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY stratum
    ),
    mh AS (
      SELECT
        CAST(sum((CAST(a AS {dialect.big}) * d * 1000000){dialect.div}n) AS {dialect.big})
          AS num_e6,
        CAST(sum((CAST(b AS {dialect.big}) * c * 1000000){dialect.div}n) AS {dialect.big})
          AS den_e6
      FROM s
    ),
    -- ψ as a double from the two exact integer sums (one division)
    psi AS (
      SELECT CAST(num_e6 AS DOUBLE) / CAST(den_e6 AS DOUBLE) AS p
      FROM mh
    ),
    -- per-stratum expected count ã under common ψ: the in-range root
    -- of (1−ψ)ã² + (n−r1−c1+ψ(r1+c1))ã − ψ·r1·c1 = 0; every input to
    -- the quadratic is an exact integer margin, the ops run in a
    -- fixed order, sqrt is correctly rounded — doubles match bitwise
    q AS (
      SELECT s.stratum, s.a, s.n,
        CAST(s.a + s.b AS DOUBLE) AS r1, CAST(s.a + s.c AS DOUBLE) AS c1,
        CAST(s.n AS DOUBLE) AS nn, psi.p AS p
      FROM s CROSS JOIN psi
    ),
    roots AS (
      SELECT stratum, a, n, r1, c1, nn, p,
        (1 - p) AS qa,
        (nn - r1 - c1 + p * (r1 + c1)) AS qb,
        (-p * r1 * c1) AS qc
      FROM q
    ),
    atil AS (
      SELECT stratum, a, r1, c1, nn,
        CASE
          WHEN abs(qa) < 1e-12 THEN -qc / qb
          WHEN ((-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa))
               BETWEEN CASE WHEN r1 + c1 - nn > 0
                        THEN r1 + c1 - nn ELSE 0 END
               AND CASE WHEN r1 < c1 THEN r1 ELSE c1 END
          THEN (-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa)
          ELSE (-qb - sqrt(qb * qb - 4 * qa * qc)) / (2 * qa)
        END AS at
      FROM roots
    ),
    terms AS (
      SELECT stratum,
        -- per-stratum χ² contribution floored to ppm BEFORE the sum
        -- (a 5-double sum would be partition-order-dependent)
        CAST(floor(1000000 * (CAST(a AS DOUBLE) - at)
                   * (CAST(a AS DOUBLE) - at)
          * (1/at + 1/(r1 - at) + 1/(c1 - at)
             + 1/(nn - r1 - c1 + at))) AS BIGINT) AS t_e6
      FROM atil
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
      CAST((SELECT (num_e6 * 1000000){dialect.div}den_e6 FROM mh) AS BIGINT)
        AS or_mh_ppm,
      CAST(sum(t_e6) AS BIGINT) AS bd_chi2_ppm,
      sum(t_e6) <= {_BD_CHI2_DF4_E6} AS or_homogeneous
    FROM terms
    """


sql_query(
    "breslow_day_homogeneity",
    _bd_sql, "orders", "customer", "nation", "region",
    doc="""Breslow-Day homogeneity test for the stratified odds ratios:
    BEFORE trusting ``mantel_haenszel_cmh``'s common OR, check the
    strata actually share one — per stratum, the expected cell ã under
    the common ψ is the in-range root of the Breslow-Day quadratic
    (every coefficient an exact integer margin, one correctly-rounded
    sqrt, fixed op order), the χ² contribution (a−ã)²·(1/ã + 1/(r₁−ã)
    + 1/(c₁−ã) + 1/(d̃)) is floored to ppm PER STRATUM (distributed
    double sums are order-dependent; integer sums are not), and the
    total gates on χ²₄.

    Scale: one aggregation to 5 stratum rows behind broadcast dim
    joins; the quadratic/χ² stage is 5-row arithmetic.""",
)
