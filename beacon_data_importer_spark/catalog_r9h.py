"""Round-9 catalog, tier 8 (post-slot extras, round-10 promotion
pool) —

* ``chatterjee_xi`` — Chatterjee's ξ (JASA 2020): the rank-based
  dependence coefficient that detects ARBITRARY functional
  relationships, not just monotone ones (Pearson/Spearman/tau read
  ~0 on a parabola; ξ reads high).  Both directions reported — ξ is
  deliberately asymmetric (dependence of y on x is not dependence of
  x on y).
* ``lepage_test`` — combined location+scale two-sample test:
  L = z²(Wilcoxon) + z²(Ansari-Bradley) vs χ²₂, both components from
  the SAME $10-bucket histogram with exact finite-sampling variances
  (tie-exact doubled midranks) — the omnibus member that catches what
  a pure location (``brunner_munzel``) or pure scale
  (``ansari_bradley``) test alone misses.
* ``quade_test`` — weighted repeated-measures test: blocks (months)
  weighted by the RANK OF THEIR RANGE, so months where segments
  actually differ dominate — the more powerful Friedman variant at
  small k.  Exact integers end to end (doubled centered ranks).
* ``gumbel_block_maxima`` — EVT tier opener: Gumbel fit of monthly
  maxima of daily revenue by method of moments (σ̂ = s√6/π,
  μ̂ = m̄ − γσ̂ — Euler-Mascheroni and π as shared double literals),
  with the 100-month return level.  The capacity-planning number:
  "what daily revenue peak should we size for?"
* ``pot_mean_excess`` — peaks-over-threshold companion: GPD
  method-of-moments fit (ξ, σ) of the excesses over the rank-defined
  P90 threshold + the mean-excess statistic.  ξ > 0 = heavy tail —
  the one-number tail-class diagnosis.

Reference parity: beyond-reference statistics/EVT tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql
from .catalog_r9a import _two_group_hist_sql

_CHI2_DF2_E6 = 5_991_464
_CHI2_DF4_E6 = 9_487_729


# ---------------------------------------------------------------------------
# chatterjee_xi
# ---------------------------------------------------------------------------


def _xi_sql(dialect: Dialect) -> str:
    dd = (
        dialect.datediff("(SELECT min(o_orderdate) FROM orders)", "o_orderdate")
    )

    def direction(label: str, x: str, y: str) -> str:
        return f"""
    SELECT '{label}' AS direction, st_{label}.n AS n_days,
      CAST(1000000
           - (CAST(st_{label}.n AS {dialect.big}) * d_{label}.sum_dr * 1000000)
             {dialect.div}st_{label}.den AS BIGINT) AS xi_ppm
    FROM st_{label} CROSS JOIN d_{label}"""

    def chain(label: str, x: str, y: str) -> str:
        return f"""
    seq_{label} AS (
      SELECT CAST(row_number() OVER (ORDER BY {x}, t) AS BIGINT) AS i,
        {y} AS yy
      FROM d2
    ),
    nn_{label} AS (SELECT CAST(count(*) AS BIGINT) AS n
                   FROM seq_{label}),
    yh_{label} AS (
      SELECT yy, CAST(count(*) AS BIGINT) AS c
      FROM seq_{label} GROUP BY yy
    ),
    yc_{label} AS (
      SELECT yy, c,
        sum(c) OVER (ORDER BY yy
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuminc
      FROM yh_{label}
    ),
    yrank_{label} AS (
      SELECT a.i,
        CAST(yc.cuminc AS BIGINT) AS r,
        CAST(nn.n - (yc.cuminc - yc.c) AS BIGINT) AS l
      FROM seq_{label} a
      JOIN yc_{label} yc ON yc.yy = a.yy
      CROSS JOIN nn_{label} nn
    ),
    st_{label} AS (
      SELECT nn.n,
        CAST(sum(CAST(yr.l AS {dialect.big}) * (nn.n - yr.l)) AS {dialect.big}) * 2
          AS den
      FROM yrank_{label} yr CROSS JOIN nn_{label} nn
      GROUP BY nn.n
    ),
    d_{label} AS (
      SELECT CAST(sum(abs(b.r - a.r)) AS BIGINT) AS sum_dr
      FROM yrank_{label} a JOIN yrank_{label} b ON b.i = a.i + 1
    )"""

    return f"""
    WITH d2 AS (
      SELECT CAST({dd} AS BIGINT) AS t,
        CAST(count(*) AS BIGINT) AS x,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT){dialect.div}100000 AS y
      FROM orders GROUP BY 1
    ),
    {chain("y_on_x", "x", "y").lstrip()},
    {chain("x_on_y", "y", "x").lstrip()}
    {direction("y_on_x", "x", "y")}
    UNION ALL
    {direction("x_on_y", "y", "x")}
    """


sql_query(
    "chatterjee_xi", _xi_sql, "orders",
    doc="""Chatterjee's ξ coefficient between daily order count and daily
    revenue, BOTH directions: order the days by the conditioning
    variable (ties broken by calendar day — deterministic, both
    engines), rank each day's response (r = #≤, ℓ = #≥, tie-exact),
    then ξ = 1 − n·Σ|r_{{i+1}} − r_i| / (2Σℓ(n−ℓ)) — the ties-valid
    form from the original paper.  ξ → 1 iff y is a measurable
    FUNCTION of x (any function, not just monotone); Spearman/tau
    can't see non-monotone dependence at all.  Exact integers end to
    end; one ppm floor per direction.

    Scale: ranks come from one cumulative over the distinct-value
    frame joined back to the day rows (no correlated subqueries, no
    pair expansion); the consecutive-|Δr| join is an offset equi-join
    on the bounded calendar index.  2 rows out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# lepage_test
# ---------------------------------------------------------------------------


def _lepage_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    sc AS (
      SELECT v, c1, c2,
        2 * (lt1 + lt2) + (c1 + c2) + 1 AS r2,
        least(2 * (lt1 + lt2) + (c1 + c2) + 1,
              2 * (t.n1 + t.n2 + 1)
                - (2 * (lt1 + lt2) + (c1 + c2) + 1)) AS a2
      FROM cum CROSS JOIN tot t
    ),
    mo AS (
      SELECT t.n1, t.n2, t.n1 + t.n2 AS nn,
        CAST(sum(CAST(c1 AS {dialect.big}) * r2) AS {dialect.big}) AS w1,
        CAST(sum(CAST(c1 + c2 AS {dialect.big}) * r2) AS {dialect.big}) AS tw,
        CAST(sum(CAST(c1 + c2 AS {dialect.big}) * r2 * r2) AS {dialect.big}) AS sw2,
        CAST(sum(CAST(c1 AS {dialect.big}) * a2) AS {dialect.big}) AS a1,
        CAST(sum(CAST(c1 + c2 AS {dialect.big}) * a2) AS {dialect.big}) AS ta,
        CAST(sum(CAST(c1 + c2 AS {dialect.big}) * a2 * a2) AS {dialect.big}) AS sa2
      FROM sc CROSS JOIN tot t
      GROUP BY t.n1, t.n2
    ),
    z AS (
      -- staged: the deviation square divides by n1*n2 FIRST so the
      -- running product stays far from the DECIMAL(38) ceiling at
      -- 100x data (the cuped rho-squared staging doctrine)
      SELECT n1, n2, nn,
        CAST((CAST(((nn * w1 - n1 * tw) * (nn * w1 - n1 * tw))
                   {dialect.div}(CAST(n1 AS {dialect.big}) * n2) AS {dialect.big})
              * (nn - 1) * 1000000)
             {dialect.div}(nn * sw2 - tw * tw) AS BIGINT) AS zw2_ppm,
        CAST((CAST(((nn * a1 - n1 * ta) * (nn * a1 - n1 * ta))
                   {dialect.div}(CAST(n1 AS {dialect.big}) * n2) AS {dialect.big})
              * (nn - 1) * 1000000)
             {dialect.div}(nn * sa2 - ta * ta) AS BIGINT) AS za2_ppm
      FROM mo
    )
    SELECT n1, n2, zw2_ppm AS wilcoxon_z2_ppm,
      za2_ppm AS ansari_z2_ppm,
      CAST(zw2_ppm + za2_ppm AS BIGINT) AS lepage_l_ppm,
      zw2_ppm + za2_ppm > {_CHI2_DF2_E6} AS reject_same_loc_scale
    FROM z
    """


sql_query(
    "lepage_test", _lepage_sql, "orders", "customer",
    doc="""Lepage's combined location-scale test between BUILDING and
    MACHINERY order values: L = z²_Wilcoxon + z²_Ansari vs χ²₂, both
    z² assembled from ONE $10-bucket histogram pass with the exact
    finite-sampling moments — for a statistic S₁ = Σ_g1 s(v), under
    H₀, E = n₁T/N and Var = n₁n₂(N·Σc·s² − T²)/(N²(N−1)) with
    T = Σc·s, so z² = (N·S₁ − n₁T)²(N−1)/(n₁n₂(N·Σcs² − T²)) — no
    closed-form rank constants, hence tie-exact for BOTH the rank-sum
    and the folded Ansari scores.  A location-only or scale-only test
    each miss half the alternatives; Lepage is the standard omnibus.

    Scale: the r9a histogram device, one moment pass, 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# quade_test
# ---------------------------------------------------------------------------


def _quade_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
        c.c_mktsegment AS seg,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    full_m AS (SELECT ym FROM m GROUP BY ym HAVING count(*) = 5),
    grid AS (SELECT m.* FROM m JOIN full_m ON full_m.ym = m.ym),
    rk AS (
      SELECT ym, seg,
        CAST(row_number() OVER (PARTITION BY ym ORDER BY rev, seg)
             AS BIGINT) AS r
      FROM grid
    ),
    rng AS (
      SELECT ym, CAST(max(rev) - min(rev) AS BIGINT) AS d
      FROM grid GROUP BY ym
    ),
    qr AS (
      SELECT ym,
        CAST(row_number() OVER (ORDER BY d, ym) AS BIGINT) AS q
      FROM rng
    ),
    s AS (
      SELECT rk.seg, rk.ym,
        CAST(qr.q * (2 * rk.r - 6) AS BIGINT) AS s2
      FROM rk JOIN qr ON qr.ym = rk.ym
    ),
    colsum AS (
      SELECT seg, CAST(sum(s2) AS BIGINT) AS sj FROM s GROUP BY seg
    ),
    agg AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM full_m) AS n,
        CAST(sum(CAST(s2 AS {dialect.big}) * s2) AS {dialect.big}) AS a2
      FROM s
    ),
    bsum AS (
      SELECT CAST(sum(CAST(sj AS {dialect.big}) * sj) AS {dialect.big}) AS sb2
      FROM colsum
    )
    SELECT agg.n AS n_blocks,
      CAST(((agg.n - 1) * bsum.sb2 * 1000000)
           {dialect.div}(agg.n * agg.a2 - bsum.sb2) AS BIGINT) AS quade_f_ppm,
      4 * (((agg.n - 1) * bsum.sb2 * 1000000)
           {dialect.div}(agg.n * agg.a2 - bsum.sb2)) > {_CHI2_DF4_E6}
        AS reject_equal_segments
    FROM agg CROSS JOIN bsum
    """


sql_query(
    "quade_test", _quade_sql, "orders", "customer",
    doc="""Quade's weighted repeated-measures test on the month × segment
    revenue grid (complete months): within-month ranks r (strict, the
    ``friedman_test`` frame), blocks weighted by the RANK of their
    revenue RANGE (months where segments genuinely differ count more
    — the power refinement over Friedman's equal weights at small k),
    S_ij = Q_i(2r_ij − (k+1)) kept doubled-integer, and
    F = (n−1)B/(A−B) with A = ΣS², B = ΣS_j²/n assembled
    denominator-free.  Asymptotic gate via (k−1)F ≈ χ²₄.

    Scale: one grid aggregation; per-month windows (5 rows each) and
    one bounded month-rank window; 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# gumbel_block_maxima
# ---------------------------------------------------------------------------

#: shared double literals (both engines parse the identical decimal)
_PI = "3.141592653589793"
_EULER = "0.5772156649015329"
#: −ln(−ln(1 − 1/100)) for the 100-block return level
_GUMBEL_Y100 = "4.600149226776579"


def _gumbel_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    blk AS (
      SELECT t{dialect.div}30 AS b, CAST(max(y) AS BIGINT) AS mx
      FROM day GROUP BY t{dialect.div}30
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(mx) AS BIGINT) AS s,
        CAST(sum(CAST(mx AS {dialect.big}) * mx) AS {dialect.big}) AS q
      FROM blk
    ),
    fit AS (
      SELECT n,
        CAST((s * 1000000){dialect.div}n AS BIGINT) AS mean_e6,
        CAST(floor(1000000
          * sqrt(6e0 * CAST(n * q - CAST(s AS {dialect.big}) * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)))
          / {_PI}) AS BIGINT) AS scale_e6
      FROM st
    ),
    par AS (
      SELECT n, scale_e6,
        CAST(mean_e6
             - CAST(floor({_EULER} * scale_e6) AS BIGINT) AS BIGINT)
          AS loc_e6
      FROM fit
    )
    SELECT n AS n_blocks, loc_e6, scale_e6,
      CAST(loc_e6 + floor({_GUMBEL_Y100} * scale_e6) AS BIGINT)
        AS return_level_100_e6,
      (SELECT CAST(max(mx) * 1000000 AS BIGINT) FROM blk)
        AS observed_max_e6,
      loc_e6 + floor({_GUMBEL_Y100} * scale_e6)
        > (SELECT max(mx) * 1000000 FROM blk)
        AS return_level_above_observed
    FROM par
    """


sql_query(
    "gumbel_block_maxima", _gumbel_sql, "orders",
    doc="""Gumbel fit of 30-day block maxima of daily revenue by method of
    moments: σ̂ = s√6/π and μ̂ = m̄ − γσ̂ with π and Euler's γ as
    shared double LITERALS.  (Round-11 fix, caught by
    tools/stat_audit.py's independent replay: the sample variance
    radicand divided by n²(n−1) instead of n(n−1), shrinking σ̂ — and
    the 100-block return level — by √n.  Both engines shared the
    bug, so oracle parity was green the whole time; the r9 ratio-CI
    √n defect was the same class.) (data-dependent math is only the exact
    integer mean/variance; one sqrt on an exact radicand, one floor
    per parameter), plus the 100-block return level μ̂ + 4.6001·σ̂
    (−ln(−ln(0.99)) baked as a literal).  This is the capacity
    question — "what peak day should we size for?" — answered from
    extreme-value theory instead of a quantile of the observed data
    (the observed max UNDERestimates future peaks; the return level
    extrapolates the tail).

    Scale: one day aggregation → one 30-day block max aggregation
    (both map-side combinable); 1 row out.

    Reference parity: beyond-reference EVT tier.""",
)


# ---------------------------------------------------------------------------
# pot_mean_excess
# ---------------------------------------------------------------------------


def _pot_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    h AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM day GROUP BY y),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
    cw AS (
      SELECT y, sum(c) OVER (ORDER BY y
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    ),
    thr AS (
      SELECT CAST(min(cw.y) AS BIGINT) AS u
      FROM cw CROSS JOIN tot
      WHERE cw.cum * 10 >= 9 * tot.n
    ),
    exc AS (
      SELECT CAST(day.y - thr.u AS BIGINT) AS e
      FROM day CROSS JOIN thr WHERE day.y > thr.u
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
        CAST(sum(e) AS BIGINT) AS s,
        CAST(sum(CAST(e AS {dialect.big}) * e) AS {dialect.big}) AS q
      FROM exc
    ),
    mom AS (
      SELECT k,
        CAST((s * 1000000){dialect.div}k AS BIGINT) AS m_e6,
        CAST(((CAST(s AS {dialect.big}) * s) * 1000000)
             {dialect.div}(k * q - CAST(s AS {dialect.big}) * s) * (k - 1){dialect.div}k
             AS BIGINT) AS m2v_ppm
      FROM st
    )
    SELECT thr.u AS threshold, mom.k AS n_exceedances,
      mom.m_e6 AS mean_excess_e6,
      CAST((1000000 - mom.m2v_ppm){dialect.div}2 AS BIGINT) AS xi_ppm,
      CAST((CAST(mom.m_e6 AS {dialect.big}) * (1000000 + mom.m2v_ppm))
           {dialect.div}2000000 AS BIGINT) AS sigma_e6,
      (1000000 - mom.m2v_ppm){dialect.div}2 > 0 AS heavy_tail
    FROM mom CROSS JOIN thr
    """


sql_query(
    "pot_mean_excess", _pot_sql, "orders",
    doc="""Peaks-over-threshold tail diagnosis of daily revenue: threshold
    u = the rank-defined P90 (first distinct value whose cumulative
    count reaches 90% — no interpolation), excesses e = y − u, and the
    generalized-Pareto method-of-moments fit ξ = (1 − m̄²/s²)/2,
    σ = m̄(1 + m̄²/s²)/2 — all staged integer quotients of the exact
    excess moments.  ξ > 0 says the tail is heavier than exponential
    (power-law class: plan for records), ξ < 0 says the tail is
    BOUNDED; the mean-excess value itself is the e(u) point every
    mean-excess-plot reading starts from.  Pairs with
    ``gumbel_block_maxima``: block maxima fit the center of the
    extreme class, POT uses every tail observation.

    Scale: one day aggregation, one bounded distinct-value cumulative
    for the threshold, one excess-moment pass; 1 row out.

    Reference parity: beyond-reference EVT tier.""",
)
