"""Round-9 catalog, tier 7 (post-slot extras, round-10 promotion
pool) —

* ``anderson_darling_2sample`` — the tail-sensitive two-sample test:
  AD weights ECDF gaps by 1/(H(1−H)), so differences in the TAILS —
  exactly where ``ks_two_sample``'s sup-norm is weakest — dominate
  the statistic.  Pettitt's ECDF form over the $10-bucket histogram,
  exact integers until one ppm floor per stratum.
* ``page_hinkley_drift`` — the classic streaming mean-shift detector
  replayed over daily revenue: cumulative deviations from the RUNNING
  mean, alarm when the walk rises λ above its running minimum.  The
  sequential sibling of ``pettitt_changepoint`` (retrospective) and
  ``sprt_boundary_crossing`` (hypothesis-pair).
* ``theil_sen_ci`` — the rank-based confidence interval for Sen's
  slope on monthly revenue: the CI bounds are ORDER STATISTICS of the
  pairwise-slope distribution at ranks (N ∓ z√Var(S))/2 — the
  distribution-free interval that pairs with ``theil_sen_trend``'s
  point estimate (Gilbert's method).
* ``kendall_tau_b`` — the tie-corrected ordinal association:
  τ_b = (P−Q)/√((P+Q+Tx)(P+Q+Ty)), completing the tau family
  (``kendall_tau_cells`` = tau-a, ``kruskal_gamma`` excludes ties,
  ``somers_d`` is the asymmetric member) from the SAME cell-product
  device.
* ``median_polish_lite`` — Tukey's two-way robust decomposition of
  the month × segment revenue grid, two row/column sweeps unrolled:
  grand + month effects + segment effects + residuals, with
  rank-defined medians so both engines walk the identical path.
  The robust complement to ``anova_oneway``'s mean-based decomposition.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql
from .catalog_r9a import _ordinal_pairs_sql, _two_group_hist_sql

#: floor(1e6 · A²(2-sample) 5% asymptotic critical value), Pettitt /
#: Scholz-Stephens k=2 table
_AD2_CRIT_E6 = 2_492_000


# ---------------------------------------------------------------------------
# anderson_darling_2sample
# ---------------------------------------------------------------------------


def _ad2_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    strat AS (
      SELECT c1 + c2 AS c,
        lt1 + c1 AS ca, lt2 + c2 AS cb,
        lt1 + c1 + lt2 + c2 AS cn
      FROM cum
    ),
    terms AS (
      SELECT CAST((CAST(c AS {dialect.big})
                   * (t.n2 * ca - t.n1 * cb) * (t.n2 * ca - t.n1 * cb)
                   * 1000000)
                  {dialect.div}(CAST(cn AS {dialect.big}) * (t.n1 + t.n2 - cn))
                  AS {dialect.big}) AS term_e6
      FROM strat CROSS JOIN tot t
      WHERE cn < t.n1 + t.n2
    ),
    a2 AS (
      SELECT CAST(sum(term_e6)
                  {dialect.div}(CAST(t.n1 AS {dialect.big}) * t.n2)
                  AS BIGINT) AS a2_e6
      FROM terms CROSS JOIN tot t
      GROUP BY t.n1, t.n2
    )
    SELECT t.n1, t.n2, a2.a2_e6,
      a2.a2_e6 > {_AD2_CRIT_E6} AS reject_same_distribution
    FROM a2 CROSS JOIN tot t
    """


sql_query(
    "anderson_darling_2sample", _ad2_sql, "orders", "customer",
    doc="""Two-sample Anderson-Darling test (Pettitt's ECDF form) between
    BUILDING and MACHINERY order values: A² = (N/nm)·Σ_z c_z·(m·F_a −
    n·F_b)²ₙₘ/(H(N−H)) over the distinct $10 buckets (last stratum
    excluded where H = N) — the 1/(H(1−H)) weight is what makes AD the
    TAIL-sensitive member of the family: ``ks_two_sample`` reads the
    single biggest ECDF gap (center-dominated), ``cliffs_delta_effect``
    the average ordering, AD integrates every gap with the tails
    amplified.  Each stratum floors once to e6; the (m·cumA − n·cumB)
    cross-multiplication keeps the ECDF difference exact integer.
    Asymptotic 5% gate at A² = 2.492.

    Scale: the r9a two-group histogram device — one aggregation +
    bounded-frame cumulatives; 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# page_hinkley_drift
# ---------------------------------------------------------------------------


def _ph_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    lam AS (
      SELECT CAST((sum(y) * 1000000{dialect.div}count(*)){dialect.div}10 AS BIGINT)
        AS lambda_e6
      FROM day
    ),
    walk AS (
      SELECT t,
        CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
        y,
        sum(y) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
      FROM day
    ),
    dev AS (
      SELECT t, i,
        CAST(y * 1000000 - (cy * 1000000){dialect.div}i AS BIGINT) AS d_e6
      FROM walk
    ),
    m AS (
      SELECT t,
        CAST(sum(d_e6) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS m_e6
      FROM dev
    ),
    ph AS (
      SELECT t, m_e6,
        CAST(m_e6 - min(m_e6) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS ph_e6
      FROM m
    ),
    alarms AS (
      SELECT ph.t, ph.ph_e6 FROM ph CROSS JOIN lam
      WHERE ph.ph_e6 > lam.lambda_e6
    ),
    firsta AS (
      SELECT t AS first_alarm_day FROM alarms ORDER BY t LIMIT 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ph) AS n_days,
      lam.lambda_e6,
      (SELECT CAST(count(*) AS BIGINT) FROM alarms) AS n_alarm_days,
      CAST(coalesce((SELECT first_alarm_day FROM firsta), -1) AS BIGINT)
        AS first_alarm_day,
      (SELECT CAST(max(ph_e6) AS BIGINT) FROM ph) AS max_ph_e6
    FROM lam
    """


sql_query(
    "page_hinkley_drift", _ph_sql, "orders",
    doc="""Page-Hinkley upward mean-shift detector replayed over daily
    revenue: mₜ = Σ(yᵢ − ȳᵢ) with ȳᵢ the RUNNING mean (the classic
    self-normalizing form, δ = 0), PHₜ = mₜ − min_{{i≤t}} mᵢ, alarm
    when PHₜ exceeds λ = 10% of the grand daily mean (a data-scaled
    threshold, so the replay is sf-invariant in character).  The
    running mean's division is the only quotient and it floors to e6
    per day identically in both engines.  ``pettitt_changepoint``
    finds WHERE the shift was after the fact; Page-Hinkley is the
    one-pass monitor that would have fired DURING — the streaming
    drift primitive, replayed as batch for the oracle.  The LIVE form
    is ``streaming/drift.py`` (per-micro-batch volume PH state,
    versioned snapshots, stream == scalar-fold parity in
    tests/test_streaming.py — the Misra-Gries state doctrine).

    Scale: three cumulative windows over the calendar-day frame
    (BOUNDED_FRAME_AUDITED class); 1 row out.

    Reference parity: beyond-reference streaming-analytics tier.""",
)


# ---------------------------------------------------------------------------
# theil_sen_ci
# ---------------------------------------------------------------------------

#: z²·1e6 at 95% two-sided, floored (shared literal convention)
_TS_Z2_E6 = 3_841_458


def _tsci_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS i, rev
      FROM m
    ),
    sl AS (
      SELECT CAST((CAST(b.rev - a.rev AS {dialect.big}) * 1000000)
                  {dialect.div}(b.i - a.i) AS BIGINT) AS s
      FROM idx a JOIN idx b ON b.i > a.i
    ),
    h AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY s),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS ns,
        (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n
      FROM h
    ),
    ranks AS (
      SELECT tot.ns, tot.n,
        CAST(floor(sqrt({_TS_Z2_E6} / 1e6
               * CAST(tot.n * (tot.n - 1) * (2 * tot.n + 5) AS DOUBLE)
               / 18e0)) AS BIGINT) AS c_alpha
      FROM tot
    ),
    bounds AS (
      SELECT ns, n, c_alpha,
        greatest(CAST(1 AS BIGINT), (ns - c_alpha){dialect.div}2) AS r_lo,
        least(ns, (ns + c_alpha){dialect.div}2 + 1) AS r_hi,
        (ns + 1){dialect.div}2 AS r_med
      FROM ranks
    ),
    cw AS (
      SELECT s, sum(c) OVER (ORDER BY s
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    )
    SELECT b.n AS n_months, b.ns AS n_pairs, b.c_alpha,
      (SELECT CAST(min(s) AS BIGINT) FROM cw WHERE cum >= b.r_med)
        AS sen_slope_cents_per_month_e6,
      (SELECT CAST(min(s) AS BIGINT) FROM cw WHERE cum >= b.r_lo)
        AS ci_lo_e6,
      (SELECT CAST(min(s) AS BIGINT) FROM cw WHERE cum >= b.r_hi)
        AS ci_hi_e6,
      (SELECT CAST(min(s) AS BIGINT) FROM cw WHERE cum >= b.r_lo) > 0
        OR (SELECT CAST(min(s) AS BIGINT) FROM cw
            WHERE cum >= b.r_hi) < 0 AS trend_excludes_zero
    FROM bounds b
    """


sql_query(
    "theil_sen_ci", _tsci_sql, "orders",
    doc="""Gilbert's 95% confidence interval for Sen's slope on monthly
    revenue: the CI endpoints are ORDER STATISTICS of the pairwise
    slopes at ranks (N ∓ C_α)/2 with C_α = z·√(n(n−1)(2n+5)/18) (the
    Mann-Kendall variance; one sqrt of an exact integer expression),
    so the interval needs no residual variance, no normality, and no
    bootstrap — the slope distribution IS the inference.  The three
    order statistics are rank-defined picks from one cumulative over
    the ≤C(n,2) distinct slopes.  ``theil_sen_trend`` gives the point;
    this prices its uncertainty; ``mk_trend_test`` is the matching
    significance verdict (same variance, same kernel).

    Scale: one month aggregation, a bounded pair join (n ≈ 84 months
    ⇒ ~3.5k pairs), one cumulative; 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# kendall_tau_b
# ---------------------------------------------------------------------------


def _taub_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_ordinal_pairs_sql(dialect)}
    SELECT CAST(p AS BIGINT) AS concordant,
      CAST(qd AS BIGINT) AS discordant,
      CAST(tx AS BIGINT) AS tied_disc_only,
      CAST(ty AS BIGINT) AS tied_qty_only,
      CAST(floor(1000000 * CAST(p - qd AS DOUBLE)
           / sqrt(CAST(p + qd + tx AS DOUBLE)
                  * CAST(p + qd + ty AS DOUBLE))) AS BIGINT)
        AS tau_b_ppm
    FROM pm
    """


sql_query(
    "kendall_tau_b", _taub_sql, "lineitem",
    doc="""Kendall's tau-b between discount and quantity — the
    tie-CORRECTED association that completes the tau family from the
    single ``kendall_tau_cells`` value-cell device: tau-a divides by
    all pairs (tie-dragged toward 0), gamma excludes ties entirely
    (optimistic), Somers' D corrects one side (asymmetric), tau-b
    corrects both symmetrically: (P−Q)/√((P+Q+Tx)(P+Q+Ty)).  P, Q,
    Tx, Ty are exact integers from cell-count products; the one
    sqrt runs on their exact product converted once to double
    (identical rounding both engines).

    Scale: identical to ``kruskal_gamma`` — bounded cell cross, 1 row.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# median_polish_lite
# ---------------------------------------------------------------------------


def _mp_sql(dialect: Dialect) -> str:
    # rank-defined LOWER median of a partition: the ((cnt+1) div 2)-th
    # value under (value, tiebreak) total order
    return f"""
    WITH g AS (
      SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
        c.c_mktsegment AS seg,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    full_m AS (SELECT ym FROM g GROUP BY ym HAVING count(*) = 5),
    grid AS (SELECT g.* FROM g JOIN full_m ON full_m.ym = g.ym),
    rm1 AS (
      SELECT ym, v AS med FROM (
        SELECT ym, v, row_number() OVER (PARTITION BY ym
          ORDER BY v, seg) AS rn FROM grid
      ) t WHERE rn = 3
    ),
    s1 AS (
      SELECT grid.ym, grid.seg, grid.v - rm1.med AS v, rm1.med AS re1
      FROM grid JOIN rm1 ON rm1.ym = grid.ym
    ),
    cm1 AS (
      SELECT seg, v AS med FROM (
        SELECT seg, v, row_number() OVER (PARTITION BY seg
          ORDER BY v, ym) AS rn,
          count(*) OVER (PARTITION BY seg) AS cnt
        FROM s1
      ) t WHERE rn = (cnt + 1){dialect.div}2
    ),
    s2 AS (
      SELECT s1.ym, s1.seg, s1.v - cm1.med AS v, cm1.med AS ce1
      FROM s1 JOIN cm1 ON cm1.seg = s1.seg
    ),
    rm2 AS (
      SELECT ym, v AS med FROM (
        SELECT ym, v, row_number() OVER (PARTITION BY ym
          ORDER BY v, seg) AS rn FROM s2
      ) t WHERE rn = 3
    ),
    s3 AS (
      SELECT s2.ym, s2.seg, s2.v - rm2.med AS v, s2.ce1
      FROM s2 JOIN rm2 ON rm2.ym = s2.ym
    ),
    cm2 AS (
      SELECT seg, v AS med FROM (
        SELECT seg, v, row_number() OVER (PARTITION BY seg
          ORDER BY v, ym) AS rn,
          count(*) OVER (PARTITION BY seg) AS cnt
        FROM s3
      ) t WHERE rn = (cnt + 1){dialect.div}2
    ),
    resid AS (
      SELECT s3.ym, s3.seg, s3.v - cm2.med AS r,
        s3.ce1 + cm2.med AS col_effect
      FROM s3 JOIN cm2 ON cm2.seg = s3.seg
    )
    SELECT seg AS segment,
      CAST(min(col_effect) AS BIGINT) AS segment_effect_c,
      CAST(count(*) AS BIGINT) AS n_months,
      CAST(max(abs(r)) AS BIGINT) AS max_abs_resid_c,
      CAST(sum(abs(r)){dialect.div}count(*) AS BIGINT) AS mean_abs_resid_c
    FROM resid GROUP BY seg
    """


sql_query(
    "median_polish_lite", _mp_sql, "orders", "customer",
    doc="""Tukey median polish of the month × segment revenue grid
    (complete months only), two row/column sweeps unrolled: row
    medians subtracted (the 5-segment median is exactly rank 3 under
    the (value, segment) total order — no interpolation), then column
    medians (rank-defined lower median over the month frame), twice.
    Each segment row reports its accumulated effect and the residual
    magnitudes left after the polish — the robust two-way
    decomposition whose effects a single whale month cannot move,
    unlike ``anova_oneway``'s means.  All arithmetic is integer cents;
    both engines walk the identical rank path.

    Scale: one month×segment aggregation; four partitioned windows
    over the bounded grid (≤ 5·#months rows); 5 rows out.

    Reference parity: beyond-reference statistics tier.""",
)
