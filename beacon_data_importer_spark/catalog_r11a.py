"""Round-11 catalog, tier 1 — two-sample and distribution-shape second
wave over the two-segment order histogram and the daily-revenue frame.

The existing two-sample battery reads location (``welch_t_test``,
``mood_median_test``, Wilcoxon via ``auc_mann_whitney``), scale
(``ansari_bradley``, ``levene_test``), location-scale combinations
(``lepage_test``, ``cucconi_test``) and full-distribution EDF forms
(``ks_two_sample``, ``anderson_darling_2sample``).  This tier closes
the remaining classical gaps:

* ``cramer_von_mises_2sample`` — the integrated-squared-EDF-gap
  criterion T = nm/N²·Σ(F−G)²: quadratic in the CDF gap everywhere
  (where KS reads only the max), the EDF test of choice when the
  difference is spread across the support.
* ``bws_test`` — Baumgartner-Weiß-Schindler: the variance-WEIGHTED
  squared rank gap, up-weighting the distribution TAILS where the
  EDF variance vanishes; in the authors' and Neuhäuser's power
  studies beats KS/CvM/Wilcoxon across most alternatives.
* ``siegel_tukey_test`` — scale read with Wilcoxon null tables: the
  end-alternating zig-zag relabeling (1, 4, 5, 8, … from the min;
  2, 3, 6, 7, … from the max) turns a dispersion difference into a
  location difference of labels.  ``ansari_bradley``'s historical
  sibling — kept because its exact Wilcoxon null needs no new
  variance derivation.
* ``dagostino_k2_test`` — D'Agostino-Pearson omnibus normality K² =
  Z₁(√b₁)² + Z₂(b₂)²: the small-sample-corrected skewness/kurtosis
  z's (Johnson SU / Anscombe-Glynn transforms) that fix
  ``jarque_bera_test``'s slow asymptotics.
* ``poisson_rate_ratio_ci`` — the urgent-order RATE ratio between
  segments with the exact-information log CI (RR·exp(±z√(1/a+1/b)))
  — the epidemiology-standard two-rate comparison completing the
  two-PROPORTION reads (``newcombe_diff_ci``, ``ab_test_ztest``).
* ``l_moments_ratios`` — Hosking's L-moments λ₁..λ₄ and the ratios
  τ₂ (L-CV), τ₃ (L-skewness), τ₄ (L-kurtosis) of daily revenue:
  order-statistics moments that are EXACT integer rationals here,
  exist whenever the mean does, and are the regional-frequency-
  analysis standard for picking an extreme-value family —
  feeding the ``gumbel_block_maxima``/``pot_mean_excess`` tier the
  shape diagnostic it was missing.

Every query ships with an independent numpy replay in
``tools/stat_audit.py`` (the round-11 audit-first discipline: the
formula is cross-checked OUTSIDE both SQL engines before the oracle
parity gate ever runs).

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql
from .catalog_r9a import _two_group_hist_sql

#: floor(1e6 · z₀.₉₇₅) — shared two-sided 5% normal gate.
_Z975_E6 = 1_959_963
#: floor(1e6 · 0.461361) — asymptotic 5% critical value of the
#: two-sample Cramér-von Mises T (Anderson 1962 limiting law).
_CVM_CRIT_E6 = 461_361
#: floor(1e6 · 2.493) — asymptotic 5% critical value of the BWS B
#: statistic (Baumgartner-Weiß-Schindler 1998, Table 1).
_BWS_CRIT_E6 = 2_493_000
#: floor(1e6 · χ²(df=2, α=0.05)) — D'Agostino K² gate.
_CHI2_DF2_E6 = 5_991_464


# ---------------------------------------------------------------------------
# cramer_von_mises_2sample
# ---------------------------------------------------------------------------


def _cvm_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    gap AS (
      SELECT c.c1 + c.c2 AS cb,
        (c.lt1 + c.c1) * CAST(t.n2 AS {dialect.big})
          - (c.lt2 + c.c2) * CAST(t.n1 AS {dialect.big}) AS d
      FROM cum c CROSS JOIN tot t
    ),
    s AS (
      SELECT CAST(sum(CAST(cb AS {dialect.big}) * d * d) AS {dialect.big}) AS u
      FROM gap
    )
    SELECT t.n1, t.n2,
      CAST((s.u * 1000000)
           {dialect.div}(CAST(t.n1 + t.n2 AS {dialect.big}) * (t.n1 + t.n2)
                 * t.n1 * t.n2) AS BIGINT) AS cvm_t_e6,
      (s.u * 1000000)
        {dialect.div}(CAST(t.n1 + t.n2 AS {dialect.big}) * (t.n1 + t.n2)
              * t.n1 * t.n2) > {_CVM_CRIT_E6} AS reject_same_distribution
    FROM s CROSS JOIN tot t
    """


sql_query(
    "cramer_von_mises_2sample", _cvm_sql, "orders", "customer",
    doc="""Two-sample Cramér-von Mises criterion between BUILDING and
    MACHINERY order values: T = (nm/N²)·Σ_z (F_n(z) − G_m(z))², the
    sum running over all N sample points (each $10 bucket contributes
    its occupancy times the squared inclusive-CDF gap — the standard
    tie treatment).  Quadratic in the EDF gap EVERYWHERE, so a
    difference spread thinly across the support registers where
    ``ks_two_sample``'s max-gap read dilutes it; the
    ``anderson_darling_2sample`` sibling without the variance
    weighting.  Exact integer arithmetic over the common n1·n2
    denominator — Σ cb·(le1·n2 − le2·n1)² / (N²·n1·n2) — with one ppm
    floor; asymptotic 5% gate at T = 0.461.

    Scale: one volume-bearing histogram aggregate (map-side
    combinable), then the cumulative window over the DISTINCT
    $10-bucket frame (price-range-bounded, BOUNDED_FRAME_AUDITED).
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# bws_test
# ---------------------------------------------------------------------------


def _bws_sql(dialect: Dialect) -> str:
    # per-observation index expansion: one row per sample member of
    # each group, carrying its within-group index i and combined-sample
    # midrank (bucket average rank).
    def side(grp: int) -> str:
        lt_own = f"lt{grp}"
        c_own = f"c{grp}"
        base = (
            f"(SELECT lt1, lt2, c1, c2, {c_own} AS cnt FROM cum"
            f" WHERE {c_own} > 0) c"
        )
        if dialect.spark:
            return f"""
      SELECT {grp} AS g, c.{lt_own} + u.i AS i,
        2 * (c.lt1 + c.lt2) + (c.c1 + c.c2) + 1 AS r2
      FROM {base}
      LATERAL VIEW explode(sequence(1, CAST(c.cnt AS INT))) u AS i"""
        return f"""
      SELECT {grp} AS g, c.{lt_own} + u.i AS i,
        2 * (c.lt1 + c.lt2) + (c.c1 + c.c2) + 1 AS r2
      FROM {base}, unnest(generate_series(1, CAST(c.cnt AS INT))) AS u(i)"""

    return f"""
    WITH {_two_group_hist_sql(dialect)},
    obs AS ({side(1)} UNION ALL {side(2)}),
    term AS (
      SELECT o.g, o.i,
        CAST(floor(
          (CAST(o.r2 AS DOUBLE) / 2.0
           - CAST(t.n1 + t.n2 + 1 AS DOUBLE) * o.i
             / (CASE WHEN o.g = 1 THEN t.n1 ELSE t.n2 END + 1.0))
          * (CAST(o.r2 AS DOUBLE) / 2.0
             - CAST(t.n1 + t.n2 + 1 AS DOUBLE) * o.i
               / (CASE WHEN o.g = 1 THEN t.n1 ELSE t.n2 END + 1.0))
          / (
            (CAST(o.i AS DOUBLE)
             / (CASE WHEN o.g = 1 THEN t.n1 ELSE t.n2 END + 1.0))
            * (1.0 - CAST(o.i AS DOUBLE)
               / (CASE WHEN o.g = 1 THEN t.n1 ELSE t.n2 END + 1.0))
            * (CASE WHEN o.g = 1 THEN t.n2 ELSE t.n1 END)
            * CAST(t.n1 + t.n2 + 1 AS DOUBLE)
            / (CASE WHEN o.g = 1 THEN t.n1 ELSE t.n2 END))
          * 1e6) AS BIGINT) AS w_e6
      FROM obs o CROSS JOIN tot t
    ),
    b AS (
      SELECT
        CAST(sum(CASE WHEN g = 1 THEN w_e6 END) AS {dialect.big}) AS bx_e6,
        CAST(sum(CASE WHEN g = 2 THEN w_e6 END) AS {dialect.big}) AS by_e6
      FROM term
    )
    SELECT t.n1, t.n2,
      CAST(b.bx_e6{dialect.div}t.n1 AS BIGINT) AS bx_e6,
      CAST(b.by_e6{dialect.div}t.n2 AS BIGINT) AS by_e6,
      CAST((b.bx_e6{dialect.div}t.n1 + b.by_e6{dialect.div}t.n2){dialect.div}2 AS BIGINT)
        AS bws_b_e6,
      (b.bx_e6{dialect.div}t.n1 + b.by_e6{dialect.div}t.n2){dialect.div}2 > {_BWS_CRIT_E6}
        AS reject_same_distribution
    FROM b CROSS JOIN tot t
    """


sql_query(
    "bws_test", _bws_sql, "orders", "customer",
    doc="""Baumgartner-Weiß-Schindler two-sample test (BUILDING vs
    MACHINERY): B = (B_X + B_Y)/2 with

      B_X = (1/n)·Σᵢ (Rᵢ − (N+1)·i/(n+1))²
            / [ (i/(n+1))(1 − i/(n+1)) · m(N+1)/n ],

    i the within-group order index and Rᵢ the combined-sample midrank
    (bucket-average, the doubled-midrank device halved inside the one
    float term).  The 1/(F(1−F)) weighting is the Anderson-Darling
    idea applied to the RANK gap — tail-sensitive where Wilcoxon and
    CvM are tail-blind — and the published power studies (BWS 1998;
    Neuhäuser 2005) have it dominating KS/CvM/W across most
    location/scale/shape alternatives.  Per-observation terms floor to
    e6 independently (no float accumulation — the mi_microbits
    device); the two averages and the final halving are integer
    divisions.  Asymptotic 5% gate at B = 2.493.

    Scale: the index expansion is one explode(sequence) per DISTINCT
    bucket — linear in segment rows, balanced, no pairs and no global
    window (the bucket frame already carries the cumulative ranks).
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# siegel_tukey_test
# ---------------------------------------------------------------------------


def _st_sql(dialect: Dialect) -> str:
    # Zig-zag label sums over a combined-order index range [lo, hi],
    # in CLOSED FORM (no expansion): labels from the LOW end (i <= H,
    # H = (N+1) div 2) follow 2i-1 (i odd) / 2i (i even), so their sum
    # over [a, b] is (a+b)(b-a+1) - #odd(a, b); from the HIGH end
    # (j = N+1-i) they follow 2j (j odd) / 2j-1 (j even), summing to
    # (ja+jb)(jb-ja+1) - #even(ja, jb).
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    rng AS (
      SELECT c.v, c.c1, c.c2, t.n1, t.n2,
        c.lt1 + c.lt2 + 1 AS lo, c.lt1 + c.lt2 + c.c1 + c.c2 AS hi,
        -- low-side count: the zig-zag hands out groups (low,1),
        -- (high,2), (low,2), (high,2), ... so the low side owns
        -- 2*(N div 4) + (N mod 4 = 0 ? 0 : 1) positions.  NOT
        -- (N+1) div 2 — that over-assigns the low side when
        -- N = 3 (mod 4) (caught by tools/stat_audit.py's brute
        -- process replay; both engines shared the wrong boundary, so
        -- oracle parity alone could not see it).
        2 * ((t.n1 + t.n2){dialect.div}4)
          + CASE WHEN (t.n1 + t.n2) % 4 = 0 THEN 0 ELSE 1 END AS h,
        t.n1 + t.n2 AS nn
      FROM cum c CROSS JOIN tot t
    ),
    seg AS (
      SELECT v, c1, c2, n1, n2,
        -- low-end segment [lo, min(hi, h)]
        CASE WHEN lo <= h THEN
          (lo + least(hi, h)) * (least(hi, h) - lo + 1)
          - ((least(hi, h) + 1){dialect.div}2 - lo{dialect.div}2)
        ELSE 0 END AS s_low,
        -- high-end segment [max(lo, h+1), hi] -> j = nn+1-i desc
        CASE WHEN hi > h THEN
          ((nn + 1 - hi) + (nn + 1 - greatest(lo, h + 1)))
            * ((nn + 1 - greatest(lo, h + 1)) - (nn + 1 - hi) + 1)
          - ((nn + 1 - greatest(lo, h + 1)){dialect.div}2
             - ((nn + 1 - hi) - 1){dialect.div}2)
        ELSE 0 END AS s_high
      FROM rng
    ),
    w AS (
      SELECT max(n1) AS n1, max(n2) AS n2,
        CAST(sum((CAST(c2 AS {dialect.big}) * (s_low + s_high) * 1000000)
                 {dialect.div}(c1 + c2)) AS {dialect.big}) AS w2_e6
      FROM seg WHERE c1 + c2 > 0
    )
    SELECT n1, n2, CAST(w2_e6{dialect.div}1000000 AS BIGINT) AS w2_labels,
      CAST(floor(
        (CAST(w2_e6 AS DOUBLE) / 1e6
         - CAST(n2 AS DOUBLE) * (n1 + n2 + 1) / 2.0)
        / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0)
        * 1e6) AS BIGINT) AS z_e6,
      abs(CAST(floor(
        (CAST(w2_e6 AS DOUBLE) / 1e6
         - CAST(n2 AS DOUBLE) * (n1 + n2 + 1) / 2.0)
        / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0)
        * 1e6) AS BIGINT)) > {_Z975_E6} AS reject_equal_scale
    FROM w
    """


sql_query(
    "siegel_tukey_test", _st_sql, "orders", "customer",
    doc="""Siegel-Tukey scale test (BUILDING vs MACHINERY): combined-order
    positions are relabeled alternately from the extremes inward —
    1 to the minimum; 2, 3 to the two maxima; 4, 5 to the next two
    minima; … — and a Wilcoxon rank-sum runs on the LABELS, so a
    dispersion difference becomes a location difference with the
    unchanged Wilcoxon null (that free null is the test's point;
    ``ansari_bradley`` is its modern sibling with its own variance).
    Tie treatment: every observation in a $10 bucket receives the
    bucket's MEAN zig-zag label (the midrank convention), computed as
    an exact per-bucket ppm division of the closed-form label sum over
    the bucket's index range — no per-observation expansion reaches
    the statistic, and nothing depends on within-bucket order.

    Scale: label sums are CLOSED FORM per DISTINCT bucket (arithmetic
    on the bucket's index range — no expansion at all), then one 1-row
    reduction over the price-range-bounded bucket frame.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# dagostino_k2_test
# ---------------------------------------------------------------------------


def _k2_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS s1,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS s2,
        CAST(sum(CAST(y AS {dialect.big}) * y * y) AS {dialect.big}) AS s3,
        CAST(sum(CAST(y AS {dialect.big}) * y * y * y) AS {dialect.big}) AS s4
      FROM day
    ),
    c AS (
      -- exact integer central-moment numerators: C2 = n*S(y-m)^2,
      -- C3 = n^2*S(y-m)^3, C4 = n^3*S(y-m)^4.  The n-powers cancel in
      -- g1 = C3/C2^1.5 and g2 = C4/C2^2 - 3, so both skewness and
      -- kurtosis take ONE float division on exact integers (the naive
      -- double m2/m3/m4 form cancels catastrophically and drifted
      -- ~3e-5 between engines).
      SELECT n,
        CAST(n AS {dialect.big}) * s2 - s1 * s1 AS c2,
        CAST(n AS {dialect.big}) * n * s3 - 3 * CAST(n AS {dialect.big}) * s1 * s2
          + 2 * s1 * s1 * s1 AS c3,
        CAST(n AS {dialect.big}) * n * n * s4
          - 4 * CAST(n AS {dialect.big}) * n * s1 * s3
          + 6 * CAST(n AS {dialect.big}) * s1 * s1 * s2
          - 3 * s1 * s1 * s1 * s1 AS c4
      FROM m
    ),
    gb AS (
      SELECT n,
        CAST(c3 AS DOUBLE)
          / sqrt(CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)
                 * CAST(c2 AS DOUBLE)) AS g1,
        CAST(c4 AS DOUBLE) / (CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE))
          - 3.0 AS g2
      FROM c
    ),
    z1c AS (
      SELECT n, g1, g2,
        g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3)
                  / (6.0 * (n - 2))) AS yy,
        3.0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1) * (n + 3)
          / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
          AS beta2
      FROM gb
    ),
    z1 AS (
      SELECT n, g1, g2,
        ln(yy / (sqrt(2.0 / (sqrt(2.0 * (beta2 - 1)) - 1 - 1)) )
           + sqrt((yy / sqrt(2.0
               / (sqrt(2.0 * (beta2 - 1)) - 1 - 1)))
             * (yy / sqrt(2.0 / (sqrt(2.0 * (beta2 - 1)) - 1 - 1)))
             + 1.0))
          / sqrt(ln(sqrt(sqrt(2.0 * (beta2 - 1)) - 1))) AS z1
      FROM z1c
    ),
    z2c AS (
      SELECT n, g2, z1,
        3.0 * (CAST(n AS DOUBLE) - 1) / (n + 1) AS eg2,
        24.0 * n * (n - 2) * (n - 3)
          / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5))
          AS vg2,
        6.0 * (CAST(n AS DOUBLE) * n - 5 * n + 2) / ((n + 7) * (n + 9))
          * sqrt(6.0 * (n + 3) * (n + 5)
                 / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))) AS sb1
      FROM z1
    ),
    z2 AS (
      SELECT n, z1,
        ((1.0 - 2.0 / (9.0 * (6.0 + 8.0 / sb1
             * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1))))))
         - CASE WHEN (1.0 - 2.0 / (6.0 + 8.0 / sb1
               * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))))
             / (1.0 + (g2 - eg2) / sqrt(vg2)
                * sqrt(2.0 / ((6.0 + 8.0 / sb1
                  * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))) - 4.0)))
             < 0
           THEN -power(abs((1.0 - 2.0 / (6.0 + 8.0 / sb1
               * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))))
             / (1.0 + (g2 - eg2) / sqrt(vg2)
                * sqrt(2.0 / ((6.0 + 8.0 / sb1
                  * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))) - 4.0)))),
             0.3333333333333333)
           ELSE power((1.0 - 2.0 / (6.0 + 8.0 / sb1
               * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))))
             / (1.0 + (g2 - eg2) / sqrt(vg2)
                * sqrt(2.0 / ((6.0 + 8.0 / sb1
                  * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))) - 4.0))),
             0.3333333333333333)
           END)
        * sqrt(9.0 * (6.0 + 8.0 / sb1
            * (2.0 / sb1 + sqrt(1.0 + 4.0 / (sb1 * sb1)))) / 2.0) AS z2
      FROM z2c
    )
    SELECT n AS n_days,
      CAST(floor(z1 * 1e6) AS BIGINT) AS z_skew_e6,
      CAST(floor(z2 * 1e6) AS BIGINT) AS z_kurt_e6,
      CAST(floor((z1 * z1 + z2 * z2) * 1e6) AS BIGINT) AS k2_e6,
      (z1 * z1 + z2 * z2) * 1e6 > {_CHI2_DF2_E6} AS reject_normality
    FROM z2
    """


sql_query(
    "dagostino_k2_test", _k2_sql, "orders",
    doc="""D'Agostino-Pearson K² omnibus normality test on daily revenue:
    the sample skewness √b₁ through the Johnson-SU transform
    (D'Agostino 1970) and the kurtosis b₂ through the Anscombe-Glynn
    cube-root transform (1983) give z's that are N(0,1) at the ACTUAL
    n (``jarque_bera_test``'s χ² form needs n in the thousands before
    its asymptotics hold; K² is the finite-sample replacement run on
    the same moment sums).  Moments are exact wide-integer power sums
    (the cents device) — every double op downstream is a scalar in a
    fixed expression tree, floored once per output.  Gate at χ²(2).

    Scale: one map-side-combinable moment aggregate over the
    calendar-day frame; everything else is a 1-row scalar pipeline.
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# poisson_rate_ratio_ci
# ---------------------------------------------------------------------------


def _prr_sql(dialect: Dialect) -> str:
    return f"""
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c.c_mktsegment
    ),
    two AS (
      SELECT
        max(CASE WHEN seg = 'BUILDING' THEN a END) AS a1,
        max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
        max(CASE WHEN seg = 'MACHINERY' THEN a END) AS a2,
        max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2
      FROM s
    )
    SELECT a1 AS events_building, n1 AS exposure_building,
      a2 AS events_machinery, n2 AS exposure_machinery,
      (CAST(a1 AS BIGINT) * n2 * 1000000){dialect.div}(CAST(a2 AS BIGINT) * n1)
        AS rate_ratio_e6,
      CAST(floor(CAST(a1 AS DOUBLE) * n2 / (CAST(a2 AS DOUBLE) * n1)
        * exp(-1.959964 * sqrt(1.0 / a1 + 1.0 / a2)) * 1e6) AS BIGINT)
        AS rr_lo_e6,
      CAST(floor(CAST(a1 AS DOUBLE) * n2 / (CAST(a2 AS DOUBLE) * n1)
        * exp(1.959964 * sqrt(1.0 / a1 + 1.0 / a2)) * 1e6) AS BIGINT)
        AS rr_hi_e6,
      CAST(floor(CAST(a1 AS DOUBLE) * n2 / (CAST(a2 AS DOUBLE) * n1)
        * exp(-1.959964 * sqrt(1.0 / a1 + 1.0 / a2)) * 1e6) AS BIGINT)
        > 1000000
      OR CAST(floor(CAST(a1 AS DOUBLE) * n2 / (CAST(a2 AS DOUBLE) * n1)
        * exp(1.959964 * sqrt(1.0 / a1 + 1.0 / a2)) * 1e6) AS BIGINT)
        < 1000000 AS excludes_one
    FROM two
    """


sql_query(
    "poisson_rate_ratio_ci", _prr_sql, "orders", "customer",
    doc="""Poisson rate ratio of urgent orders, BUILDING vs MACHINERY,
    with the 95% log-scale CI: RR = (a₁/n₁)/(a₂/n₂) and
    RR·exp(±z·√(1/a₁ + 1/a₂)) — the event-count-information interval
    (the variance of ln RR depends only on the EVENT counts), the
    epidemiology-standard two-rate comparison.  Completes the
    two-group urgent-share reads: ``newcombe_diff_ci`` bounds the
    risk DIFFERENCE, ``yules_q_y``/odds tiers bound association, this
    bounds the RATIO.  The point estimate is an exact integer rational
    (one ppm floor); the CI takes one exp/sqrt pair per bound on exact
    counts.

    Scale: one 2-row aggregation behind a broadcast dim join.  1 row
    out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# l_moments_ratios
# ---------------------------------------------------------------------------


def _lmom_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    rk AS (
      SELECT y, CAST(row_number() OVER (ORDER BY y, t) AS BIGINT) AS i
      FROM day
    ),
    b AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS b0n,
        CAST(sum(CAST(y AS {dialect.big}) * (i - 1)) AS {dialect.big}) AS b1n,
        CAST(sum(CAST(y AS {dialect.big}) * (i - 1) * (i - 2)) AS {dialect.big}) AS b2n,
        CAST(sum(CAST(y AS {dialect.big}) * (i - 1) * (i - 2) * (i - 3))
             AS {dialect.big}) AS b3n
      FROM rk
    ),
    l AS (
      SELECT n,
        b0n * (n - 1) * (n - 2) * (n - 3) AS d0,
        (2 * b1n - b0n * (n - 1)) * (n - 2) * (n - 3) AS d2,
        (6 * b2n - 6 * b1n * (n - 2) + b0n * (n - 1) * (n - 2))
          * (n - 3) AS d3,
        20 * b3n - 30 * b2n * (n - 3)
          + 12 * b1n * (n - 2) * (n - 3)
          - b0n * (n - 1) * (n - 2) * (n - 3) AS d4
      FROM b
    )
    SELECT n AS n_days,
      CAST((d0 * 100){dialect.div}(CAST(n AS {dialect.big}) * (n - 1) * (n - 2)
                           * (n - 3)) AS BIGINT) AS l1_e2,
      CAST((d2 * 100){dialect.div}(CAST(n AS {dialect.big}) * (n - 1) * (n - 2)
                           * (n - 3)) AS BIGINT) AS l2_e2,
      CAST((d2 * 1000000){dialect.div}d0 AS BIGINT) AS t2_lcv_e6,
      CAST((d3 * 1000000){dialect.div}d2 AS BIGINT) AS t3_lskew_e6,
      CAST((d4 * 1000000){dialect.div}d2 AS BIGINT) AS t4_lkurt_e6
    FROM l
    """


sql_query(
    "l_moments_ratios", _lmom_sql, "orders",
    doc="""Hosking's sample L-moments of daily revenue: with the
    probability-weighted moments bᵣ = n⁻¹·Σ y₍ᵢ₎·C(i−1, r)/C(n−1, r),

      λ₁ = b₀, λ₂ = 2b₁ − b₀, λ₃ = 6b₂ − 6b₁ + b₀,
      λ₄ = 20b₃ − 30b₂ + 12b₁ − b₀,

    reported with the ratios τ₂ = λ₂/λ₁ (L-CV), τ₃ = λ₃/λ₂
    (L-skewness), τ₄ = λ₄/λ₂ (L-kurtosis).  L-moments are LINEAR in
    the order statistics — they exist whenever the mean does, have
    bounded influence (one wild day moves λ₂ by O(y/n), vs the
    unbounded classical m₃/m₄), and (τ₃, τ₄) is the standard
    diagnostic for choosing an extreme-value family (normal sits at
    τ₃ = 0, τ₄ ≈ 0.1226; Gumbel at τ₃ ≈ 0.1699, τ₄ ≈ 0.1504) — the
    shape read the ``gumbel_block_maxima``/``pot_mean_excess`` tier
    consumes.  Everything is EXACT integer arithmetic over the common
    n(n−1)(n−2)(n−3) denominator (the falling-factorial weights fold
    into the Σ y·(i−1)(i−2)(i−3) sums); five integer floors at the
    output, no float anywhere.

    Scale: one bounded global-order rank window on the calendar-day
    frame (BOUNDED_FRAME_AUDITED), one moment aggregate.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
