"""Round-9 catalog, tier 1: classic nonparametric / paired tests —

* ``wilcoxon_signed_rank`` — the paired-sample workhorse missing from
  the rank-test family: monthly revenue 1997 vs 1998 paired by
  calendar month, doubled midranks of |d| (tie-exact), and the exact
  conditional variance Var(W₂⁺) = ΣR₂ᵢ²/4 (each unit contributes its
  own rank with probability ½ under H₀ — midrank-exact, no n(n+1)
  approximation).
* ``sign_test_paired`` — the same 12 pairs under the weakest possible
  assumption (only the SIGN of each difference): exact two-sided
  binomial p-value assembled from a 13-row factorial literal table —
  C(m,i) = m!/(i!(m−i)!) in exact integer division, no lgamma, no
  folds.
* ``cox_stuart_trend`` — sign test for trend: day i vs day i+n/2 on
  the calendar-indexed daily-revenue frame; the assumption-free
  companion to ``mk_trend_test`` (MK weighs ALL pairs; Cox-Stuart
  only the half-series pairs, making it robust to autocorrelated
  middles).
* ``turning_points_test`` — randomness screen: count of strict local
  extrema vs the N(2(n−2)/3, (16n−29)/90) null; the complement to
  ``runs_test`` (runs sees level shifts, turning points sees
  oscillation).
* ``brunner_munzel`` — the nonparametric Behrens-Fisher test:
  P(X₂ > X₁) + ½P(=) estimated from $10-bucket histograms with
  DeLong placement variances per group — the heteroskedastic-safe
  replacement for Mann-Whitney when dispersions differ
  (``ansari_bradley`` tests that dispersion difference; this tests
  location WITHOUT assuming it away).

All statistics are exact integers or once-floored ppm quotients —
identical literals and floor placement in both engines.

Reference parity: beyond-reference statistics tier (the reference, a
petl→Postgres importer, has no test surface; SURVEY §2 'beyond' set).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql

#: floor(1e6 · χ²(df=1, α=0.05)) — shared literal convention (r8d/r8g)
_CHI2_DF1_E6 = 3_841_458


# ---------------------------------------------------------------------------
# wilcoxon_signed_rank
# ---------------------------------------------------------------------------


def _paired_months_sql() -> str:
    """Months present in BOTH 1997 and 1998 with their revenue (cents)
    — the paired frame (≤12 rows; the 1998 data ends mid-year, so the
    inner join keeps only genuinely paired months)."""
    return """
    m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders
      WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY year(o_orderdate), month(o_orderdate)
    ),
    paired AS (
      SELECT a.mo, CAST(b.rev - a.rev AS BIGINT) AS d
      FROM m a JOIN m b ON b.mo = a.mo AND a.yr = 1997 AND b.yr = 1998
    )"""


def _wilcoxon_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_paired_months_sql()},
    nz AS (SELECT d, abs(d) AS ad FROM paired WHERE d <> 0),
    h AS (SELECT ad, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cpos
          FROM nz GROUP BY ad),
    r AS (
      SELECT ad, c, cpos,
        2 * (sum(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
          + c + 1 AS r2
      FROM h
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(cpos * r2) AS BIGINT) AS w2_plus,
        CAST(sum(c * r2) AS BIGINT) AS sr2,
        CAST(sum(CAST(c AS {dialect.big}) * r2 * r2) AS {dialect.big}) AS sr2sq
      FROM r
    )
    SELECT n AS n_pairs, w2_plus,
      CAST(((2 * w2_plus - sr2) * (2 * w2_plus - sr2) * 1000000)
           {dialect.div}sr2sq AS BIGINT) AS z2_ppm,
      ((2 * w2_plus - sr2) * (2 * w2_plus - sr2) * 1000000)
        {dialect.div}sr2sq > {_CHI2_DF1_E6} AS reject_no_shift
    FROM s
    """


sql_query(
    "wilcoxon_signed_rank", _wilcoxon_sql, "orders",
    doc="""Wilcoxon signed-rank test on paired monthly revenue (1997 vs
    1998, paired by calendar month): zero differences dropped per the
    classic treatment, |d| ranked with DOUBLED midranks over the
    distinct-|d| frame (tie-exact integers), W₂⁺ = Σ_{{d>0}} R₂ᵢ.
    The variance is the EXACT conditional form Var(W₂⁺) = ΣR₂ᵢ²/4
    (under H₀ each pair contributes its rank with probability ½), so
    z² = (2W₂⁺ − ΣR₂)²/ΣR₂ᵢ² needs no tie-correction bolt-on — the
    midranks already carry it.

    Scale: one month aggregation (map-side combinable), then ≤12-row
    arithmetic; the rank window runs on the ≤12-row distinct-|d| frame.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# sign_test_paired
# ---------------------------------------------------------------------------

#: 0!..12! — exact literals shared by both engines (the binomial
#: numerators never exceed 12!, so no fold machinery is needed)
_FACTS = ", ".join(f"({j}, {__import__('math').factorial(j)})"
                   for j in range(13))


def _sign_sql(dialect: Dialect) -> str:
    shl = "shiftleft(1, CAST(s.m AS INT))" if dialect.spark else "(1 << s.m)"
    itab = (
        "SELECT CAST(i AS BIGINT) AS i FROM"
        " (SELECT explode(sequence(0, 12)) AS i)"
        if dialect.spark
        else "SELECT CAST(unnest(generate_series(0, 12)) AS BIGINT) AS i"
    )
    ftab = f"SELECT j, v FROM {dialect.values(_FACTS, 't(j, v)')}"
    return f"""
    WITH {_paired_months_sql()},
    s AS (
      SELECT CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS m,
        CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM paired
    ),
    binom AS (
      SELECT s.m, s.k, it.i,
        fm.v{dialect.div}(fi.v * fmi.v) AS c
      FROM s
      JOIN ({itab}) it ON it.i <= s.m
      JOIN ({ftab}) fm ON fm.j = s.m
      JOIN ({ftab}) fi ON fi.j = it.i
      JOIN ({ftab}) fmi ON fmi.j = s.m - it.i
    ),
    tails AS (
      SELECT m, k,
        CAST(sum(CASE WHEN i >= k THEN c ELSE 0 END) AS BIGINT) AS num_ge,
        CAST(sum(CASE WHEN i <= k THEN c ELSE 0 END) AS BIGINT) AS num_le
      FROM binom GROUP BY m, k
    )
    SELECT s.m AS n_nonzero, s.k AS n_positive,
      CAST(least(1000000,
        2 * ((least(t.num_ge, t.num_le) * 1000000){dialect.div}{shl}))
        AS BIGINT) AS p_two_sided_e6,
      least(1000000,
        2 * ((least(t.num_ge, t.num_le) * 1000000){dialect.div}{shl})) < 50000
        AS reject_at_5pct
    FROM s JOIN tails t ON t.m = s.m AND t.k = s.k
    """


sql_query(
    "sign_test_paired", _sign_sql, "orders",
    doc="""Exact paired sign test on the same 1997-vs-1998 monthly revenue
    pairs as ``wilcoxon_signed_rank`` — the two together are the paired
    decision pair (sign test assumes NOTHING about the difference
    distribution; Wilcoxon adds symmetry and buys power).  The exact
    two-sided p-value 2·min(P(X≤k), P(X≥k)) under Binomial(m, ½) is
    assembled from a 13-row factorial literal table: C(m,i) =
    m!/(i!(m−i)!) is exact integer division, 2^m is an integer shift —
    no lgamma, no float powers, bit-identical across engines.

    Scale: the month aggregation is the only data-sized stage; the
    binomial table is 13 rows by construction.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# cox_stuart_trend
# ---------------------------------------------------------------------------


def _cox_stuart_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, y
      FROM day
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    pairs AS (
      SELECT a.y AS y1, b.y AS y2
      FROM idx a
      JOIN n ON true
      JOIN idx b ON b.i = a.i + (n.n + 1){dialect.div}2
      WHERE a.i <= n.n{dialect.div}2
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN y2 <> y1 THEN 1 ELSE 0 END) AS BIGINT)
               AS m,
        CAST(sum(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT) AS s_pos
      FROM pairs
    )
    SELECT m AS n_untied_pairs, s_pos AS n_increases,
      CAST((greatest(abs(2 * s_pos - m) - 1, 0)
            * greatest(abs(2 * s_pos - m) - 1, 0) * 1000000)
           {dialect.div}m AS BIGINT) AS z2_ppm,
      (greatest(abs(2 * s_pos - m) - 1, 0)
       * greatest(abs(2 * s_pos - m) - 1, 0) * 1000000)
        {dialect.div}m > {_CHI2_DF1_E6} AS reject_no_trend
    FROM s
    """


sql_query(
    "cox_stuart_trend", _cox_stuart_sql, "orders",
    doc="""Cox-Stuart trend test on daily revenue: day i paired with day
    i + n/2 (position on the calendar-indexed frame), S⁺ = #(later >
    earlier) among untied pairs, continuity-corrected z² =
    (|2S⁺−m|−1)²/m vs χ²₁ — a sign test against Binomial(m, ½).
    ``mk_trend_test`` weighs ALL O(n²) pairs and detects monotone
    trend with more power; Cox-Stuart reads only the half-offset
    pairs, making it the quick, autocorrelation-tolerant screen.

    Scale: the row_number index runs on the calendar-day frame
    (BOUNDED_FRAME_AUDITED class); the pair join is an equi-join on
    the offset index.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# turning_points_test
# ---------------------------------------------------------------------------


def _turning_points_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, y
      FROM day
    ),
    trip AS (
      SELECT a.y AS y0, b.y AS y1, c.y AS y2
      FROM idx a
      JOIN idx b ON b.i = a.i + 1
      JOIN idx c ON c.i = a.i + 2
    ),
    s AS (
      SELECT CAST(count(*) + 2 AS BIGINT) AS n,
        CAST(sum(CASE WHEN (y1 - y0) * (y2 - y1) < 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS tp
      FROM trip
    )
    SELECT n AS n_days, tp AS n_turning_points,
      CAST(2 * (n - 2) AS BIGINT) * 1000000{dialect.div}3 AS expected_tp_e6,
      CAST(((3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) * 10000000)
           {dialect.div}(16 * n - 29) AS BIGINT) AS z2_ppm,
      ((3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) * 10000000)
        {dialect.div}(16 * n - 29) > {_CHI2_DF1_E6} AS reject_randomness
    FROM s
    """


sql_query(
    "turning_points_test", _turning_points_sql, "orders",
    doc="""Turning-points randomness test on daily revenue: T = count of
    strict local extrema (sign change between consecutive deltas —
    flats excluded), compared against the i.i.d. null T ~
    N(2(n−2)/3, (16n−29)/90).  z² is assembled denominator-free:
    (T − μ)²/σ² = (3T − 2(n−2))²·10/(16n−29), one ppm floor.
    ``runs_test`` catches level shifts against the median;
    turning points catch over- and under-oscillation (negative or
    positive autocorrelation) the median split can't see.

    Scale: consecutive triples via two equi-joins on the calendar
    index (BOUNDED_FRAME_AUDITED class), one aggregation row out.

    Reference parity: beyond-reference statistics tier.""",
)

# ---------------------------------------------------------------------------
# brunner_munzel + cliffs_delta_effect (shared $10-bucket histogram device)
# ---------------------------------------------------------------------------

_BM_SEG_A = "BUILDING"
_BM_SEG_B = "MACHINERY"


def _two_group_hist_sql(dialect: Dialect) -> str:
    """$10-bucket value histograms for the two market segments, full
    frame with both groups' counts and strictly-less cumulatives — the
    dunn/ansari midrank device specialized to two groups.  The window
    runs over the DISTINCT-bucket frame (price-range-bounded, the
    BOUNDED_FRAME_AUDITED class)."""
    return f"""
    ov AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT){dialect.div}1000 AS v,
        c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{_BM_SEG_A}', '{_BM_SEG_B}')
    ),
    h AS (
      SELECT CAST(v AS BIGINT) AS v,
        CAST(sum(CASE WHEN seg = '{_BM_SEG_A}' THEN 1 ELSE 0 END)
             AS BIGINT) AS c1,
        CAST(sum(CASE WHEN seg = '{_BM_SEG_B}' THEN 1 ELSE 0 END)
             AS BIGINT) AS c2
      FROM ov GROUP BY 1
    ),
    cum AS (
      SELECT v, c1, c2,
        sum(c1) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c1
          AS lt1,
        sum(c2) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c2
          AS lt2
      FROM h
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM h
    )"""


def _bm_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    pl AS (
      SELECT v, c1, c2,
        2 * lt1 + c1 AS p2_vs1,
        2 * lt2 + c2 AS p2_vs2
      FROM cum
    ),
    s AS (
      SELECT
        CAST(sum(CAST(c1 AS {dialect.big}) * p2_vs2) AS {dialect.big}) AS m2_1,
        CAST(sum(CAST(c1 AS {dialect.big}) * p2_vs2 * p2_vs2) AS {dialect.big}) AS q2_1,
        CAST(sum(CAST(c2 AS {dialect.big}) * p2_vs1) AS {dialect.big}) AS m2_2,
        CAST(sum(CAST(c2 AS {dialect.big}) * p2_vs1 * p2_vs1) AS {dialect.big}) AS q2_2
      FROM pl
    ),
    fin AS (
      SELECT t.n1, t.n2,
        CAST((s.m2_2 * 1000000){dialect.div}(2 * CAST(t.n1 AS {dialect.big}) * t.n2)
             AS BIGINT) AS p_hat_ppm,
        CAST(((t.n1 * s.q2_1 - s.m2_1 * s.m2_1) * 1000000000000)
             {dialect.div}(CAST(t.n1 AS {dialect.big}) * (t.n1 - 1) * 4
                   * CAST(t.n2 AS {dialect.big}) * t.n2 * t.n1)
          + ((t.n2 * s.q2_2 - s.m2_2 * s.m2_2) * 1000000000000)
             {dialect.div}(CAST(t.n2 AS {dialect.big}) * (t.n2 - 1) * 4
                   * CAST(t.n1 AS {dialect.big}) * t.n1 * t.n2)
          AS BIGINT) AS var_e12
      FROM tot t CROSS JOIN s
    )
    SELECT n1, n2, p_hat_ppm, var_e12,
      CAST(((p_hat_ppm - 500000) * (p_hat_ppm - 500000) * 1000000)
           {dialect.div}var_e12 AS BIGINT) AS z2_ppm,
      ((p_hat_ppm - 500000) * (p_hat_ppm - 500000) * 1000000)
        {dialect.div}var_e12 > {_CHI2_DF1_E6} AS reject_stochastic_equality
    FROM fin
    """


sql_query(
    "brunner_munzel", _bm_sql, "orders", "customer",
    doc="""Brunner-Munzel / DeLong test of stochastic equality between
    BUILDING and MACHINERY order values: p̂ = P(X₂ > X₁) + ½P(=) from
    $10-bucket histograms (doubled placements 2·#less + #equal — the
    tie-exact integer device), variance from the PER-GROUP placement
    variances (DeLong components), so unequal dispersions — exactly
    what ``ansari_bradley`` detects between these segments — don't
    invalidate the test the way they do Mann-Whitney's pooled
    variance.  z² = (p̂ − ½)²/V̂ vs χ²₁, everything staged integer.

    Scale: one histogram aggregation; the placement window runs on the
    DISTINCT $10-bucket frame (price-range-bounded); output is 1 row.

    Reference parity: beyond-reference statistics tier.""",
)


def _cliffs_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    s AS (
      SELECT
        CAST(sum(CAST(c1 AS {dialect.big}) * lt2) AS {dialect.big}) AS n_gt,
        CAST(sum(CAST(c2 AS {dialect.big}) * lt1) AS {dialect.big}) AS n_lt
      FROM cum
    )
    SELECT t.n1, t.n2,
      CAST(((s.n_gt - s.n_lt) * 1000000)
           {dialect.div}(CAST(t.n1 AS {dialect.big}) * t.n2) AS BIGINT) AS delta_ppm,
      CASE
        WHEN abs(((s.n_gt - s.n_lt) * 1000000)
                 {dialect.div}(CAST(t.n1 AS {dialect.big}) * t.n2)) < 147000
          THEN 'negligible'
        WHEN abs(((s.n_gt - s.n_lt) * 1000000)
                 {dialect.div}(CAST(t.n1 AS {dialect.big}) * t.n2)) < 330000
          THEN 'small'
        WHEN abs(((s.n_gt - s.n_lt) * 1000000)
                 {dialect.div}(CAST(t.n1 AS {dialect.big}) * t.n2)) < 474000
          THEN 'medium'
        ELSE 'large'
      END AS magnitude
    FROM tot t CROSS JOIN s
    """


sql_query(
    "cliffs_delta_effect", _cliffs_sql, "orders", "customer",
    doc="""Cliff's delta effect size between BUILDING and MACHINERY order
    values: δ = (#(x₁>x₂) − #(x₁<x₂))/(n₁n₂), the ordinal effect
    measure that p-value tests (``welch_t_test``, ``brunner_munzel``)
    deliberately don't report — at these row counts everything is
    "significant"; δ says whether it MATTERS.  The O(n₁n₂) pair count
    collapses to Σ c₁(v)·#less₂(v) via the strictly-less cumulative
    over the $10-bucket histogram — exact integers, no pair expansion.
    Thresholds 0.147/0.33/0.474 are the standard Romano bands.

    Scale: one histogram aggregation + the bounded-frame cumulative;
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# hodges_lehmann_shift
# ---------------------------------------------------------------------------


def _hl_sql(dialect: Dialect) -> str:
    # the diff cross is bounded (B×B histogram buckets) — broadcast the
    # smaller histogram so the plan is a BNL join, not a CartesianProduct
    hint = dialect.broadcast("h2")
    return f"""
    WITH ov AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT){dialect.div}100000 AS b,
        c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{_BM_SEG_A}', '{_BM_SEG_B}')
    ),
    h1 AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM ov
           WHERE seg = '{_BM_SEG_A}' GROUP BY b),
    h2 AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM ov
           WHERE seg = '{_BM_SEG_B}' GROUP BY b),
    diffs AS (
      SELECT {hint}h1.b - h2.b AS d,
        CAST(sum(CAST(h1.c AS {dialect.big}) * h2.c) AS {dialect.big}) AS w
      FROM h1 CROSS JOIN h2
      GROUP BY h1.b - h2.b
    ),
    tot AS (SELECT CAST(sum(w) AS {dialect.big}) AS t FROM diffs),
    cw AS (
      SELECT d, sum(w) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM diffs
    )
    SELECT CAST(tot.t AS BIGINT) AS n_pairs,
      CAST(min(cw.d) AS BIGINT) AS hl_shift_bucket,
      CAST(min(cw.d) * 100000 AS BIGINT) AS hl_shift_cents
    FROM cw CROSS JOIN tot
    WHERE cw.cum >= (tot.t + 1){dialect.div}2
    GROUP BY tot.t
    """


sql_query(
    "hodges_lehmann_shift", _hl_sql, "orders", "customer",
    doc="""Hodges-Lehmann location-shift estimator between BUILDING and
    MACHINERY order values: the median of all n₁·n₂ pairwise
    differences — the robust EFFECT SIZE in dollars that the rank
    tests' p-values don't give.  Values coarsen to $1000 buckets
    (the ``mood_median_test`` granularity), so the difference
    distribution is ≤2B² weighted rows computed as a bounded
    histogram cross — the n₁·n₂ pair space never materializes — and
    the weighted median is the smallest d whose cumulative weight
    reaches ⌈(T+1)/2⌉ (rank-defined, no interpolation).

    Scale: two histogram aggregations, a B×B bounded cross
    (B ≈ price-range/1000), one cumulative over the distinct-diff
    frame.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# kruskal_gamma + somers_d (shared value-cell contingency device)
# ---------------------------------------------------------------------------


def _ordinal_pairs_sql(dialect: Dialect) -> str:
    """Concordant/discordant/tied pair masses from the (discount,
    quantity) value-cell collapse — the ``kendall_tau_cells`` device,
    extended with the single-tie margins gamma and Somers' D need."""
    return f"""
    cells AS (
      SELECT l_discount AS d, l_quantity AS q,
        CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_discount, l_quantity
    ),
    pm AS (
      SELECT
        CAST(sum(CASE WHEN b.d > a.d AND b.q > a.q
                 THEN CAST(a.c AS {dialect.big}) * b.c ELSE 0 END) AS {dialect.big}) AS p,
        CAST(sum(CASE WHEN b.d > a.d AND b.q < a.q
                 THEN CAST(a.c AS {dialect.big}) * b.c ELSE 0 END) AS {dialect.big}) AS qd,
        CAST(sum(CASE WHEN b.d > a.d AND b.q = a.q
                 THEN CAST(a.c AS {dialect.big}) * b.c ELSE 0 END) AS {dialect.big}) AS ty,
        CAST(sum(CASE WHEN b.d = a.d AND b.q > a.q
                 THEN CAST(a.c AS {dialect.big}) * b.c ELSE 0 END) AS {dialect.big}) AS tx
      FROM cells a JOIN cells b
        ON b.d > a.d OR (b.d = a.d AND b.q > a.q)
    )"""


def _gamma_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_ordinal_pairs_sql(dialect)}
    SELECT CAST(p AS BIGINT) AS concordant,
      CAST(qd AS BIGINT) AS discordant,
      CAST(((p - qd) * 1000000){dialect.div}(p + qd) AS BIGINT) AS gamma_ppm
    FROM pm
    """


sql_query(
    "kruskal_gamma", _gamma_sql, "lineitem",
    doc="""Goodman-Kruskal gamma between discount and quantity:
    γ = (C − D)/(C + D) — the tie-EXCLUDING ordinal association,
    bracketing ``kendall_tau_cells``'s tau-a (which divides by ALL
    pairs and is dragged toward 0 by the massive tie mass of two
    coarse ordinal columns).  Pair masses come from cell-count
    products over the ≤11×50 value-cell collapse: C and D are exact
    integers, one ppm floor at the end.

    Scale: one cell aggregation (map-side combinable), then a
    bounded B² cell cross (B ≤ 550).  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


def _somers_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_ordinal_pairs_sql(dialect)}
    SELECT CAST(p AS BIGINT) AS concordant,
      CAST(qd AS BIGINT) AS discordant,
      CAST(ty AS BIGINT) AS tied_qty_only,
      CAST(tx AS BIGINT) AS tied_disc_only,
      CAST(((p - qd) * 1000000){dialect.div}(p + qd + ty) AS BIGINT)
        AS somers_d_qty_given_disc_ppm,
      CAST(((p - qd) * 1000000){dialect.div}(p + qd + tx) AS BIGINT)
        AS somers_d_disc_given_qty_ppm
    FROM pm
    """


sql_query(
    "somers_d", _somers_sql, "lineitem",
    doc="""Somers' D between discount and quantity, BOTH directions:
    D(y|x) = (C − D)/(C + D + T_y) penalizes ties on the DEPENDENT
    variable only — the asymmetric ordinal association underlying the
    concordance index (Somers' D of a binary outcome = 2·AUC − 1,
    tying this to ``auc_mann_whitney``).  Gamma (tie-excluding) and
    tau-a (all-pairs) from the sibling queries bracket it; reporting
    both directions makes the dependence asymmetry visible.  Same
    exact-integer cell-product device as ``kruskal_gamma``.

    Scale: identical to ``kruskal_gamma`` — bounded cell cross, 1 row.

    Reference parity: beyond-reference statistics tier.""",
)
