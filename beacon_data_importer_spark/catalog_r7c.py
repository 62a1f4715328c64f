"""Round-7 catalog tier (c): nonparametric and categorical test
batteries over the order/lineitem series —

* ``mk_trend_test`` — Mann-Kendall trend test on monthly revenue: the
  nonparametric significance companion of ``theil_sen_trend`` (which
  estimates the slope this test judges).  Tie-corrected variance, all
  integer, significance by cross-multiplication (no sqrt crosses an
  engine boundary).
* ``runs_test`` — Wald-Wolfowitz runs test of the daily revenue
  series' up/down pattern around an explicitly-ranked median: too few
  runs = regime persistence, too many = oscillation; either breaks the
  i.i.d. assumption every bootstrap/permutation query here relies on.
* ``kendall_tau_cells`` — Kendall tau-a between discount and quantity
  computed over the VALUE-CELL grid, not row pairs: 11×~50 distinct
  (discount, quantity) cells make C(cells,2) pair work instead of
  C(rows,2) — the contingency-collapse trick that keeps rank
  correlation feasible on discrete columns at any row count.
* ``mcnemar_test`` — paired-proportion test on customer purchase
  activity 1997 vs 1998 (same unit observed twice → the off-diagonal
  b/c cells carry all the signal; a two-sample test here would be
  wrong because the samples are the same customers).
* ``cramers_v`` — chi-square association + Cramér's V² for the
  returnflag × linestatus contingency, exact integers via the
  (O·n − r·c)² form (no per-cell expected-value division).
  catalog_r4.chi_square_independence reports per-cell TEST
  contributions; V² is the normalized EFFECT SIZE comparable across
  tables of different shape and n.
* ``grubbs_outlier`` — max-studentized-deviation outlier scan of
  daily revenue with a 4σ cross-multiplied flag; the argmax day is
  surfaced so the flagged point is auditable.

All six follow the established parity devices: cents, ppm floors with
identical placement, DECIMAL(38,0)/HUGEINT where a product exceeds
2^63, cross-multiplication instead of sqrt/division for comparisons.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query


# ---------------------------------------------------------------------------
# mk_trend_test
# ---------------------------------------------------------------------------


def _mk_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
    ),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
    s AS (
      SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM m a JOIN m b ON b.ym > a.ym
    ),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM m GROUP BY rev) g
      WHERE t > 1
    )
    SELECT st.n AS n_periods, s.s_stat,
      CAST(st.n * (st.n - 1) * (2 * st.n + 5) - ties.tie_term AS BIGINT)
        AS var_s_x18,
      CAST(CASE WHEN s.s_stat > 0 THEN 1
                WHEN s.s_stat < 0 THEN -1 ELSE 0 END AS INT) AS trend,
      (abs(s.s_stat) > 1 AND
       18 * (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 1000000
         > 3841600 * (st.n * (st.n - 1) * (2 * st.n + 5) - ties.tie_term))
        AS significant_95
    FROM stats st CROSS JOIN s CROSS JOIN ties
    """


sql_query(
    "mk_trend_test", _mk_sql, "orders",
    doc="""Mann-Kendall trend test on the monthly revenue series: S =
    Σ_{i<j} sign(rev_j − rev_i), tie-corrected variance kept as the
    exact ×18 integer numerator, and the 95% verdict via the
    continuity-corrected z cross-multiplied — 18·(|S|−1)²·1e6 >
    1.96²ppm·VarS×18 — so no sqrt or division ever crosses an engine
    boundary.  Complements ``theil_sen_trend``: that query estimates
    the slope, this one decides whether a monotone trend exists at
    all.

    One map-side-combinable aggregation to ~76 month rows; the pair
    join and tie census run on that bounded table.""",
)


# ---------------------------------------------------------------------------
# runs_test
# ---------------------------------------------------------------------------


def _runs_sql(dialect: Dialect) -> str:
    return f"""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    ranked AS (
      SELECT day, rev, row_number() OVER (ORDER BY rev, day) AS rn,
             count(*) OVER () AS n_all
      FROM d
    ),
    med AS (SELECT rev AS medv FROM ranked WHERE rn = (n_all + 1){dialect.div}2),
    signs AS (
      SELECT day, CASE WHEN rev > medv THEN 1 ELSE 0 END AS sg
      FROM d CROSS JOIN med WHERE rev <> medv
    ),
    runs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(sg) AS BIGINT) AS n1,
        CAST(count(*) - sum(sg) AS BIGINT) AS n2,
        CAST(1 + sum(CASE WHEN sg <> prev THEN 1 ELSE 0 END) AS BIGINT)
          AS r
      FROM (SELECT sg, lag(sg) OVER (ORDER BY day) AS prev FROM signs) t
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, r AS n_runs,
      CAST(CASE WHEN r * n > n + 2 * n1 * n2 THEN 1
                WHEN r * n < n + 2 * n1 * n2 THEN -1 ELSE 0 END AS INT)
        AS z_sign,
      (CAST(r * n - (n + 2 * n1 * n2) AS {dialect.big})
         * CAST(r * n - (n + 2 * n1 * n2) AS {dialect.big})
         * CAST(n - 1 AS {dialect.big}) * 1000000
       > CAST(3841600 AS {dialect.big}) * CAST(2 * n1 * n2 AS {dialect.big})
         * CAST(2 * n1 * n2 - n AS {dialect.big})) AS significant_95
    FROM runs
    """


sql_query(
    "runs_test", _runs_sql, "orders",
    doc="""Wald-Wolfowitz runs test: daily revenue classified above/below
    the series median (the median is DEFINED as the ((n+1) div 2)-th
    value under the total (rev, day) order — an explicit rank, not an
    engine's interpolating percentile; median-equal days are excluded
    per the textbook test), then the number of sign runs against its
    null expectation 1 + 2·n1·n2/n.  Verdict by cross-multiplication
    with A = R·n − (n + 2·n1·n2): A²(n−1)·1e6 > 1.96²ppm·2n1n2(2n1n2−n),
    in DECIMAL(38,0)/HUGEINT since A² alone tops 2^63.

    The day aggregation is the only full-data pass; ranking and the
    lag walk run over the timespan-bounded day series (the
    acf_daily_revenue shape).""",
)


# ---------------------------------------------------------------------------
# kendall_tau_cells
# ---------------------------------------------------------------------------


def _kendall_sql(dialect: Dialect) -> str:
    return f"""
    WITH cells AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
             CAST(round(l_quantity) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN a.x < b.x AND a.y < b.y
                      THEN CAST(a.c * b.c AS {dialect.big}) ELSE CAST(0 AS {dialect.big})
                 END) AS {dialect.big}) AS conc,
        CAST(sum(CASE WHEN a.x < b.x AND a.y > b.y
                      THEN CAST(a.c * b.c AS {dialect.big}) ELSE CAST(0 AS {dialect.big})
                 END) AS {dialect.big}) AS disc
      FROM cells a JOIN cells b
        ON a.x < b.x OR (a.x = b.x AND a.y < b.y)
    )
    SELECT t.n AS n_items,
      CAST(CAST(t.n AS {dialect.big}) * (t.n - 1){dialect.div}2 AS BIGINT) AS n_pairs,
      CAST(p.conc AS BIGINT) AS concordant,
      CAST(p.disc AS BIGINT) AS discordant,
      CAST(((p.conc - p.disc) * 1000000)
           {dialect.div} (CAST(t.n AS {dialect.big}) * (t.n - 1){dialect.div}2) AS BIGINT)
        AS tau_a_ppm
    FROM tot t CROSS JOIN pairs p
    """


sql_query(
    "kendall_tau_cells", _kendall_sql, "lineitem",
    doc="""Kendall tau-a between discount and quantity via the value-cell
    contingency collapse: rows aggregate to ≤ 11×50 (discount,
    quantity) cells first, and concordant/discordant mass comes from
    cell-pair products c_a·c_b — C(cells,2) work where the textbook
    statistic is C(rows,2), which is what makes rank correlation
    feasible at any row count when the columns are discrete.  Each
    unordered cell pair is visited once (lexicographic join
    condition); tau-a's denominator is all n(n−1)/2 pairs (ties count
    against correlation — the raw components are surfaced so tau-b is
    derivable downstream).  DECIMAL(38,0)/HUGEINT throughout: at
    data-lake row counts n(n−1)/2 itself exceeds 2^63.

    Complements ``spearman_rho`` (r06-proven): Spearman ranks the
    values, Kendall counts inversions — they disagree exactly when
    the association is non-monotone in the tails.""",
)


# ---------------------------------------------------------------------------
# mcnemar_test
# ---------------------------------------------------------------------------


def _mcnemar_sql(dialect: Dialect) -> str:
    return f"""
    WITH cust AS (
      SELECT o_custkey,
        max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS y97,
        max(CASE WHEN year(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS y98
      FROM orders GROUP BY o_custkey
    ),
    cellsq AS (
      SELECT CAST(sum(y97 * y98) AS BIGINT) AS n_both,
        CAST(sum(y97 * (1 - y98)) AS BIGINT) AS n_97_only,
        CAST(sum((1 - y97) * y98) AS BIGINT) AS n_98_only,
        CAST(sum((1 - y97) * (1 - y98)) AS BIGINT) AS n_neither
      FROM cust
    )
    SELECT n_both, n_97_only, n_98_only, n_neither,
      CAST(CASE WHEN n_97_only + n_98_only = 0 THEN 0
           ELSE ((abs(n_97_only - n_98_only) - 1)
                 * (abs(n_97_only - n_98_only) - 1) * 1000000)
                {dialect.div} (n_97_only + n_98_only) END AS BIGINT) AS chi2_ppm,
      (n_97_only + n_98_only > 0 AND abs(n_97_only - n_98_only) > 1 AND
       ((abs(n_97_only - n_98_only) - 1)
        * (abs(n_97_only - n_98_only) - 1) * 1000000)
       {dialect.div} (n_97_only + n_98_only) > 3841459) AS significant_95
    FROM cellsq
    """


sql_query(
    "mcnemar_test", _mcnemar_sql, "orders",
    doc="""McNemar's paired-proportion test: did customer purchase
    activity CHANGE between 1997 and 1998?  The same units are
    observed in both periods, so only the discordant cells (active-
    then-inactive vs inactive-then-active) are informative — a
    two-sample test on the marginal rates would ignore the pairing
    and overstate the evidence.  Continuity-corrected chi-square
    (|b−c|−1)²/(b+c) in ppm; 95% cut at the χ²₁ literal 3.841459.

    One groupBy over orders to customer-level flags, then a 1-row
    aggregate — two map-side-combinable shuffles total.""",
)


# ---------------------------------------------------------------------------
# cramers_v
# ---------------------------------------------------------------------------


def _cramers_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(count(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    rt AS (SELECT rf, CAST(sum(obs) AS BIGINT) AS rtot FROM o GROUP BY rf),
    ct AS (SELECT ls, CAST(sum(obs) AS BIGINT) AS ctot FROM o GROUP BY ls),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
    terms AS (
      SELECT CAST(sum(
        ((CAST(o.obs AS {dialect.big}) * n.n - CAST(rt.rtot AS {dialect.big}) * ct.ctot)
         * (CAST(o.obs AS {dialect.big}) * n.n - CAST(rt.rtot AS {dialect.big}) * ct.ctot)
         * 1000000)
        {dialect.div} (CAST(n.n AS {dialect.big}) * rt.rtot * ct.ctot)
      ) AS {dialect.big}) AS chi2n_ppm
      FROM o JOIN rt ON rt.rf = o.rf JOIN ct ON ct.ls = o.ls
      CROSS JOIN n
    )
    SELECT n.n AS n_items,
      CAST((SELECT count(*) FROM rt) AS INT) AS n_rows_dim,
      CAST((SELECT count(*) FROM ct) AS INT) AS n_cols_dim,
      -- Round-11 fix (caught by tools/stat_audit.py): the summed
      -- per-cell terms (O·n − r·c)²/(n·r·c) ARE chi-square already —
      -- the old extra div n.n emitted chi2/n (which is V² for this
      -- 2-level min-dim) as "chi2" and chi2/n² as "v2".  V² divides
      -- by n·(min(r,c) − 1).
      CAST(t.chi2n_ppm AS BIGINT) AS chi2_ppm,
      CAST(t.chi2n_ppm {dialect.div} (CAST(n.n AS {dialect.big})
           * (least((SELECT count(*) FROM rt),
                    (SELECT count(*) FROM ct)) - 1)) AS BIGINT)
        AS v2_ppm
    FROM terms t CROSS JOIN n
    """


sql_query(
    "cramers_v", _cramers_sql, "lineitem",
    doc="""Chi-square association + Cramér's V² for the returnflag ×
    linestatus contingency.  Each cell's term uses the cleared form
    (O·n − r·c)²/(n·r·c) — the expected count never materializes as a
    rounded intermediate, so the only flooring is the documented
    per-cell ppm floor.  χ²·n rides DECIMAL(38,0)/HUGEINT ((O·n)²
    tops 2^63 well before data-lake scale); V² = χ²/(n·min(r−1,c−1))
    divides by n once more since min(r−1, c−1) = 1 here (dimensions
    surfaced so the normalization is auditable).

    One aggregation to the ≤ 3×2 cell table; marginals and terms are
    broadcast-sized.""",
)


# ---------------------------------------------------------------------------
# grubbs_outlier
# ---------------------------------------------------------------------------


def _grubbs_sql(dialect: Dialect) -> str:
    return f"""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    st AS (
      SELECT CAST(count(*) AS {dialect.big}) AS n,
        CAST(sum(CAST(rev AS {dialect.big})) AS {dialect.big}) AS s,
        CAST(sum(CAST(rev AS {dialect.big}) * rev) AS {dialect.big}) AS q
      FROM d
    ),
    dev AS (
      SELECT day, rev,
        CAST(rev AS {dialect.big}) * st.n - st.s AS a,
        st.n AS n, st.s AS s, st.q AS q
      FROM d CROSS JOIN st
    ),
    top AS (
      SELECT day, rev, a, n, s, q,
        row_number() OVER (ORDER BY abs(a) DESC, day) AS rn
      FROM dev
    )
    SELECT day, rev AS revenue_cents,
      CAST((a * a * (n - 1) * 1000000) {dialect.div} (n * (n * q - s * s))
           AS BIGINT) AS g2_ppm,
      (a * a * (n - 1) > 16 * n * (n * q - s * s)) AS outlier_4sigma
    FROM top WHERE rn = 1
    """


sql_query(
    "grubbs_outlier", _grubbs_sql, "orders",
    doc="""Grubbs-style max-deviation outlier scan of daily revenue: the
    day with the largest |x − x̄| surfaces with its squared
    studentized deviation G² = A²(n−1)/(n(nΣx²−S²)) in ppm (A = x·n−S
    clears the mean's division) and a 4σ flag by pure integer
    cross-multiplication — A²(n−1) > 16·n·(nΣx²−S²) ⟺ G > 4.  A fixed
    σ-multiple is used instead of the n-dependent Grubbs critical
    value so the verdict needs no t-quantile at query time; G² itself
    is surfaced for any downstream cut.  DECIMAL(38,0)/HUGEINT
    throughout — A² alone reaches ~10²⁵ on this series.

    One aggregation to the day series, a 1-row moment broadcast, one
    bounded ranking.""",
)
