"""Round-11 catalog, tier 2 — inter-rater agreement and
method-comparison second wave.

The catalog's agreement reads so far are ``cohens_kappa`` (two raters,
nominal, unweighted), ``kendall_w_concordance`` (m rankings) and
``cronbach_alpha`` (multi-item reliability).  This tier adds the
missing classical instruments, all on two shared devices: the
per-customer (first-1997, first-1998) priority pair table (the
``bowker_symmetry_test`` device — "year 1997" and "year 1998" act as
two raters of the same customer), and the per-customer
(1997 revenue, 1998 revenue) paired-measurement frame ("two
instruments measuring the same quantity"):

* ``krippendorff_alpha_nominal`` — THE general-purpose reliability
  coefficient (handles any metric, missing data, many raters; here
  the 2-rater nominal specialization): α = 1 − D_o/D_e from the
  coincidence matrix — unlike Cohen's κ it is a function of the
  POOLED marginals, so rater-specific base-rate quirks don't
  manufacture agreement.
* ``gwet_ac1_agreement`` — Gwet's AC1, the "paradox-resistant" kappa:
  chance agreement is estimated from the probability a rater marks a
  category at random (π_c(1−π_c) weighting), so high-prevalence tables
  that drive κ toward 0 despite near-perfect raw agreement (the
  Feinstein-Cicchetti kappa paradox) read correctly.
* ``weighted_kappa_ordinal`` — Cohen's κ_w with LINEAR and QUADRATIC
  disagreement weights on the ordinal priority scale: near-misses
  (urgent→high) cost less than full flips (urgent→low); the
  quadratic form is algebraically the ICC of the ordinal scores.
* ``lins_ccc`` — Lin's concordance correlation coefficient between a
  customer's 1997 and 1998 revenue: ρ_c = 2s_xy/(s_x²+s_y²+(x̄−ȳ)²),
  Pearson's r times the bias-correction factor C_b — r measures
  tightness around ANY line, ρ_c around the 45° identity, which is
  what "do the two periods measure the same trait" actually asks.
* ``bland_altman_agreement`` — the limits-of-agreement read on the
  same pairs: mean difference (bias), SD of differences, LoA =
  bias ± 1.96·SD, and the count outside — the method-comparison
  standard that a correlation can't replace (r is blind to constant
  and proportional bias).
* ``deming_regression`` — errors-in-BOTH-variables regression
  (λ = 1): β = (s_yy−s_xx+√((s_yy−s_xx)²+4s_xy²))/(2s_xy) — the
  slope OLS cannot give when x carries error too (OLS attenuates
  toward 0); the calibration-comparison standard alongside
  Bland-Altman.

Every query ships with an independent numpy replay in
``tools/stat_audit.py`` (round-11 audit-first discipline).

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r10c import _priority_pairs_sql

#: floor(1e6 · z₀.₉₇₅) — the Bland-Altman LoA multiplier, ppm.
_Z975_E6 = 1_959_963


def _year_rev_pairs_sql(dialect: Dialect) -> str:
    """Per-customer (1997 revenue, 1998 revenue) in $10 units — the
    paired-measurement frame for CCC / Bland-Altman / Deming.  Only
    customers with orders in BOTH years survive (a method comparison
    needs both instruments' readings)."""
    return f"""
    yr AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS y,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT){dialect.div}1000 AS v
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY o_custkey, year(o_orderdate)
    ),
    pr AS (
      SELECT a.ck, a.v AS x, b.v AS y
      FROM yr a JOIN yr b ON b.ck = a.ck
      WHERE a.y = 1997 AND b.y = 1998
    )"""


# ---------------------------------------------------------------------------
# krippendorff_alpha_nominal
# ---------------------------------------------------------------------------


def _kripp_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_priority_pairs_sql()},
    co AS (
      -- coincidence matrix: each pair (a, b) adds 1 to o[a][b] and 1
      -- to o[b][a]; n = 2 * units
      SELECT p97 AS c1, p98 AS c2, CAST(count(*) AS BIGINT) AS m
      FROM pp GROUP BY p97, p98
    ),
    marg AS (
      SELECT c, CAST(sum(m) AS BIGINT) AS nc FROM (
        SELECT c1 AS c, m FROM co
        UNION ALL SELECT c2 AS c, m FROM co
      ) u GROUP BY c
    ),
    n AS (SELECT CAST(sum(nc) AS BIGINT) AS n FROM marg),
    dis AS (
      SELECT CAST(coalesce(sum(2 * m), 0) AS BIGINT) AS d_obs
      FROM co WHERE c1 <> c2
    ),
    de AS (
      -- sum over c != k of n_c*n_k = (sum n_c)^2 - sum n_c^2: the
      -- algebraic identity replaces the (tiny but flagged) <> pair
      -- join with one aggregate
      SELECT CAST(sum(CAST(nc AS {dialect.big})) * sum(CAST(nc AS {dialect.big}))
                  - sum(CAST(nc AS {dialect.big}) * nc) AS {dialect.big}) AS d_exp
      FROM marg
    )
    SELECT n.n{dialect.div}2 AS n_units,
      CAST((dis.d_obs * 1000000){dialect.div}n.n AS BIGINT) AS d_obs_e6,
      CAST((de.d_exp * 1000000){dialect.div}(CAST(n.n AS {dialect.big}) * (n.n - 1))
        AS BIGINT) AS d_exp_e6,
      CAST(1000000
        - (CAST(dis.d_obs AS {dialect.big}) * (n.n - 1) * 1000000)
          {dialect.div}de.d_exp AS BIGINT) AS alpha_e6
    FROM n CROSS JOIN dis CROSS JOIN de
    """


sql_query(
    "krippendorff_alpha_nominal", _kripp_sql, "orders",
    doc="""Krippendorff's alpha (nominal metric, 2 raters) for the
    1997-vs-1998 first-order priority of each customer: α = 1 −
    D_o/D_e, D_o the observed disagreement of the COINCIDENCE matrix
    (each customer contributes its pair in both orders; n = 2·units),
    D_e = Σ_{{c≠k}} n_c·n_k/(n(n−1)) the expected disagreement from the
    POOLED category frequencies.  The pooled-marginal null is the
    point of reaching for α over ``cohens_kappa``: κ credits a rater
    pair for having DIFFERENT base rates (independent-marginals null),
    α does not — and α generalizes unchanged to missing data and many
    raters.  α = 1 − D_o·(n−1)/D_e-sums is exact integer rational with
    one ppm floor per emitted column.

    Scale: the partitioned first-order window device
    (``_priority_pairs_sql``), then ≤25-cell frames.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# gwet_ac1_agreement
# ---------------------------------------------------------------------------


def _ac1_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_priority_pairs_sql()},
    co AS (
      SELECT p97, p98, CAST(count(*) AS BIGINT) AS m
      FROM pp GROUP BY p97, p98
    ),
    nn AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM co),
    k AS (
      SELECT CAST(count(DISTINCT c) AS BIGINT) AS k FROM (
        SELECT p97 AS c FROM co UNION SELECT p98 AS c FROM co
      ) u
    ),
    pa AS (
      SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS agree
      FROM co WHERE p97 = p98
    ),
    pi AS (
      -- pooled per-category mass: n_c(97) + n_c(98) out of 2n
      SELECT c, CAST(sum(m) AS BIGINT) AS nc FROM (
        SELECT p97 AS c, m FROM co UNION ALL SELECT p98 AS c, m FROM co
      ) u GROUP BY c
    ),
    pe AS (
      -- pe_gamma = 1/(K-1) * sum_c pi_c (1 - pi_c), pi_c = nc/(2n);
      -- exact over the common denominator (K-1) * 4n^2
      SELECT CAST(sum(CAST(nc AS {dialect.big}) * (2 * n.n - nc)) AS {dialect.big})
        AS pe_num
      FROM pi CROSS JOIN nn n
    )
    SELECT nn.n AS n_units, k.k AS n_categories,
      CAST((pa.agree * 1000000){dialect.div}nn.n AS BIGINT) AS pa_e6,
      CAST((pe.pe_num * 1000000)
           {dialect.div}((k.k - 1) * 4 * CAST(nn.n AS {dialect.big}) * nn.n)
        AS BIGINT) AS pe_gamma_e6,
      CAST(((CAST(pa.agree AS {dialect.big}) * (k.k - 1) * 4 * nn.n - pe.pe_num)
            * 1000000)
           {dialect.div}((k.k - 1) * 4 * CAST(nn.n AS {dialect.big}) * nn.n - pe.pe_num)
        AS BIGINT) AS ac1_e6
    FROM nn CROSS JOIN k CROSS JOIN pa CROSS JOIN pe
    """


sql_query(
    "gwet_ac1_agreement", _ac1_sql, "orders",
    doc="""Gwet's AC1 agreement between the 1997 and 1998 first-order
    priorities: AC1 = (p_a − p_e)/(1 − p_e) with the GWET chance term
    p_e = 1/(K−1)·Σ_c π_c(1−π_c), π_c the pooled category share.
    Built for the kappa paradox: when one category dominates, κ's
    product-of-marginals p_e → p_a and κ collapses toward 0 despite
    near-total raw agreement; Gwet's p_e instead models the chance a
    rater GUESSES a category, which vanishes exactly in those
    degenerate tables (Gwet 2008).  Reading κ (``cohens_kappa``), α
    (``krippendorff_alpha_nominal``) and AC1 side by side on the same
    table is the recommended practice — divergence localizes WHERE the
    marginals are doing the work.  Exact integer rationals over the
    common (K−1)·4n² denominator; one ppm floor per column.

    Scale: the partitioned first-order window device, ≤25-cell
    frames after.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# weighted_kappa_ordinal
# ---------------------------------------------------------------------------


def _wkappa_sql(dialect: Dialect) -> str:
    ordv = "CAST(substring({c}, 1, 1) AS BIGINT)"
    return f"""
    WITH {_priority_pairs_sql()},
    co AS (
      SELECT {ordv.format(c="p97")} AS i, {ordv.format(c="p98")} AS j,
        CAST(count(*) AS BIGINT) AS m
      FROM pp GROUP BY 1, 2
    ),
    nn AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM co),
    marg AS (
      SELECT i AS c, CAST(sum(m) AS BIGINT) AS r,
        CAST(0 AS BIGINT) AS cc
      FROM co GROUP BY i
      UNION ALL
      SELECT j AS c, CAST(0 AS BIGINT), CAST(sum(m) AS BIGINT)
      FROM co GROUP BY j
    ),
    rc AS (
      SELECT c, CAST(sum(r) AS BIGINT) AS r, CAST(sum(cc) AS BIGINT) AS cc
      FROM marg GROUP BY c
    ),
    obs AS (
      SELECT
        CAST(sum(abs(i - j) * m) AS {dialect.big}) AS dl_obs,
        CAST(sum((i - j) * (i - j) * m) AS {dialect.big}) AS dq_obs
      FROM co
    ),
    exp AS (
      -- expected disagreement over the literal 5x5 ordinal grid,
      -- equi-joined to the row/column margins (no cross join)
      SELECT
        CAST(sum(abs(g.i - g.j) * CAST(a.r AS {dialect.big}) * b.cc) AS {dialect.big})
          AS dl_exp,
        CAST(sum((g.i - g.j) * (g.i - g.j)
                 * CAST(a.r AS {dialect.big}) * b.cc) AS {dialect.big}) AS dq_exp
      FROM (VALUES (1, 1), (1, 2), (1, 3), (1, 4), (1, 5), (2, 1), (2, 2), (2, 3), (2, 4), (2, 5), (3, 1), (3, 2), (3, 3), (3, 4), (3, 5), (4, 1), (4, 2), (4, 3), (4, 4), (4, 5), (5, 1), (5, 2), (5, 3), (5, 4), (5, 5)) AS g(i, j)
      JOIN rc a ON a.c = g.i
      JOIN rc b ON b.c = g.j
    )
    SELECT nn.n AS n_units,
      CAST(1000000 - (obs.dl_obs * CAST(nn.n AS {dialect.big}) * 1000000)
           {dialect.div}exp.dl_exp AS BIGINT) AS kappa_linear_e6,
      CAST(1000000 - (obs.dq_obs * CAST(nn.n AS {dialect.big}) * 1000000)
           {dialect.div}exp.dq_exp AS BIGINT) AS kappa_quadratic_e6
    FROM nn CROSS JOIN obs CROSS JOIN exp
    """


sql_query(
    "weighted_kappa_ordinal", _wkappa_sql, "orders",
    doc="""Cohen's weighted kappa on the ordinal 5-level priority
    transition (1997 → 1998), linear and quadratic disagreement
    weights: κ_w = 1 − Σv_ij·o_ij / Σv_ij·e_ij with v = |i−j| (linear)
    or (i−j)² (quadratic) and e_ij = r_i·c_j/n.  The unweighted
    ``cohens_kappa`` scores urgent→high exactly as wrong as
    urgent→low; on an ORDERED scale the near-miss must cost less —
    and the quadratic form is algebraically an intraclass correlation
    of the scores (Fleiss-Cohen), tying this read to the reliability
    family.  The ordinal value is the priority's leading digit (the
    reference data's own encoding).  Exact integer rationals — the
    1/n in e_ij folds into a cross-multiplication — one ppm floor per
    kappa.

    Scale: partitioned first-order windows, then ≤25-cell and
    ≤5-row marginal frames.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# lins_ccc
# ---------------------------------------------------------------------------


def _ccc_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_year_rev_pairs_sql(dialect)},
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS sx,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS sy,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS syy,
        CAST(sum(CAST(x AS {dialect.big}) * y) AS {dialect.big}) AS sxy
      FROM pr
    ),
    c AS (
      SELECT n,
        n * sxy - sx * sy AS cxy,
        n * sxx - sx * sx AS cxx,
        n * syy - sy * sy AS cyy,
        (sx - sy) * (sx - sy) AS dmean2
      FROM m
    )
    SELECT n AS n_customers,
      CAST((2 * cxy * 1000000){dialect.div}(cxx + cyy + dmean2) AS BIGINT)
        AS ccc_e6,
      CAST(floor(CAST(cxy AS DOUBLE)
        / sqrt(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)) * 1e6)
        AS BIGINT) AS pearson_r_e6,
      CAST(floor(
        (2.0 * CAST(cxy AS DOUBLE) / (CAST(cxx AS DOUBLE) + CAST(cyy
          AS DOUBLE) + CAST(dmean2 AS DOUBLE)))
        / (CAST(cxy AS DOUBLE)
           / sqrt(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)))
        * 1e6) AS BIGINT) AS bias_correction_cb_e6
    FROM c
    """


sql_query(
    "lins_ccc", _ccc_sql, "orders",
    doc="""Lin's concordance correlation coefficient between each
    customer's 1997 and 1998 revenue ($10 units, both-years
    customers): ρ_c = 2s_xy/(s_x² + s_y² + (x̄−ȳ)²) = r·C_b.
    Pearson's r rewards tightness around ANY line; ρ_c only around
    the 45° identity through the origin shift — so a systematic
    year-over-year drift (price inflation, churn asymmetry) lowers
    ρ_c while r stays high, and the emitted C_b = ρ_c/r isolates
    exactly that accuracy loss (precision·accuracy decomposition,
    Lin 1989).  ρ_c is an exact integer rational over the
    n-cross-multiplied moments (one ppm floor); r and C_b each take
    one float sqrt on exact integers.

    Scale: one year-filtered custkey aggregate (hash-balanced) and a
    self-join on ck (both sides pre-aggregated, co-partitioned), then
    a 1-row moment reduction.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# bland_altman_agreement
# ---------------------------------------------------------------------------


def _ba_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_year_rev_pairs_sql(dialect)},
    d AS (SELECT ck, x - y AS d FROM pr),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(d AS {dialect.big})) AS {dialect.big}) AS sd1,
        CAST(sum(CAST(d AS {dialect.big}) * d) AS {dialect.big}) AS sd2
      FROM d
    ),
    lim AS (
      SELECT n, sd1, sd2,
        CAST((sd1 * 100){dialect.div}n AS BIGINT) AS bias_e2,
        CAST(floor(sqrt(
          (CAST(sd2 AS DOUBLE) * n - CAST(sd1 AS DOUBLE)
           * CAST(sd1 AS DOUBLE))
          / (CAST(n AS DOUBLE) * (n - 1))) * 100) AS BIGINT) AS sd_e2
      FROM m
    ),
    loa AS (
      SELECT n, bias_e2, sd_e2,
        bias_e2 - ({_Z975_E6} * sd_e2){dialect.div}1000000 AS loa_lo_e2,
        bias_e2 + ({_Z975_E6} * sd_e2){dialect.div}1000000 AS loa_hi_e2
      FROM lim
    )
    SELECT loa.n AS n_customers, loa.bias_e2, loa.sd_e2,
      loa.loa_lo_e2, loa.loa_hi_e2,
      CAST((SELECT count(*) FROM d CROSS JOIN loa l2
            WHERE d.d * 100 < l2.loa_lo_e2
               OR d.d * 100 > l2.loa_hi_e2) AS BIGINT) AS n_outside_loa
    FROM loa
    """


sql_query(
    "bland_altman_agreement", _ba_sql, "orders",
    doc="""Bland-Altman limits of agreement between 1997 and 1998
    per-customer revenue: bias = mean(x−y), SD of the differences,
    LoA = bias ± 1.96·SD, and the count of customers outside the
    limits (≈5% under normal differences — a materially larger count
    reads "the two periods do not measure one stable trait").  The
    method-comparison companion ``lins_ccc`` cannot replace: a high
    correlation coexists with a constant offset or a fanning spread,
    which land exactly in bias and SD here (Bland & Altman 1986).
    The variance uses the exact n·Σd²−(Σd)² cross-multiplication;
    one float sqrt; the LoA gate comparison is integer (d·100 vs
    e2 limits).

    Scale: the paired-years frame, one moment row, one counting pass
    against broadcast scalar limits.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# deming_regression
# ---------------------------------------------------------------------------


def _deming_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_year_rev_pairs_sql(dialect)},
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS sx,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS sy,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS syy,
        CAST(sum(CAST(x AS {dialect.big}) * y) AS {dialect.big}) AS sxy
      FROM pr
    ),
    c AS (
      SELECT n,
        CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
        CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
        CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM m
    )
    SELECT n AS n_customers,
      CAST(floor((cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                   + 4.0 * cxy * cxy))
                 / (2.0 * cxy) * 1e6) AS BIGINT) AS deming_slope_e6,
      CAST(floor((syd - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                          + 4.0 * cxy * cxy))
                        / (2.0 * cxy) * sxd)
                 / n * 100) AS BIGINT) AS deming_intercept_e2,
      CAST(floor(cxy / cxx * 1e6) AS BIGINT) AS ols_slope_e6
    FROM c
    """


sql_query(
    "deming_regression", _deming_sql, "orders",
    doc="""Deming regression (errors-in-both-variables, error-variance
    ratio λ = 1) of 1998 on 1997 per-customer revenue: β =
    (s_yy − s_xx + √((s_yy−s_xx)² + 4s_xy²))/(2s_xy), the
    total-least-squares slope, with the OLS slope alongside.  When x
    is measured with error — and a customer's 1997 revenue is as
    noisy an estimate of their "true size" as 1998's — OLS attenuates
    β toward zero by the reliability ratio; Deming's orthogonal fit
    is the unbiased calibration line (the clinical-chemistry
    standard, pairing with ``bland_altman_agreement``).  Moments are
    exact cross-multiplied integers; the slope takes one sqrt in a
    fixed scalar expression, floored once per output.

    Scale: paired-years frame, one moment aggregation.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
