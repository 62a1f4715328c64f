"""Round-10 catalog, tier 7 — dependence, concordance, and internal
consistency second wave.  The first-wave dependence family
(``spearman_rho``, ``kendall_tau_b``, ``chatterjee_xi``,
``distance_cov_audit``-style screens) reads MONOTONE or rank-functional
association; this tier adds the estimators that see what those miss —
non-monotone dependence, quadrant dependence, location-scale
alternatives, and multi-item reliability:

* ``hoeffding_d`` — Hoeffding's D (Hollander-Wolfe 30× scaling):
  detects ANY dependence with a nonzero probability mass deviation,
  including the non-monotone shapes every correlation coefficient
  misses.  All-integer from ranks and the pairwise "both-smaller"
  counts over the calendar-bounded daily frame.
* ``distance_correlation_lite`` — Székely's distance covariance /
  correlation on the (t, y) daily series, the energy-statistics
  dependence measure.  The n² pairwise |Δ| sums reduce to one
  bounded cross of the day frame; reported as dcor⁴ (the all-integer
  form that avoids a cross-engine float sqrt).
* ``blomqvist_beta`` — the medial (quadrant) correlation: sign
  agreement around the (median t, median y) center, the 50%-breakdown
  dependence read.
* ``spearman_footrule`` — Diaconis-Graham footrule distance between
  the time order and the revenue order, with the 1 − 3F/(n²−1)
  normalized similarity.
* ``mann_kendall_test`` — THE standard nonparametric trend test
  (S statistic, tie-corrected variance, continuity-corrected z),
  completing the trend family: ``cox_stuart_trend`` (sign pairs),
  ``theil_sen_trend`` (slope magnitude), MK (significance gate).
* ``cucconi_test`` — the two-sample location-scale test that predates
  and often beats Lepage: squared-rank and squared-contrary-rank
  statistics U, V combined through their exact correlation ρ;
  P(C > c) = e^(−c) asymptotically, so the 5% gate is ln 20.
* ``cronbach_alpha`` — internal-consistency reliability of the
  3-tertile per-customer revenue profile (k/(k−1))(1 − Σσᵢ²/σ²_tot),
  the classical multi-item agreement read, exact rational arithmetic.
* ``stuart_tau_c`` — the rectangular-table member of the tau family
  (tau-a ``kendall_tau_cells``, tau-b ``kendall_tau_b``, gamma
  ``kruskal_gamma``, Somers' D): 2m(P−Q)/(N²(m−1)) from the SAME
  cell-product device.

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .catalog_r8d import _day_sql
from .catalog_r9a import _ordinal_pairs_sql, _two_group_hist_sql
from .sources.parquet import register_views

#: floor(1e6 · z₀.₉₇₅) — two-sided 5% normal gate (Mann-Kendall z).
_Z975_E6 = 1_959_963
#: floor(1e6 · ln 20) — 5% gate for Cucconi's C (P(C>c) = e^(−c)).
_CUCCONI_CRIT_E6 = 2_995_732


# ---------------------------------------------------------------------------
# hoeffding_d
# ---------------------------------------------------------------------------


def _hoeffding_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    rk AS (
      SELECT t, y,
        row_number() OVER (ORDER BY t) AS r,
        row_number() OVER (ORDER BY y, t) AS s
      FROM day
    ),
    q AS (
      SELECT b.r, b.s, CAST(count(a.t) AS BIGINT) AS c
      FROM rk b LEFT JOIN rk a
        ON a.t < b.t AND (a.y < b.y OR (a.y = b.y AND a.t < b.t))
      GROUP BY b.r, b.s
    ),
    sums AS (
      SELECT
        CAST(sum(c * (c - 1)) AS BIGINT) AS d1,
        CAST(sum(CAST((r - 1) * (r - 2) AS {dialect.big}) * (s - 1) * (s - 2))
             AS {dialect.big}) AS d2,
        CAST(sum(CAST((r - 2) * (s - 2) AS {dialect.big}) * c) AS {dialect.big}) AS d3
      FROM q
    )
    SELECT n.n AS n_days, s.d1 AS d1, CAST(s.d2 AS BIGINT) AS d2,
      CAST(s.d3 AS BIGINT) AS d3,
      CAST((CAST((n.n - 2) * (n.n - 3) AS {dialect.big}) * s.d1
            + s.d2 - 2 * (n.n - 2) * s.d3) * 30000000
           {dialect.div}(CAST(n.n AS {dialect.big}) * (n.n - 1) * (n.n - 2)
                 * (n.n - 3) * (n.n - 4))
        AS BIGINT) AS hoeffding_d_e6
    FROM sums s CROSS JOIN n
    """


sql_query(
    "hoeffding_d", _hoeffding_sql, "orders",
    doc="""Hoeffding's D between day index and daily revenue, the
    dependence test with power against ALL alternatives (including the
    non-monotone shapes rho/tau/xi miss).  Hollander-Wolfe computing
    form, 30× scaling so D ∈ [−0.5, 1]:

      D = 30·[(n−2)(n−3)·D1 + D2 − 2(n−2)·D3] / [n(n−1)…(n−4)],
      D1 = Σ cᵢ(cᵢ−1),  D2 = Σ (Rᵢ−1)(Rᵢ−2)(Sᵢ−1)(Sᵢ−2),
      D3 = Σ (Rᵢ−2)(Sᵢ−2)cᵢ,

    with cᵢ = #{j : tⱼ < tᵢ AND yⱼ ≺ yᵢ}.  "Lite" tie convention:
    ranks AND the cᵢ counts use the deterministic (y, t) lexicographic
    order (daily revenue sums are essentially distinct; both engines
    and the brute replay walk the identical order), so D is exact
    integer arithmetic end-to-end — one ppm floor at the output.

    Scale: the cᵢ count join is C(days, 2)-bounded (calendar-bounded,
    the theil_sen class), never data-sized; the two global-order rank
    windows run on the n-day frame (BOUNDED_FRAME_AUDITED).  The only
    volume-bearing exchange is the daily aggregate (map-side
    combinable).  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# distance_correlation_lite
# ---------------------------------------------------------------------------


def _dcor_sql(dialect: Dialect, par: int | None = None) -> str:
    # par: parallelize the exact-integer pair expansion (see
    # catalog_r10a._sn_sql; r11 round, guide §2)
    src = (f"(SELECT /*+ REPARTITION({par}) */ * FROM day)"
           if par else "day")
    hint = dialect.broadcast("b")
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    p AS (
      SELECT {hint}a.t AS i,
        CAST(abs(a.t - b.t) AS BIGINT) AS da,
        CAST(abs(a.y - b.y) AS BIGINT) AS db
      FROM {src} a CROSS JOIN day b
    ),
    rowsum AS (
      SELECT i,
        CAST(sum(da) AS BIGINT) AS ra,
        CAST(sum(db) AS BIGINT) AS rb,
        CAST(sum(CAST(da AS {dialect.big}) * db) AS {dialect.big}) AS sab,
        CAST(sum(CAST(da AS {dialect.big}) * da) AS {dialect.big}) AS saa,
        CAST(sum(CAST(db AS {dialect.big}) * db) AS {dialect.big}) AS sbb
      FROM p GROUP BY i
    ),
    g AS (
      SELECT
        CAST(sum(CAST(ra AS {dialect.big})) AS {dialect.big}) AS sa,
        CAST(sum(CAST(rb AS {dialect.big})) AS {dialect.big}) AS sb,
        CAST(sum(sab) AS {dialect.big}) AS sab,
        CAST(sum(saa) AS {dialect.big}) AS saa,
        CAST(sum(sbb) AS {dialect.big}) AS sbb,
        CAST(sum(CAST(ra AS {dialect.big}) * rb) AS {dialect.big}) AS srarb,
        CAST(sum(CAST(ra AS {dialect.big}) * ra) AS {dialect.big}) AS srara,
        CAST(sum(CAST(rb AS {dialect.big}) * rb) AS {dialect.big}) AS srbrb
      FROM rowsum
    ),
    moments AS (
      SELECT n.n AS n,
        CAST(n.n AS {dialect.big}) * n.n * g.sab + g.sa * g.sb
          - 2 * n.n * g.srarb AS ncov,
        CAST(n.n AS {dialect.big}) * n.n * g.saa + g.sa * g.sa
          - 2 * n.n * g.srara AS nx,
        CAST(n.n AS {dialect.big}) * n.n * g.sbb + g.sb * g.sb
          - 2 * n.n * g.srbrb AS ny
      FROM g CROSS JOIN n
    )
    SELECT n AS n_days,
      CAST((ncov * 1000000)
           {dialect.div}(CAST(n AS {dialect.big}) * n * n * n) AS BIGINT) AS dcov2_e6,
      CAST(floor(1000000 * (CAST(ncov AS DOUBLE) / CAST(nx AS DOUBLE))
                 * (CAST(ncov AS DOUBLE) / CAST(ny AS DOUBLE)))
        AS BIGINT) AS dcor4_e6
    FROM moments
    """


@query(
    "distance_correlation_lite", oracle=_dcor_sql(DUCK)
)
def q_distance_correlation_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Székely-Rizzo distance covariance/correlation between day index
    and daily revenue — the energy-statistics dependence measure that
    is zero IFF independent (in the population).  The V-statistic form
    over all n² pairs reduces to three pair-sums:

      n⁴·dCov²  = n²·Σaᵢⱼbᵢⱼ + (Σa)(Σb) − 2n·Σᵢ(Σⱼaᵢⱼ)(Σⱼbᵢⱼ),

    same shape for dVar²(t) and dVar²(y).  Reported as dcov2_e6 (exact
    integer — the numerator stays in DECIMAL(38)/HUGEINT) and
    dcor4_e6 = (dCov²)²/(dVar²ₓ·dVar²ᵧ) — dCor⁴ rather than dCor², so
    no sqrt is needed; the final two-ratio product is the ONE double
    step (ncov² · 1e6 overflows even INT128 at sf0.01 — measured, not
    guessed), written as (ncov/nx)·(ncov/ny) so each factor is a
    small-magnitude portable double.  dCor = (dcor4/1e6)^(1/4).

    Scale: the pair frame is the n² cross of the CALENDAR-bounded day
    aggregate (~14.6k rows at every SF — broadcast-hinted, never a
    CartesianProduct of data-sized inputs); row sums then one 1-row
    aggregate.  DECIMAL(38)/HUGEINT holds the ≤1e35 intermediate.

    Reference parity: beyond-reference statistics tier."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        _dcor_sql(SPARK, par=spark.sparkContext.defaultParallelism)
    )


# ---------------------------------------------------------------------------
# blomqvist_beta
# ---------------------------------------------------------------------------


def _blomqvist_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    rk AS (
      SELECT t, y,
        row_number() OVER (ORDER BY t) AS rt,
        row_number() OVER (ORDER BY y, t) AS ry
      FROM day
    ),
    med AS (
      SELECT
        max(CASE WHEN rk.rt = (n.n + 1){dialect.div}2 THEN rk.t END) AS mt,
        max(CASE WHEN rk.ry = (n.n + 1){dialect.div}2 THEN rk.y END) AS my
      FROM rk CROSS JOIN n
    ),
    cnt AS (
      SELECT
        CAST(sum(CASE WHEN (day.t > med.mt AND day.y > med.my)
                        OR (day.t < med.mt AND day.y < med.my)
                 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        CAST(sum(CASE WHEN (day.t > med.mt AND day.y < med.my)
                        OR (day.t < med.mt AND day.y > med.my)
                 THEN 1 ELSE 0 END) AS BIGINT) AS disc
      FROM day CROSS JOIN med
    )
    SELECT n.n AS n_days, cnt.conc AS concordant, cnt.disc AS discordant,
      CAST(((cnt.conc - cnt.disc) * 1000000){dialect.div}(cnt.conc + cnt.disc)
        AS BIGINT) AS beta_e6
    FROM cnt CROSS JOIN n
    """


sql_query(
    "blomqvist_beta", _blomqvist_sql, "orders",
    doc="""Blomqvist's beta (the medial correlation): sign agreement of
    (t − med t, y − med y) quadrants, β = (n₁ − n₂)/(n₁ + n₂).  The
    50%-breakdown dependence coefficient — one wild day cannot move it
    — and the natural robust companion to ``blomqvist``-free rho/tau.
    Low-median convention for both centers (the house order-statistic
    rule); points ON either median are excluded by the strict
    inequalities ("lite" convention, documented; the calendar t median
    always drops exactly the center day for odd n).

    Scale: two bounded global-order rank windows on the calendar-day
    frame (BOUNDED_FRAME_AUDITED), one broadcastable 1-row median
    row, one pass over the day frame.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# spearman_footrule
# ---------------------------------------------------------------------------


def _footrule_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    rk AS (
      SELECT
        row_number() OVER (ORDER BY t) AS rt,
        row_number() OVER (ORDER BY y, t) AS ry
      FROM day
    ),
    f AS (
      SELECT CAST(sum(abs(rt - ry)) AS BIGINT) AS f FROM rk
    )
    SELECT n.n AS n_days, f.f AS footrule_distance,
      CAST(((n.n * n.n - 1 - 3 * f.f) * 1000000)
           {dialect.div}(n.n * n.n - 1) AS BIGINT) AS footrule_sim_e6
    FROM f CROSS JOIN n
    """


sql_query(
    "spearman_footrule", _footrule_sql, "orders",
    doc="""Spearman's footrule between the time order and the revenue
    order of the daily frame: F = Σ|Rᵢ − Sᵢ| (the L1 permutation
    distance, the metric behind rank-fusion diagnostics), normalized
    by Diaconis-Graham to sim = 1 − 3F/(n² − 1) ∈ [−0.5, 1], which is
    asymptotically comparable to Spearman's rho.  Revenue ranks break
    (never-observed) ties by (y, t) — the same deterministic order as
    ``hoeffding_d``.

    Scale: two bounded global-order rank windows on the calendar-day
    frame (BOUNDED_FRAME_AUDITED) and a 1-row aggregate — the daily
    aggregate is the only volume-bearing exchange.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# mann_kendall_test
# ---------------------------------------------------------------------------


def _mk_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    s AS (
      SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM day a JOIN day b ON b.t > a.t
    ),
    ties AS (
      SELECT CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0)
                  AS BIGINT) AS tsum
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS c
        FROM day GROUP BY y HAVING count(*) > 1
      ) g
    ),
    v AS (
      SELECT n.n AS n, s.s AS s,
        CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tsum
             AS BIGINT) AS var18
      FROM n CROSS JOIN s CROSS JOIN ties
    ),
    z AS (
      SELECT n, s, var18,
        CAST(CASE
          WHEN s > 0 THEN floor(1000000 * (s - 1)
            / sqrt(CAST(var18 AS DOUBLE) / 18.0))
          WHEN s < 0 THEN floor(1000000 * (s + 1)
            / sqrt(CAST(var18 AS DOUBLE) / 18.0))
          ELSE 0 END AS BIGINT) AS z_e6
      FROM v
    )
    SELECT n AS n_days, s AS mk_s, var18, z_e6,
      z_e6 > {_Z975_E6} OR z_e6 < -{_Z975_E6} AS reject_no_trend
    FROM z
    """


sql_query(
    "mann_kendall_test", _mk_sql, "orders",
    doc="""Mann-Kendall trend test on daily revenue — the standard
    nonparametric monotone-trend gate (the WMO/hydrology workhorse):
    S = Σᵢ<ⱼ sign(yⱼ − yᵢ), tie-corrected Var(S) = [n(n−1)(2n+5) −
    Σ_g t_g(t_g−1)(2t_g+5)]/18, continuity-corrected z = (S∓1)/√Var.
    Completes the house trend battery: ``cox_stuart_trend`` reads sign
    pairs (low power, O(n)), ``theil_sen_trend``/``sen_slope_seasonal``
    read slope MAGNITUDE, MK supplies the significance decision that
    pairs with them.  The z floor is the ONE float op (√Var ≈ √2e5 —
    comfortably inside portable double range, the yuen_trimmed_t
    precedent).

    Scale: the sign-pair join is C(days, 2)-bounded (calendar-bounded,
    the theil_sen class); tie groups via one bounded GROUP BY y.  No
    window at all.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# cucconi_test
# ---------------------------------------------------------------------------


def _cucconi_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    r2 AS (
      SELECT c2, 2 * (lt1 + lt2) + (c1 + c2) + 1 AS r2
      FROM cum
    ),
    q AS (
      SELECT t.n1 AS n1, t.n2 AS n2, t.n1 + t.n2 AS nn,
        CAST(sum(CAST(r2.c2 AS {dialect.big}) * r2.r2 * r2.r2) AS {dialect.big}) AS q2,
        CAST(sum(CAST(r2.c2 AS {dialect.big})
                 * (2 * (t.n1 + t.n2 + 1) - r2.r2)
                 * (2 * (t.n1 + t.n2 + 1) - r2.r2)) AS {dialect.big}) AS q2c
      FROM r2 CROSS JOIN tot t
      GROUP BY t.n1, t.n2
    ),
    uv AS (
      SELECT n1, n2, nn,
        (6.0 * CAST(q2 AS DOUBLE)
         - 4.0 * CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
        / (4.0 * sqrt(CAST(n1 AS DOUBLE) * n2 * (nn + 1)
                      * (2 * nn + 1) * (8 * nn + 11) / 5.0)) AS u,
        (6.0 * CAST(q2c AS DOUBLE)
         - 4.0 * CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
        / (4.0 * sqrt(CAST(n1 AS DOUBLE) * n2 * (nn + 1)
                      * (2 * nn + 1) * (8 * nn + 11) / 5.0)) AS v,
        2.0 * (CAST(nn AS DOUBLE) * nn - 4.0)
        / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0 AS rho
      FROM q
    )
    SELECT n1, n2,
      CAST(floor(1000000 * u) AS BIGINT) AS u_e6,
      CAST(floor(1000000 * v) AS BIGINT) AS v_e6,
      CAST(floor(1000000 * rho) AS BIGINT) AS rho_e6,
      CAST(floor(1000000 * (u * u + v * v - 2.0 * rho * u * v)
                 / (2.0 * (1.0 - rho * rho))) AS BIGINT) AS c_e6,
      CAST(floor(1000000 * (u * u + v * v - 2.0 * rho * u * v)
                 / (2.0 * (1.0 - rho * rho))) AS BIGINT)
        > {_CUCCONI_CRIT_E6} AS reject_same_distribution
    FROM uv
    """


sql_query(
    "cucconi_test", _cucconi_sql, "orders", "customer",
    doc="""Cucconi's two-sample location-scale test (BUILDING vs MACHINERY
    order values): U from squared ranks, V from squared CONTRARY ranks
    (N+1−R), combined through their exact null correlation
    ρ = 2(N²−4)/((2N+1)(8N+11)) − 1 into
    C = (U² + V² − 2ρUV)/(2(1−ρ²)), with P(C > c) → e^(−c), so the 5%
    gate is ln 20 ≈ 2.9957.  The 1964 statistic that predates — and in
    Marozzi's power studies often beats — the Lepage combination
    (``lepage_test``), here sharing its $10-bucket midrank device:
    doubled midranks r2 = 2·lt + c + 1 keep ΣR² exact integer until
    the one documented float normalization (the no-tie null variance,
    the same convention ``lepage_test`` documents).

    Scale: one volume-bearing histogram aggregate (map-side
    combinable), then the cumulative window over the DISTINCT
    $10-bucket frame (price-range-bounded, BOUNDED_FRAME_AUDITED) and
    a per-group 1-row reduction.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# cronbach_alpha
# ---------------------------------------------------------------------------


def _cronbach_sql(dialect: Dialect) -> str:
    dd = (
        dialect.datediff("(SELECT min(o_orderdate) FROM orders)", "o_orderdate")
    )
    return f"""
    WITH base AS (
      SELECT o_custkey AS ck, CAST({dd} AS BIGINT) AS dd,
        CAST(round(o_totalprice * 100) AS BIGINT){dialect.div}1000 AS x
      FROM orders
    ),
    sp AS (SELECT CAST(max(dd) + 1 AS BIGINT) AS span FROM base),
    items AS (
      SELECT ck,
        CAST(sum(CASE WHEN (3 * dd){dialect.div}span = 0 THEN x ELSE 0 END)
             AS BIGINT) AS x1,
        CAST(sum(CASE WHEN (3 * dd){dialect.div}span = 1 THEN x ELSE 0 END)
             AS BIGINT) AS x2,
        CAST(sum(CASE WHEN (3 * dd){dialect.div}span = 2 THEN x ELSE 0 END)
             AS BIGINT) AS x3
      FROM base CROSS JOIN sp GROUP BY ck
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x1) AS {dialect.big}) AS s1, CAST(sum(x2) AS {dialect.big}) AS s2,
        CAST(sum(x3) AS {dialect.big}) AS s3,
        CAST(sum(CAST(x1 AS {dialect.big}) * x1) AS {dialect.big}) AS q1,
        CAST(sum(CAST(x2 AS {dialect.big}) * x2) AS {dialect.big}) AS q2,
        CAST(sum(CAST(x3 AS {dialect.big}) * x3) AS {dialect.big}) AS q3,
        CAST(sum(CAST(x1 + x2 + x3 AS {dialect.big}) * (x1 + x2 + x3))
             AS {dialect.big}) AS qt
      FROM items
    ),
    nd AS (
      SELECT n,
        (n * q1 - s1 * s1) + (n * q2 - s2 * s2)
          + (n * q3 - s3 * s3) AS num,
        n * qt - (s1 + s2 + s3) * (s1 + s2 + s3) AS den
      FROM agg
    )
    SELECT n AS n_customers,
      CAST((num * 1000000){dialect.div}den AS BIGINT) AS item_var_share_e6,
      CAST((3 * (den - num) * 1000000){dialect.div}(2 * den) AS BIGINT)
        AS alpha_e6
    FROM nd
    """


sql_query(
    "cronbach_alpha", _cronbach_sql, "orders",
    doc="""Cronbach's alpha over the per-customer 3-item revenue profile:
    items = revenue (cents div 1000) in each calendar TERTILE of the
    order-date range (item k = (3·day_offset) div span ∈ {{0,1,2}}),
    α = (k/(k−1))·(1 − Σᵢσᵢ²/σ²_total).  The classical reliability
    read: do the three sub-period revenues measure one underlying
    "customer activity" trait?  Sample variances share the n(n−1)
    denominator, so the variance RATIO is exact rational arithmetic —
    num/den with num = Σᵢ(nΣxᵢ² − Sᵢ²), den = nΣtot² − S_tot² — and
    α_e6 = (3·(den − num)·1e6) div (2·den) needs no float at all.
    Customers with zero orders are absent (not all-zero rows) —
    documented frame convention.

    Scale: one pass over orders into a per-customer pivot (shuffle on
    custkey — the natural key, hash-balanced), then a 1-row moment
    aggregate (map-side combinable).  DECIMAL(38)/HUGEINT holds the
    ≤1e24 products.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# stuart_tau_c
# ---------------------------------------------------------------------------


def _tauc_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_ordinal_pairs_sql(dialect)},
    dims AS (
      SELECT CAST(least(count(DISTINCT d), count(DISTINCT q))
                  AS BIGINT) AS m,
        CAST(sum(c) AS BIGINT) AS nt
      FROM cells
    )
    SELECT CAST(pm.p AS BIGINT) AS concordant,
      CAST(pm.qd AS BIGINT) AS discordant,
      dims.m AS m_min_dim, dims.nt AS n_rows,
      CAST((2 * dims.m * (pm.p - pm.qd) * 1000000)
           {dialect.div}(CAST(dims.nt AS {dialect.big}) * dims.nt * (dims.m - 1))
        AS BIGINT) AS tau_c_ppm
    FROM pm CROSS JOIN dims
    """


sql_query(
    "stuart_tau_c", _tauc_sql, "lineitem",
    doc="""Stuart's tau-c between discount and quantity: τ_c =
    2m(P − Q)/(N²(m − 1)) with m = min(#rows, #cols) of the ordinal
    table — the member of the tau family built for RECTANGULAR tables,
    where tau-b cannot reach ±1.  Completes the house set from the
    SAME cell-product device (``_ordinal_pairs_sql``): tau-a
    (``kendall_tau_cells``) divides by all pairs, tau-b
    (``kendall_tau_b``) tie-corrects symmetrically, gamma
    (``kruskal_gamma``) drops ties, Somers' D conditions on one
    margin, tau-c rescales for table shape.  P, Q, m, N are exact
    integers; one ppm floor.

    Scale: one cell aggregation over lineitem (map-side combinable to
    ≤11×50 cells), the bounded B² cell cross, a 3-aggregate dims row.
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
