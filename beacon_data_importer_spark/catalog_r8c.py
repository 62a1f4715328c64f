"""Round-8 catalog, tier 3: the post-hoc / trend / dispersion /
parametric-survival statistics the battery still lacked —

* ``tukey_hsd`` — Tukey-Kramer honestly-significant-difference
  pairwise comparisons after the one-way ANOVA (``anova_oneway``
  stops at "some group differs"; Tukey says WHICH pairs, at a
  family-wise error rate Holm/Bonferroni would overcorrect for).
* ``mood_median_test`` — k-group location test on counts above/below
  the grand median: the robust complement to anova (means) and
  kruskal (ranks) — immune to anything monotone done to the values.
* ``cochran_armitage_trend`` — trend in a PROPORTION across ordered
  groups (urgent-order share by year): the categorical sibling of
  mk_trend_test (which trends a continuous series).
* ``negative_binomial_overdispersion`` — dispersion index and NB
  method-of-moments (r, p) for per-customer order counts, zeros
  included: the distributional gate before any count model (Poisson
  assumes D=1; real counts overdisperse).
* ``weibull_survival_fit`` — parametric shape/intercept fit of the
  order→ship latency distribution by median-rank regression on the
  distinct-day frame: the parametric complement to kaplan_meier /
  nelson_aalen (nonparametric) — a shape k≠1 is evidence the hazard
  is not memoryless.

Parity devices (catalog.py doctrine): $10-unit / $1000-bucket
coarsening, staged integer divisions (every Spark ``div`` quotient
fits int64), DECIMAL(38,0)/HUGEINT products, cross-multiplication
instead of sqrt, per-term floored ln (woe_iv device), published
critical values as ppm literals so no quantile function crosses an
engine boundary.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query


# ---------------------------------------------------------------------------
# tukey_hsd
# ---------------------------------------------------------------------------

#: floor(1e6 · q²) for the studentized range q(α=0.05, k=5, df=∞) =
#: 3.858 (published table value): the Tukey critical value at 5 groups
#: and the huge within-group df of this data (df-exact q at 1.5e5 df
#: differs from ∞ in the 4th decimal).
_TUKEY_Q2_E6 = 14_884_164


def _tukey_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT r.r_name AS grp,
        CAST(round(ord.o_totalprice * 100) AS BIGINT){dialect.div}1000 AS v
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(v) AS BIGINT) AS s,
        CAST(sum(CAST(v AS {dialect.big}) * v) AS {dialect.big}) AS q
      FROM o GROUP BY grp
    ),
    w AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        CAST(count(*) AS BIGINT) AS k,
        CAST(sum((CAST(q AS {dialect.big}) * n - CAST(s AS {dialect.big}) * s){dialect.div}n)
             AS {dialect.big}) AS ssw
      FROM g
    )
    SELECT {"/*+ BROADCAST(b), BROADCAST(w) */" if dialect.spark else ""}
      a.grp AS region_a, b.grp AS region_b,
      a.n AS n_a, b.n AS n_b,
      CAST((a.s * 1000000){dialect.div}a.n - (b.s * 1000000){dialect.div}b.n AS BIGINT)
        AS mean_diff_e6,
      CAST((CAST(a.s AS {dialect.big}) * b.n - CAST(b.s AS {dialect.big}) * a.n)
           * (CAST(a.s AS {dialect.big}) * b.n - CAST(b.s AS {dialect.big}) * a.n)
           {dialect.div} ((CAST(a.n AS {dialect.big}) * b.n) * (a.n + b.n))
           AS BIGINT) AS contrast_stat,
      (CAST((CAST(a.s AS {dialect.big}) * b.n - CAST(b.s AS {dialect.big}) * a.n)
            * (CAST(a.s AS {dialect.big}) * b.n - CAST(b.s AS {dialect.big}) * a.n)
            {dialect.div} ((CAST(a.n AS {dialect.big}) * b.n) * (a.n + b.n)) AS {dialect.big})
       * 2 * (w.n_tot - w.k) * 1000000
       > CAST({_TUKEY_Q2_E6} AS {dialect.big}) * w.ssw) AS significant
    FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN w
    """


sql_query(
    "tukey_hsd", _tukey_sql, "orders", "customer", "nation", "region",
    doc="""Tukey-Kramer HSD on mean order value ($10 units) across the 5
    regions: for each of the 10 pairs, the mean difference and whether
    |m̄ᵢ−m̄ⱼ| exceeds q·√(MSW/2·(1/nᵢ+1/nⱼ)) — assembled sqrt-free by
    cross-multiplication: significant ⟺ D²·2·df·1e6 > q²ppm·SSW·
    (nᵢ+nⱼ)·nᵢnⱼ with D = Sᵢnⱼ−Sⱼnᵢ, staged so the comparison sides
    stay inside DECIMAL(38,0) even at 100× data (the D² div (nᵢnⱼ(nᵢ+nⱼ))
    quotient is taken FIRST; the unstaged product would cross 1e38).
    SSW uses one floored quotient per group (identical placement both
    engines); q² is a published-table ppm literal, so no studentized
    range quantile crosses engines.

    Scale: one aggregation to 5 group rows (map-side combinable
    behind broadcast dim joins), then a 5×5 self-join — bounded.""",
)


# ---------------------------------------------------------------------------
# mood_median_test
# ---------------------------------------------------------------------------

_MOOD_BUCKET_C = 100_000  # $1000 buckets, in cents
#: floor(1e6 · χ²(df=4, α=0.05)) = 9.487729…
_MOOD_CHI2_CRIT_E6 = 9_487_729


def _mood_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT r.r_name AS grp,
        CAST(round(ord.o_totalprice * 100) AS BIGINT)
          {dialect.div}{_MOOD_BUCKET_C} AS vb
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    dist AS (
      SELECT vb, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY vb
    ),
    med AS (
      SELECT min(vb) AS m FROM (
        SELECT vb,
          sum(c) OVER (ORDER BY vb ROWS UNBOUNDED PRECEDING) AS cum,
          (SELECT sum(c) FROM dist) AS tot
        FROM dist
      ) t WHERE cum >= (tot + 1){dialect.div}2
    ),
    cells AS (
      SELECT grp,
        CAST(sum(CASE WHEN vb > (SELECT m FROM med) THEN 1 ELSE 0 END)
             AS BIGINT) AS above,
        CAST(sum(CASE WHEN vb < (SELECT m FROM med) THEN 1 ELSE 0 END)
             AS BIGINT) AS below
      FROM o GROUP BY grp
    ),
    tots AS (
      SELECT CAST(sum(above) AS BIGINT) AS ca,
        CAST(sum(below) AS BIGINT) AS cb,
        CAST(sum(above) + sum(below) AS BIGINT) AS t
      FROM cells
    ),
    chi AS (
      SELECT CAST(sum(
          (CAST(above AS {dialect.big}) * t - (above + below) * ca)
          * (CAST(above AS {dialect.big}) * t - (above + below) * ca) * 1000000
          {dialect.div} (CAST(t AS {dialect.big}) * (above + below) * ca)
        + (CAST(below AS {dialect.big}) * t - (above + below) * cb)
          * (CAST(below AS {dialect.big}) * t - (above + below) * cb) * 1000000
          {dialect.div} (CAST(t AS {dialect.big}) * (above + below) * cb)
      ) AS BIGINT) AS chi2_ppm
      FROM cells CROSS JOIN tots
    )
    SELECT (SELECT m FROM med) * {_MOOD_BUCKET_C} AS median_bucket_c,
      (SELECT t FROM tots) AS n_classified,
      chi2_ppm,
      chi2_ppm > {_MOOD_CHI2_CRIT_E6} AS reject_equal_medians
    FROM chi
    """


sql_query(
    "mood_median_test", _mood_sql, "orders", "customer", "nation", "region",
    doc="""Mood's median test across the 5 regions: order values coarsen
    to $1000 buckets, the grand median bucket comes from the
    cumulative count over the BOUNDED distinct-bucket frame (the
    rank-defined (n+1) div 2 device — never a data-proportional
    global sort), each region's counts strictly above/below the
    median bucket form the 5×2 table (ties at the median excluded —
    the documented convention), and χ² = Σ(O·T−r·c)²·1e6 div (T·r·c)
    per cell in exact integers.  Verdict at the published χ²₄ ppm
    literal.  The location test that survives any monotone
    transformation of the values — anova (means) and kruskal (ranks)
    both move, this doesn't.

    Scale: one bounded-distinct aggregation + one 5-row rollup; the
    ordered window runs over ~500 bucket rows.""",
)


# ---------------------------------------------------------------------------
# cochran_armitage_trend
# ---------------------------------------------------------------------------

#: floor(1e6 · z²(α=0.05, two-sided)) = 1.96² = 3.8416
_CA_Z2_E6 = 3_841_600


def _ca_sql(dialect: Dialect) -> str:
    return f"""
    WITH y AS (
      SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS s,
        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS hit
      FROM orders
    ),
    g AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(hit) AS BIGINT) AS r
      FROM y GROUP BY s
    ),
    t AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr,
        CAST(sum(s * r) AS BIGINT) AS sr,
        CAST(sum(s * n) AS BIGINT) AS sn,
        CAST(sum(s * s * n) AS BIGINT) AS ssn
      FROM g
    )
    SELECT nn AS n_orders, rr AS n_urgent,
      CAST(CAST(nn AS {dialect.big}) * sr - CAST(rr AS {dialect.big}) * sn AS BIGINT)
        AS trend_num,
      CAST((CAST(nn AS {dialect.big}) * sr - CAST(rr AS {dialect.big}) * sn)
           * (CAST(nn AS {dialect.big}) * sr - CAST(rr AS {dialect.big}) * sn)
           * nn * 1000000
           {dialect.div} (CAST(rr AS {dialect.big}) * (nn - rr)
                  * (CAST(nn AS {dialect.big}) * ssn - CAST(sn AS {dialect.big}) * sn))
           AS BIGINT) AS z2_ppm,
      CAST((CAST(nn AS {dialect.big}) * sr - CAST(rr AS {dialect.big}) * sn)
           * (CAST(nn AS {dialect.big}) * sr - CAST(rr AS {dialect.big}) * sn)
           * nn * 1000000
           {dialect.div} (CAST(rr AS {dialect.big}) * (nn - rr)
                  * (CAST(nn AS {dialect.big}) * ssn - CAST(sn AS {dialect.big}) * sn))
           AS BIGINT) > {_CA_Z2_E6} AS reject_no_trend
    FROM t
    """


sql_query(
    "cochran_armitage_trend", _ca_sql, "orders",
    doc="""Cochran-Armitage trend test: is the urgent-order PROPORTION
    trending across order years (scores s = year−1995)?  Z² =
    U²·N·1e6 div (R(N−R)(N·Σs²n − (Σsn)²)) with U = N·Σsr − R·Σsn —
    the whole statistic from five integer sufficient statistics, one
    division, every product DECIMAL(38,0)/HUGEINT-widened.  The
    categorical sibling of mk_trend_test: that one trends a measured
    series, this one trends a success share with the binomial
    variance in the denominator.  Verdict at the z² ppm literal.

    Scale: one map-side-combinable aggregation to 7 year rows; the
    rest is a 1-row computation.""",
)


# ---------------------------------------------------------------------------
# negative_binomial_overdispersion
# ---------------------------------------------------------------------------


def _nb_sql(dialect: Dialect) -> str:
    return f"""
    WITH cnt AS (
      SELECT c.c_custkey,
        CAST(count(o.o_orderkey) AS BIGINT) AS x
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx,
        CAST(sum(x * x) AS BIGINT) AS sxx
      FROM cnt
    )
    SELECT n AS n_customers, sx AS n_orders,
      CAST((sx * 1000000){dialect.div}n AS BIGINT) AS mean_ppm,
      CAST((CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx) * 1000000
           {dialect.div} (CAST(n AS {dialect.big}) * sx) AS BIGINT) AS dispersion_ppm,
      CAST((CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx) * 1000000
           {dialect.div} (CAST(n AS {dialect.big}) * sx) AS BIGINT) > 1000000
        AS overdispersed,
      CASE WHEN CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx
                - CAST(n AS {dialect.big}) * sx > 0
        THEN CAST((CAST(sx AS {dialect.big}) * sx * 1000000)
             {dialect.div} (CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx
                    - CAST(n AS {dialect.big}) * sx) AS BIGINT)
        ELSE CAST(NULL AS BIGINT) END AS nb_r_ppm,
      CASE WHEN CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx > 0
        THEN CAST((CAST(sx AS {dialect.big}) * n * 1000000)
             {dialect.div} (CAST(n AS {dialect.big}) * sxx - CAST(sx AS {dialect.big}) * sx)
             AS BIGINT)
        ELSE CAST(NULL AS BIGINT) END AS nb_p_ppm
    FROM s
    """


sql_query(
    "negative_binomial_overdispersion", _nb_sql, "orders", "customer",
    doc="""Dispersion gate for count modeling: per-customer order counts
    WITH the zero-order customers (the left join is the point —
    dropping zeros understates variance), dispersion index D =
    (nΣx²−S²)·1e6 div (n·S) (population variance over mean), and the
    negative-binomial method-of-moments parameters r = μ²/(s²−μ),
    p = μ/s², all as staged exact-integer ppm with NULL where moments
    put the data outside the NB family (s² ≤ μ).  D > 1e6 ⇒ Poisson
    is wrong for these counts — the check that should precede every
    count regression on this schema.

    Scale: one map-side-combinable count per customer, one 1-row
    moment rollup.""",
)


# ---------------------------------------------------------------------------
# weibull_survival_fit
# ---------------------------------------------------------------------------


def _weibull_sql(dialect: Dialect) -> str:
    datediff = dialect.datediff("o.o_orderdate", "l.l_shipdate")
    return f"""
    WITH lat AS (
      SELECT CAST({datediff} AS BIGINT) AS t
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE {datediff} >= 1
    ),
    dist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY t
    ),
    ranked AS (
      SELECT t,
        sum(c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS i,
        (SELECT sum(c) FROM dist) AS n
      FROM dist
    ),
    pts AS (
      SELECT
        CAST(floor(1e6 * ln(CAST(t AS DOUBLE))) AS BIGINT) AS x,
        CAST(floor(1e6 * ln(-ln(
          CAST(10 * n - 10 * i + 7 AS DOUBLE) / (10 * n + 4)
        ))) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS {dialect.big}) AS m,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS sx,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS sy,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx,
        CAST(sum(CAST(x AS {dialect.big}) * y) AS {dialect.big}) AS sxy
      FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_points,
      CAST((m * sxy - sx * sy) * 1000000
           {dialect.div} (m * sxx - sx * sx) AS BIGINT) AS shape_ppm,
      CAST((sy - ((m * sxy - sx * sy) * 1000000
                  {dialect.div} (m * sxx - sx * sx)) * sx{dialect.div}1000000)
           {dialect.div} m AS BIGINT) AS intercept_e6
    FROM s
    """


sql_query(
    "weibull_survival_fit", _weibull_sql, "orders", "lineitem",
    doc="""Weibull fit of the order→ship latency by median-rank
    regression: distinct latency days (a BOUNDED frame — the ordered
    cumulative window never touches row-proportional data) get
    median-rank plotting positions F̂ = (i−0.3)/(n+0.4) with i the
    cumulative count, carried as the exact rational
    (10n−10i+7)/(10n+4); the regression y = ln(−ln(1−F̂)) on
    x = ln(t) runs on per-term FLOORED micro-unit logs (the woe_iv
    device — floor of a bitwise-identical double), and OLS slope =
    Weibull shape k in ppm.  k ≈ 1 ⇒ exponential/memoryless hazard;
    the observed k is the parametric counterpart of what
    kaplan_meier/nelson_aalen tabulate nonparametrically.

    Scale: one join + one distinct-day aggregation (map-side
    combinable); windows and OLS run on the ~120-row day frame.""",
)
