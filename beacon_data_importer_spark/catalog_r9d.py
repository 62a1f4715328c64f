"""Round-9 catalog, tier 4: distribution & sketch audits —

* ``gini_lorenz_audit`` — customer-revenue inequality: the bucketed
  Gini coefficient (exact pair-mass identity via one cumulative over
  the ascending $1000-bucket histogram — the n² pair space never
  materializes) plus the Lorenz decile table.  Zero-order customers
  are INCLUDED (the ``negative_binomial_overdispersion`` doctrine:
  dropping zeros understates inequality).
* ``ddsketch_quantile_audit`` — a DDSketch-style relative-error
  quantile sketch built from EXACT integer arithmetic: powers-of-two
  octaves (a 41-row literal table — no log() ever runs, so bucket
  ids are bit-identical across engines) × 8 linear sub-buckets
  (12.5% worst-case relative error), mergeable by construction,
  audited against the exact rank-defined quantiles.
* ``poisson_zero_inflation_audit`` — are there more zero-order
  customers than a Poisson with the observed mean allows?  The
  ln-domain comparison ln(p̂₀) + λ̂ > 0 needs no exp() (only the
  established floored micro-nat ln), closing the count-model intake
  triage: ``negative_binomial_overdispersion`` tests the variance,
  this tests the zeros.

Reference parity: beyond-reference analytics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query


# ---------------------------------------------------------------------------
# gini_lorenz_audit
# ---------------------------------------------------------------------------


def _gini_sql(dialect: Dialect) -> str:
    dectab = (
        "SELECT CAST(d AS BIGINT) AS d FROM"
        " (SELECT explode(sequence(1, 10)) AS d)"
        if dialect.spark
        else "SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS d"
    )
    return f"""
    WITH cust AS (
      SELECT c.c_custkey,
        CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                      0) AS BIGINT){dialect.div}100000 AS v
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    h AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM cust GROUP BY v),
    cum AS (
      SELECT v, c,
        sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        sum(CAST(c AS {dialect.big}) * v) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM h
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(CAST(c AS {dialect.big}) * v) AS {dialect.big}) AS s
      FROM h
    ),
    pairmass AS (
      SELECT CAST(sum(CAST(cum.c AS {dialect.big}) * cum.v * (cum.cn - cum.c)
                      - cum.c * (cum.cs - CAST(cum.c AS {dialect.big}) * cum.v))
                  AS {dialect.big}) AS pm
      FROM cum
    ),
    gini AS (
      SELECT CAST((pm.pm * 1000000){dialect.div}(CAST(tot.n AS {dialect.big}) * tot.s)
                  AS BIGINT) AS gini_ppm
      FROM pairmass pm CROSS JOIN tot
    ),
    dec AS (
      -- cn and cs are monotone in v, so MIN over qualifying buckets
      -- reads the FIRST bucket whose population reaches d/10 of n
      SELECT dt.d,
        CAST(min(cum.cn) AS BIGINT) AS cn_at,
        CAST(min(cum.cs) AS BIGINT) AS cs_at
      FROM ({dectab}) dt
      JOIN tot ON true
      JOIN cum ON cum.cn * 10 >= dt.d * tot.n
      GROUP BY dt.d
    )
    SELECT dec.d AS decile,
      CAST((dec.cn_at * 1000000){dialect.div}tot.n AS BIGINT) AS pop_share_ppm,
      CAST((CAST(dec.cs_at AS {dialect.big}) * 1000000){dialect.div}tot.s AS BIGINT)
        AS rev_share_ppm,
      gini.gini_ppm
    FROM dec CROSS JOIN tot CROSS JOIN gini
    """


sql_query(
    "gini_lorenz_audit", _gini_sql, "orders", "customer",
    doc="""Customer-revenue Gini coefficient + Lorenz decile table, zeros
    included: values coarsen to $1000 buckets, and the mean-absolute-
    difference numerator Σ_{{a<b}} c_a c_b (v_b − v_a) collapses to ONE
    cumulative pass (each bucket contributes v·c·N_below − c·S_below)
    — exact integers, no pair expansion, G = MD/(2μ) as a single ppm
    floor.  Each Lorenz row is rank-defined: the first bucket whose
    cumulative population reaches d/10 of customers, with the revenue
    share held below it.  ``revenue_concentration`` reports the top
    end; Gini + Lorenz report the whole curve — the standard
    "how skewed is our training-data source mix / customer base"
    number at 100 TB, one aggregation + one bounded cumulative.

    Scale: customer aggregation (map-side combinable), cumulative
    over the DISTINCT $1000-bucket frame (price-range-bounded).

    Reference parity: beyond-reference analytics tier.""",
)


# ---------------------------------------------------------------------------
# ddsketch_quantile_audit
# ---------------------------------------------------------------------------

_DD_SUB = 8  # linear sub-buckets per octave → 1/8 worst relative error
_DD_QS = (50, 90, 99)
#: (octave, 2^octave) literals through 2^40 — covers cents values to ~$10B
_DD_POWS = ", ".join(f"({j}, {1 << j})" for j in range(41))


def _dd_sql(dialect: Dialect) -> str:
    ptab = f"SELECT j, lo FROM {dialect.values(_DD_POWS, 't(j, lo)')}"
    qtab = (
        f"SELECT CAST(q AS BIGINT) AS q FROM {dialect.values('(50), (90), (99)', 't(q)')}"
    )
    hint = dialect.broadcast("p")
    return f"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    b AS (
      SELECT {hint}p.j * {_DD_SUB}
               + ((v.c - p.lo) * {_DD_SUB}){dialect.div}p.lo AS bkt,
        p.lo + (((v.c - p.lo) * {_DD_SUB}){dialect.div}p.lo * p.lo){dialect.div}{_DD_SUB}
          AS lb
      FROM v JOIN ({ptab}) p ON v.c >= p.lo AND v.c < 2 * p.lo
    ),
    sk AS (
      SELECT bkt, CAST(min(lb) AS BIGINT) AS lb,
        CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY bkt
    ),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_buckets FROM sk),
    skcum AS (
      SELECT bkt, lb, sum(cnt) OVER (ORDER BY bkt
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM sk
    ),
    est AS (
      -- lb is monotone in bkt: MIN over qualifying buckets reads the
      -- first bucket whose cumulative count reaches the target rank
      SELECT qt.q, CAST(min(skcum.lb) AS BIGINT) AS est_c
      FROM ({qtab}) qt
      CROSS JOIN n
      JOIN skcum ON skcum.cum * 100 >= qt.q * n.n
      GROUP BY qt.q
    ),
    vh AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY c),
    vcum AS (
      SELECT c, sum(cnt) OVER (ORDER BY c
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM vh
    ),
    exact AS (
      SELECT qt.q, CAST(min(vcum.c) AS BIGINT) AS exact_c
      FROM ({qtab}) qt
      CROSS JOIN n
      JOIN vcum ON vcum.cum * 100 >= qt.q * n.n
      GROUP BY qt.q
    )
    SELECT est.q AS quantile_pct, est.est_c, exact.exact_c,
      CAST((abs(est.est_c - exact.exact_c) * 1000000)
           {dialect.div}exact.exact_c AS BIGINT) AS rel_err_ppm,
      n.n_buckets AS sketch_size
    FROM est JOIN exact ON exact.q = est.q CROSS JOIN n
    """


sql_query(
    "ddsketch_quantile_audit", _dd_sql, "orders",
    doc="""Relative-error quantile sketch (DDSketch's idea, integer-exact
    construction): order values land in powers-of-two octaves via a
    41-row broadcast literal table — NO log() runs, so the bucket id
    is exact integer arithmetic on both engines — each octave split
    into 8 linear sub-buckets (≤12.5% worst-case relative error).
    The (bucket, count) sketch is MERGEABLE by construction (counts
    add), which is the 100 TB story: per-partition sketches combine
    without rank information, unlike exact quantiles.  P50/P90/P99
    read from the sketch are audited against the exact rank-defined
    quantiles with per-quantile relative error — the approximation's
    price measured, not asserted (the ``*_recall_audit`` doctrine).

    Scale: one broadcast range join (41 octaves) + a bucket groupBy;
    the audit side pays one distinct-value cumulative (bounded by the
    price range).  3 rows out.

    Reference parity: beyond-reference sketch tier
    (``quantile_sketch_audit`` is rank-error; this is relative-error).""",
)


# ---------------------------------------------------------------------------
# poisson_zero_inflation_audit
# ---------------------------------------------------------------------------


def _zip_sql(dialect: Dialect) -> str:
    return f"""
    WITH cnt AS (
      SELECT c.c_custkey,
        CAST(count(o.o_orderkey) AS BIGINT) AS k
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        AND year(o.o_orderdate) = 1997
      GROUP BY c.c_custkey
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(k) AS BIGINT) AS tot,
        CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS z
      FROM cnt
    )
    SELECT n AS n_customers, z AS n_zero,
      CAST((tot * 1000000){dialect.div}n AS BIGINT) AS lambda_e6,
      CAST(floor(1000000 * ln(CAST(z AS DOUBLE) / n)) AS BIGINT)
        AS ln_p0_obs_e6,
      CAST(floor(1000000 * ln(CAST(z AS DOUBLE) / n))
           + (tot * 1000000){dialect.div}n AS BIGINT) AS zi_score_e6,
      floor(1000000 * ln(CAST(z AS DOUBLE) / n))
        + (tot * 1000000){dialect.div}n > 0 AS excess_zeros
    FROM s
    """


sql_query(
    "poisson_zero_inflation_audit", _zip_sql, "orders", "customer",
    doc="""Zero-inflation screen for the per-customer 1997 order counts
    (zeros INCLUDED via the customer left join — the point): a
    Poisson with the observed mean predicts p₀ = e^{{−λ}}, so excess
    zeros ⟺ ln(p̂₀) + λ̂ > 0 — compared entirely in the ln domain
    (one floored micro-nat ln, the established device; no exp() whose
    libm rounding could split the engines).  Together with
    ``negative_binomial_overdispersion`` this is the two-question
    count-model triage: variance too big?  zeros too many?

    Scale: one left-join aggregation to customers; 1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
