"""Round-7 catalog tier (e): pairwise inference + supervised feature
engineering —

* ``welch_t_test`` — Welch's unequal-variance two-sample t on mean
  order value between two customer segments: the workhorse pairwise
  test the battery still lacked (anova compares many groups under
  equal variance, kruskal is rank-based, permutation is exact-but-
  expensive; Welch is THE default two-group mean test).  t² assembled
  from staged integer divisions (the cuped doctrine: every quotient
  fits int64), verdict at the large-sample z² literal.
* ``cohens_kappa`` — chance-corrected agreement between two
  deterministic order classifiers (price-threshold "expensive" vs
  priority-derived "urgent"): the inter-rater statistic that exposes
  when high raw agreement is just marginal-frequency luck.

Parity devices: cents / $10-unit coarsening, ppm floors with
identical placement, staged divisions (Spark `div` returns BIGINT —
every quotient must fit int64, round-7 finding), DECIMAL(38,0)/
HUGEINT moments.

Reference parity: beyond-reference statistics/ML tiers.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query


# ---------------------------------------------------------------------------
# welch_t_test
# ---------------------------------------------------------------------------

_WELCH_A = "BUILDING"
_WELCH_B = "MACHINERY"


def _welch_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT c.c_mktsegment AS seg,
        CAST(round(o.o_totalprice * 100) AS BIGINT){dialect.div}1000 AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{_WELCH_A}', '{_WELCH_B}')
    ),
    m AS (
      SELECT seg, CAST(count(*) AS {dialect.big}) AS n,
        CAST(sum(CAST(v AS {dialect.big})) AS {dialect.big}) AS s,
        CAST(sum(CAST(v AS {dialect.big}) * v) AS {dialect.big}) AS q
      FROM o GROUP BY seg
    ),
    wide AS (
      SELECT
        max(CASE WHEN seg = '{_WELCH_A}' THEN n END) AS n1,
        max(CASE WHEN seg = '{_WELCH_A}' THEN s END) AS s1,
        max(CASE WHEN seg = '{_WELCH_A}' THEN q END) AS q1,
        max(CASE WHEN seg = '{_WELCH_B}' THEN n END) AS n2,
        max(CASE WHEN seg = '{_WELCH_B}' THEN s END) AS s2,
        max(CASE WHEN seg = '{_WELCH_B}' THEN q END) AS q2
      FROM m
    ),
    parts AS (
      SELECT
        CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
        (s1 * 1000000){dialect.div}n1 - (s2 * 1000000){dialect.div}n2 AS diff_e6,
        ((n1 * q1 - s1 * s1) * 1000000){dialect.div}(n1 * n1 * (n1 - 1))
          AS v1n1_e6,
        ((n2 * q2 - s2 * s2) * 1000000){dialect.div}(n2 * n2 * (n2 - 1))
          AS v2n2_e6
      FROM wide
    )
    SELECT n_a, n_b,
      CAST(diff_e6 AS BIGINT) AS mean_diff_e6,
      CAST((CAST(diff_e6 AS {dialect.big}) * diff_e6)
           {dialect.div} (v1n1_e6 + v2n2_e6) AS BIGINT) AS t2_ppm,
      ((CAST(diff_e6 AS {dialect.big}) * diff_e6) {dialect.div} (v1n1_e6 + v2n2_e6)
       > 3841600) AS significant_95
    FROM parts
    """


sql_query(
    "welch_t_test", _welch_sql, "orders", "customer",
    doc="""Welch's two-sample t on mean order value, BUILDING vs MACHINERY
    segments: t² = (m̄₁−m̄₂)² / (s₁²/n₁ + s₂²/n₂), assembled entirely
    from staged integer quotients — per-group means and s²/n terms
    floor once each at e6 scale, then one final ratio — so the
    verdict never crosses a sqrt or an engine's floating summation
    order.  Significance at the large-sample z² literal 1.96²·1e6
    (Welch-Satterthwaite df is ≥10⁵ here, where t ≡ z to 4 decimals).
    Values coarsen to $10 units so n·Q − S² stays inside
    DECIMAL(38,0) (chow_break doctrine).

    One join + one 2-row aggregation, all map-side combinable.""",
)


# ---------------------------------------------------------------------------
# cohens_kappa
# ---------------------------------------------------------------------------

_KAPPA_PRICE_C = 15_000_000  # $150k in cents — "expensive" threshold


def _kappa_sql(dialect: Dialect) -> str:
    return f"""
    WITH rated AS (
      SELECT
        CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                  > {_KAPPA_PRICE_C} THEN 1 ELSE 0 END AS a,
        CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END AS b
      FROM orders
    ),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(a * b) AS BIGINT) AS n11,
        CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
        CAST(sum((1 - a) * b) AS BIGINT) AS n01,
        CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM rated
    ),
    probs AS (
      SELECT n, n11, n10, n01, n00,
        ((n11 + n00) * 1000000){dialect.div}n AS po_ppm,
        ((n11 + n10) * (n11 + n01)){dialect.div}n AS e11,
        ((n01 + n00) * (n10 + n00)){dialect.div}n AS e00
      FROM cells
    )
    SELECT n AS n_orders, n11, n10, n01, n00,
      CAST(po_ppm AS BIGINT) AS po_ppm,
      CAST(((e11 + e00) * 1000000){dialect.div}n AS BIGINT) AS pe_ppm,
      CAST(((po_ppm - ((e11 + e00) * 1000000){dialect.div}n) * 1000000)
           {dialect.div} (1000000 - ((e11 + e00) * 1000000){dialect.div}n) AS BIGINT)
        AS kappa_ppm
    FROM probs
    """


sql_query(
    "cohens_kappa", _kappa_sql, "orders",
    doc="""Cohen's kappa between two deterministic order classifiers —
    price-threshold "expensive" vs priority-derived "urgent": κ =
    (p_o − p_e)/(1 − p_e), the agreement left after discounting what
    the raters' marginal frequencies alone would produce (raw
    agreement between two mostly-negative raters is always high; κ is
    what survives).  Expected-agreement cells clear their divisions
    as e_ij = row·col div n (floored once, same placement both
    engines); κ itself is one final staged ratio in ppm.

    A single map-side-combinable aggregation over orders.""",
)
