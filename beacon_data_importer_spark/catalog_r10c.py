"""Round-10 catalog, tier 3 — categorical association and multiple-
comparison second wave:

* ``bowker_symmetry_test`` — symmetry of the paired order-priority
  transition table (first priority 1997 → first priority 1998 per
  customer): χ² = Σ_{i<j}(nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ).  The k×k
  generalization of ``mcnemar_test`` (k=2 reduces to it exactly).
* ``stuart_maxwell_test`` — MARGINAL homogeneity on the collapsed 3×3
  transition table: d'S⁻¹d with the 2×2 covariance inverted by
  Cramer's rule — exact integers to one ppm floor.  Bowker reads
  cell-level asymmetry; Stuart-Maxwell reads net marginal drift —
  both can fire independently, which is why the pair ships together.
* ``lambda_goodman_kruskal`` — proportional-reduction-in-error
  association: how much does knowing region improve the modal guess
  of market segment (and vice versa — λ is asymmetric, both emitted).
* ``goodman_kruskal_tau`` — the variance-based PRE sibling: λ reads
  only the MODE and zeroes out when one class dominates every row;
  τ reads the full conditional distribution.
* ``theil_uncertainty_coeff`` — the entropy-based PRE member:
  U(Y|X) = I(X;Y)/H(Y), reusing ``mutual_information``'s micro-bit
  per-cell floor convention.  Completing the PRE triple (mode λ →
  variance τ → entropy U), all on the SAME region×segment table.
* ``yules_q_y`` — 2×2 association pair: Yule's Q = (ad−bc)/(ad+bc)
  (the odds-ratio transform) and the more conservative colligation
  Y = (√ad−√bc)/(√ad+√bc), with the raw odds ratio alongside.
* ``newcombe_diff_ci`` — the Newcombe-Wilson hybrid CI for a
  DIFFERENCE of proportions: square-and-add the two Wilson arms.
  The Wald diff CI collapses at extreme p̂; Newcombe's is the
  production default (reuses ``wilson_score_interval``'s z² ppm
  literal device).
* ``benjamini_yekutieli_audit`` — BH's dependence-robust sibling:
  thresholds q·i/(m·c(m)) with the harmonic penalty c(m) = Σ1/j,
  valid under ARBITRARY dependence between the m tests (the per-
  nation z-tests share the global return-rate denominator, so BH's
  independence assumption is actually violated — BY is the honest
  gate; emitted with the same literal-threshold device so both
  engines compare pure integers).

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

import math
from statistics import NormalDist

from .catalog import Dialect, sql_query

#: floor(1e6 · χ²₀.₀₅) for df = 10 (Bowker, 5 priorities) and df = 2
#: (Stuart-Maxwell, 3 classes).
_CHI2_DF10_E6 = 18_307_038
_CHI2_DF2_E6 = 5_991_464
#: z²·1e6 at 95% two-sided — the wilson_score_interval literal.
_Z2_E6 = 3_841_458

#: Benjamini-Yekutieli threshold table: (m, i) → floor(1e6 ·
#: Φ⁻¹(1 − q·i/(2·m·c(m)))) with q = 0.10 and c(m) = Σ_{j≤m} 1/j —
#: the harmonic dependence penalty that distinguishes BY from BH
#: (catalog_r5f._BH_TABLE).  Literals in both engines' plans: the
#: runtime comparison is pure integer.
_BY_Q_NUM, _BY_Q_DEN = 1, 10
_BY_MAX_M = 25
_BY_TABLE: list[tuple[int, int, int]] = [
    (
        m,
        i,
        int(
            math.floor(
                NormalDist().inv_cdf(
                    1.0
                    - (_BY_Q_NUM * i)
                    / (2.0 * m * _BY_Q_DEN * sum(1.0 / j for j in range(1, m + 1)))
                )
                * 1e6
            )
        ),
    )
    for m in range(1, _BY_MAX_M + 1)
    for i in range(1, m + 1)
]
_BY_VALUES_SQL = ", ".join(f"({m}, {i}, {t})" for m, i, t in _BY_TABLE)


# ---------------------------------------------------------------------------
# shared devices
# ---------------------------------------------------------------------------


def _priority_pairs_sql() -> str:
    """Per-customer (first-1997-priority, first-1998-priority) pairs —
    first = earliest order date, orderkey tie-break.  The row_number
    windows are PARTITIONED by (customer, year), so the device
    distributes; only customers active in both years survive the
    equi-join."""
    return """
    fo AS (
      SELECT o_custkey AS ck, year(o_orderdate) AS yr,
        o_orderpriority AS pr,
        row_number() OVER (PARTITION BY o_custkey, year(o_orderdate)
                           ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    ),
    pp AS (
      SELECT a.pr AS p97, b.pr AS p98
      FROM fo a JOIN fo b ON b.ck = a.ck
      WHERE a.yr = 1997 AND b.yr = 1998 AND a.rn = 1 AND b.rn = 1
    )"""


def _seg_region_cells_sql() -> str:
    """(region, mktsegment) contingency cells over customer — the
    shared table for the PRE association triple (λ, τ, U)."""
    return """
    cells AS (
      SELECT r.r_name AS x, c.c_mktsegment AS y,
        CAST(count(*) AS BIGINT) AS n
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, c.c_mktsegment
    )"""


# ---------------------------------------------------------------------------
# bowker_symmetry_test
# ---------------------------------------------------------------------------


def _bowker_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_priority_pairs_sql()},
    c AS (
      SELECT p97, p98, CAST(count(*) AS BIGINT) AS n
      FROM pp GROUP BY 1, 2
    ),
    sym AS (
      SELECT least(p97, p98) AS pi, greatest(p97, p98) AS pj,
        CAST(sum(CASE WHEN p97 < p98 THEN n ELSE 0 END) AS BIGINT)
          AS nij,
        CAST(sum(CASE WHEN p97 > p98 THEN n ELSE 0 END) AS BIGINT)
          AS nji
      FROM c WHERE p97 <> p98 GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS df,
      CAST(sum((CAST(nij - nji AS {dialect.big}) * (nij - nji) * 1000000)
               {dialect.div}(nij + nji)) AS BIGINT) AS chi2_e6,
      CAST(sum((CAST(nij - nji AS {dialect.big}) * (nij - nji) * 1000000)
               {dialect.div}(nij + nji)) AS BIGINT) > {_CHI2_DF10_E6}
        AND CAST(count(*) AS BIGINT) = 10 AS reject_symmetry
    FROM sym
    """


sql_query(
    "bowker_symmetry_test", _bowker_sql, "orders",
    doc="""Bowker's symmetry test on the 5×5 order-priority transition
    table (each customer's first-order priority, 1997 → 1998):
    χ² = Σ_{{i<j}} (nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ), df = off-diagonal pairs
    with traffic.  Symmetry means priority changes are direction-free
    churn; rejection means a systematic drift (e.g. urgent→low beats
    low→urgent).  The k-class generalization of ``mcnemar_test``.
    One ppm floor per pair (≤10), exact integer otherwise; 5% gate at
    χ²(10) = 18.307038 (applied only when all 10 pairs carry traffic,
    else the flag stays false and df tells the consumer why).

    Scale: the transition table is built from PARTITIONED first-order
    windows and collapses to ≤25 cells before any global step.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# stuart_maxwell_test
# ---------------------------------------------------------------------------


def _sm_sql(dialect: Dialect) -> str:
    cls = (
        "CASE WHEN {c} IN ('1-URGENT', '2-HIGH') THEN 1 "
        "WHEN {c} = '3-MEDIUM' THEN 2 ELSE 3 END"
    )
    return f"""
    WITH {_priority_pairs_sql()},
    t3 AS (
      SELECT {cls.format(c="p97")} AS i, {cls.format(c="p98")} AS j,
        CAST(count(*) AS BIGINT) AS n
      FROM pp GROUP BY 1, 2
    ),
    m AS (
      SELECT
        CAST(sum(CASE WHEN i = 1 THEN n ELSE 0 END) AS BIGINT) AS r1,
        CAST(sum(CASE WHEN i = 2 THEN n ELSE 0 END) AS BIGINT) AS r2,
        CAST(sum(CASE WHEN j = 1 THEN n ELSE 0 END) AS BIGINT) AS c1,
        CAST(sum(CASE WHEN j = 2 THEN n ELSE 0 END) AS BIGINT) AS c2,
        CAST(sum(CASE WHEN i = 1 AND j = 1 THEN n ELSE 0 END)
             AS BIGINT) AS n11,
        CAST(sum(CASE WHEN i = 2 AND j = 2 THEN n ELSE 0 END)
             AS BIGINT) AS n22,
        CAST(sum(CASE WHEN i = 1 AND j = 2 THEN n ELSE 0 END)
             AS BIGINT) AS n12,
        CAST(sum(CASE WHEN i = 2 AND j = 1 THEN n ELSE 0 END)
             AS BIGINT) AS n21,
        CAST(sum(n) AS BIGINT) AS n_pairs
      FROM t3
    ),
    s AS (
      SELECT n_pairs, r1 - c1 AS d1, r2 - c2 AS d2,
        r1 + c1 - 2 * n11 AS s11,
        r2 + c2 - 2 * n22 AS s22,
        -(n12 + n21) AS s12
      FROM m
    )
    SELECT n_pairs, d1, d2,
      CAST(((CAST(d1 AS {dialect.big}) * d1 * s22
             - 2 * CAST(d1 AS {dialect.big}) * d2 * s12
             + CAST(d2 AS {dialect.big}) * d2 * s11) * 1000000)
           {dialect.div}(CAST(s11 AS {dialect.big}) * s22 - CAST(s12 AS {dialect.big}) * s12)
           AS BIGINT) AS chi2_e6,
      CAST(((CAST(d1 AS {dialect.big}) * d1 * s22
             - 2 * CAST(d1 AS {dialect.big}) * d2 * s12
             + CAST(d2 AS {dialect.big}) * d2 * s11) * 1000000)
           {dialect.div}(CAST(s11 AS {dialect.big}) * s22 - CAST(s12 AS {dialect.big}) * s12)
           AS BIGINT) > {_CHI2_DF2_E6} AS reject_marginal_homogeneity
    FROM s
    """


sql_query(
    "stuart_maxwell_test", _sm_sql, "orders",
    doc="""Stuart-Maxwell marginal-homogeneity test on the collapsed 3×3
    priority transition table (high = urgent/high, med, low): with
    d = (r₁−c₁, r₂−c₂) and the 2×2 covariance S (Sᵢᵢ = rᵢ+cᵢ−2nᵢᵢ,
    S₁₂ = −(n₁₂+n₂₁)), χ² = d'S⁻¹d expanded by CRAMER'S RULE —
    (d₁²S₂₂ − 2d₁d₂S₁₂ + d₂²S₁₁)/(S₁₁S₂₂−S₁₂²) — so the whole
    statistic is one exact-integer rational with a single ppm floor.
    Answers a different question than ``bowker_symmetry_test``: net
    marginal drift (are there MORE high-priority customers in 1998?)
    vs cell-level flow asymmetry.  5% gate at χ²(2) = 5.991464.

    Scale: same partitioned-window transition device, 9 cells.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# lambda_goodman_kruskal
# ---------------------------------------------------------------------------


def _lambda_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_seg_region_cells_sql()},
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells),
    bymax AS (
      SELECT
        (SELECT CAST(sum(mx) AS BIGINT)
         FROM (SELECT max(n) AS mx FROM cells GROUP BY x) t) AS sum_max_by_x,
        (SELECT CAST(sum(mx) AS BIGINT)
         FROM (SELECT max(n) AS mx FROM cells GROUP BY y) t) AS sum_max_by_y,
        (SELECT CAST(max(ny) AS BIGINT)
         FROM (SELECT sum(n) AS ny FROM cells GROUP BY y) t) AS max_marg_y,
        (SELECT CAST(max(nx) AS BIGINT)
         FROM (SELECT sum(n) AS nx FROM cells GROUP BY x) t) AS max_marg_x
    )
    SELECT tot.n AS n_rows,
      CAST(((sum_max_by_x - max_marg_y) * 1000000)
           {dialect.div}(tot.n - max_marg_y) AS BIGINT) AS lambda_y_given_x_e6,
      CAST(((sum_max_by_y - max_marg_x) * 1000000)
           {dialect.div}(tot.n - max_marg_x) AS BIGINT) AS lambda_x_given_y_e6
    FROM bymax CROSS JOIN tot
    """


sql_query(
    "lambda_goodman_kruskal", _lambda_sql, "customer", "nation", "region",
    doc="""Goodman-Kruskal λ over the region × market-segment table:
    λ(Y|X) = (Σₓ maxᵧ n_xy − maxᵧ n_·y)/(N − maxᵧ n_·y) — the
    proportional reduction in MODAL prediction error from knowing the
    row category; both directions emitted (λ is asymmetric).  Pure
    integer counts, one ppm floor each.  λ = 0 does NOT mean
    independence — it means the same segment is modal in every region
    (the known λ blind spot; ``goodman_kruskal_tau`` and
    ``theil_uncertainty_coeff`` cover it on the same table).

    Scale: one broadcast-dim aggregation to ≤25 cells; everything
    after runs on the cell frame.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# goodman_kruskal_tau
# ---------------------------------------------------------------------------


def _gk_tau_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_seg_region_cells_sql()},
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells),
    condx AS (
      SELECT CAST(sum(s_e6) AS BIGINT) AS s_e6 FROM (
        SELECT CAST((sum(CAST(n AS {dialect.big}) * n) * 1000000)
                    {dialect.div}sum(n) AS BIGINT) AS s_e6
        FROM cells GROUP BY x
      ) t
    ),
    margy AS (
      SELECT CAST(sum(CAST(ny AS {dialect.big}) * ny) AS {dialect.big}) AS syy FROM (
        SELECT CAST(sum(n) AS BIGINT) AS ny FROM cells GROUP BY y
      ) t
    )
    SELECT tot.n AS n_rows,
      CAST((CAST(condx.s_e6 AS {dialect.big}) * tot.n - 1000000 * margy.syy)
           {dialect.div}(CAST(tot.n AS {dialect.big}) * tot.n - margy.syy)
           AS BIGINT) AS tau_y_given_x_e6
    FROM condx CROSS JOIN margy CROSS JOIN tot
    """


sql_query(
    "goodman_kruskal_tau", _gk_tau_sql, "customer", "nation", "region",
    doc="""Goodman-Kruskal τ(Y|X) over the same region × segment table as
    ``lambda_goodman_kruskal``: the PRE measure under PROPORTIONAL
    prediction — τ = (N·Σₓ(Σᵧn²ₓᵧ/nₓ·) − Σᵧn²·ᵧ)/(N² − Σᵧn²·ᵧ).
    Where λ only rewards moving the MODE, τ rewards any sharpening of
    the conditional distribution, so it detects association λ misses.
    One ppm floor per row category (≤5, documented) for the
    conditional sum, then exact integer combination.

    Scale: the ≤25-cell device; two tiny aggregates.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# theil_uncertainty_coeff
# ---------------------------------------------------------------------------


def _theil_u_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_seg_region_cells_sql()},
    marg AS (
      SELECT x, y, n,
        sum(n) OVER (PARTITION BY x) AS nx,
        sum(n) OVER (PARTITION BY y) AS ny,
        sum(n) OVER () AS nn
      FROM cells
    ),
    mi AS (
      SELECT CAST(sum(CAST(floor(1e6
          * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
          * log2(CAST(n * nn AS DOUBLE) / CAST(nx * ny AS DOUBLE)))
          AS BIGINT)) AS BIGINT) AS mi_microbits,
        CAST(min(nn) AS BIGINT) AS n_rows
      FROM marg
    ),
    hy AS (
      SELECT CAST(sum(CAST(floor(1e6
          * (CAST(ny AS DOUBLE) / CAST(nn AS DOUBLE))
          * log2(CAST(nn AS DOUBLE) / CAST(ny AS DOUBLE)))
          AS BIGINT)) AS BIGINT) AS hy_microbits
      FROM (SELECT y, min(ny) AS ny, min(nn) AS nn
            FROM marg GROUP BY y) t
    )
    SELECT mi.n_rows, mi.mi_microbits, hy.hy_microbits,
      CAST((mi.mi_microbits * 1000000){dialect.div}hy.hy_microbits AS BIGINT)
        AS u_y_given_x_e6
    FROM mi CROSS JOIN hy
    """


sql_query(
    "theil_uncertainty_coeff", _theil_u_sql, "customer", "nation", "region",
    doc="""Theil's uncertainty coefficient U(Y|X) = I(X;Y)/H(Y) on the
    region × segment table: the fraction of the segment distribution's
    entropy explained by region.  Completes the PRE triple — λ (mode),
    τ (variance), U (entropy) — on the SAME table, so disagreement
    between the three IS the analysis (λ=0 with U>0 reads "association
    without modal consequence").  Both I and H(Y) use
    ``mutual_information``'s per-cell micro-bit floor convention
    (deterministic IEEE on exact counts, floored before the cross-cell
    sum), so the ratio is a pure integer division.

    Scale: ≤25-cell frame windows after one broadcast-dim aggregate.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# yules_q_y
# ---------------------------------------------------------------------------


def _yule_sql(dialect: Dialect) -> str:
    return f"""
    WITH t AS (
      SELECT
        CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity > 25
                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity <= 25
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_quantity > 25
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(sum(CASE WHEN l_returnflag <> 'R' AND l_quantity <= 25
                 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lineitem
    )
    SELECT a, b, c, d,
      CAST(((CAST(a AS {dialect.big}) * d - CAST(b AS {dialect.big}) * c) * 1000000)
           {dialect.div}(CAST(a AS {dialect.big}) * d + CAST(b AS {dialect.big}) * c)
           AS BIGINT) AS yule_q_e6,
      CAST(floor((sqrt(CAST(a AS DOUBLE) * d) - sqrt(CAST(b AS DOUBLE) * c))
                 / (sqrt(CAST(a AS DOUBLE) * d) + sqrt(CAST(b AS DOUBLE) * c))
                 * 1e6) AS BIGINT) AS yule_y_e6,
      CAST((CAST(a AS {dialect.big}) * d * 1000000)
           {dialect.div}(CAST(b AS {dialect.big}) * c) AS BIGINT) AS odds_ratio_e6
    FROM t
    """


sql_query(
    "yules_q_y", _yule_sql, "lineitem",
    doc="""Yule's Q and colligation coefficient Y for the 2×2 association
    between returned lineitems and large quantities (> 25): Q =
    (ad−bc)/(ad+bc) — the odds ratio mapped onto [−1,1] — and Y =
    (√ad−√bc)/(√ad+√bc), Q's square-root-damped sibling that resists
    the |Q|→1 saturation under one near-empty cell.  Q and the raw
    odds ratio are exact integer rationals (one ppm floor); Y takes
    two IEEE sqrts on exact integer products in a fixed op order.
    The effect-size companions to a significance-only read (a χ² on
    this table answers "is there association", Q/Y answer "how much").

    Scale: ONE full scan collapsing to four counters — map-side
    combine does all the work; no exchange carries data-sized rows.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# newcombe_diff_ci
# ---------------------------------------------------------------------------


def _newcombe_sql(dialect: Dialect) -> str:
    z2 = _Z2_E6
    wilson = f"""
      SELECT seg, n, a,
        CAST((a * 1000000){dialect.div}n AS BIGINT) AS p_ppm,
        CAST(((CAST(a AS {dialect.big}) * 1000000 + {z2 // 2}) * 1000000)
             {dialect.div}(CAST(n AS {dialect.big}) * 1000000 + {z2}) AS BIGINT)
          AS center_ppm,
        CAST(floor(
          sqrt({z2} / 1e6 * (CAST(a * (n - a) AS DOUBLE) / n
                             + {z2} / 4e6))
          * 1e12 / (CAST(n AS DOUBLE) * 1e6 + {z2})) AS BIGINT)
          AS half_ppm
      FROM s
    """
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
    w AS ({wilson}),
    two AS (
      SELECT
        max(CASE WHEN seg = 'BUILDING' THEN p_ppm END) AS p1,
        max(CASE WHEN seg = 'BUILDING' THEN center_ppm - half_ppm END)
          AS l1,
        max(CASE WHEN seg = 'BUILDING' THEN center_ppm + half_ppm END)
          AS u1,
        max(CASE WHEN seg = 'MACHINERY' THEN p_ppm END) AS p2,
        max(CASE WHEN seg = 'MACHINERY' THEN center_ppm - half_ppm END)
          AS l2,
        max(CASE WHEN seg = 'MACHINERY' THEN center_ppm + half_ppm END)
          AS u2
      FROM w
    )
    SELECT p1 AS p1_ppm, p2 AS p2_ppm, p1 - p2 AS diff_ppm,
      p1 - p2 - CAST(floor(sqrt(
          CAST(p1 - l1 AS DOUBLE) * (p1 - l1)
          + CAST(u2 - p2 AS DOUBLE) * (u2 - p2))) AS BIGINT)
        AS newcombe_lo_ppm,
      p1 - p2 + CAST(floor(sqrt(
          CAST(u1 - p1 AS DOUBLE) * (u1 - p1)
          + CAST(p2 - l2 AS DOUBLE) * (p2 - l2))) AS BIGINT)
        AS newcombe_hi_ppm,
      p1 - p2 - CAST(floor(sqrt(
          CAST(p1 - l1 AS DOUBLE) * (p1 - l1)
          + CAST(u2 - p2 AS DOUBLE) * (u2 - p2))) AS BIGINT) > 0
        OR p1 - p2 + CAST(floor(sqrt(
          CAST(u1 - p1 AS DOUBLE) * (u1 - p1)
          + CAST(p2 - l2 AS DOUBLE) * (p2 - l2))) AS BIGINT) < 0
        AS excludes_zero
    FROM two
    """


sql_query(
    "newcombe_diff_ci", _newcombe_sql, "orders", "customer",
    doc="""Newcombe-Wilson 95% CI for the DIFFERENCE in urgent-order share
    between BUILDING and MACHINERY customers: take each segment's
    Wilson interval (``wilson_score_interval``'s exact-ppm device,
    same z² literal) and square-and-add the inner arms — lower =
    Δ − √((p₁−l₁)² + (u₂−p₂)²), upper = Δ + √((u₁−p₁)² + (p₂−l₂)²).
    The Wald difference CI both undercovers and can cross ±1;
    Newcombe's method 10 inherits Wilson's boundary behaviour and is
    the standard two-proportion report.  All quantities ppm integers;
    two IEEE sqrts on exact ppm differences, floored.

    Scale: one 2-row aggregation behind a broadcast dim join.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# benjamini_yekutieli_audit
# ---------------------------------------------------------------------------


def _by_sql(dialect: Dialect) -> str:
    return f"""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_custkey,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey
    ),
    arms AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM per_order p JOIN customer c ON c.c_custkey = p.o_custkey
      GROUP BY c.c_nationkey
    ),
    z AS (
      SELECT nationkey, n_a, c_a, n_b, c_b,
             CAST(floor(abs(
               (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / sqrt(
                   (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(c_a + c_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))
                 )
             ) * 1e6) AS BIGINT) AS z_abs_e6
      FROM arms
      WHERE n_a > 0 AND n_b > 0
        AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b
    ),
    ranked AS (
      SELECT z.*,
             CAST(row_number() OVER (ORDER BY z_abs_e6 DESC, nationkey)
                  AS BIGINT) AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM z
    ),
    flagged AS (
      SELECT r.*, b.thr_e6,
             CASE WHEN r.z_abs_e6 >= b.thr_e6 THEN r.p_rank ELSE 0 END
               AS ok_i
      FROM ranked r
      JOIN (VALUES {_BY_VALUES_SQL}) AS b(m, i, thr_e6)
        ON b.m = r.m_tests AND b.i = r.p_rank
    )
    SELECT nationkey, n_a, c_a, n_b, c_b, z_abs_e6, p_rank, m_tests,
           CAST(thr_e6 AS BIGINT) AS thr_e6,
           CAST(CASE WHEN p_rank <= max(ok_i) OVER () THEN 1 ELSE 0 END
                AS INT) AS rejected
    FROM flagged
    """


sql_query(
    "benjamini_yekutieli_audit", _by_sql, "orders", "lineitem", "customer",
    doc="""Benjamini-Yekutieli FDR control (q = 0.10) over the SAME m ≤ 25
    per-nation two-proportion tests as ``fdr_bh_audit``, with the
    harmonic dependence penalty: p₍ᵢ₎ ≤ q·i/(m·c(m)), c(m) = Σ_{{j≤m}}
    1/j.  The per-nation z-statistics share the pooled return-rate
    denominator, so BH's PRDS assumption is not actually guaranteed
    here — BY is valid under ARBITRARY dependence, at the price of the
    ~ln(m) threshold haircut.  Running both audits side by side shows
    the price of the guarantee: any nation BH rejects but BY keeps is
    exactly the dependence-risk margin.  Same literal-threshold device
    as BH (Φ⁻¹ folded into per-(m,i) integer literals at build time —
    zero erf/Φ parity surface; the runtime gate is pure integers).

    Scale: one data-sized aggregation (per-order return flag, map-side
    combined) then ≤25-row frames throughout.

    Reference parity: beyond-reference statistics tier.""",
)
