"""Round-10 catalog, tier 8 — inequality, concentration, and
cardinality-sketch second wave over the customer-revenue histogram.

``gini_lorenz_audit`` (r9d) established the binned-exact doctrine for
inequality reads: coarsen customer revenue to $1000 buckets, then every
statistic is EXACT integer arithmetic on the bounded DISTINCT-bucket
frame (the n² pair space never materializes).  This tier completes the
inequality toolbox on the same device, plus the KMV cardinality sketch
that pairs with ``cms_frequency_audit``'s count-min frequency sketch:

* ``hoover_index`` — the Robin Hood index: the share of total revenue
  that would have to move to equalize, ½Σ|xᵢ−μ|/Σx.  Fully exact via
  the |N·v − S| device (no division by N until the final floor).
* ``gini_mean_difference`` — Gini's Δ: the mean absolute pairwise gap
  E|X−X'| (U-statistic form, n(n−1) denominator) from the SAME
  cumulative pair-mass the Gini uses, with the Gini·2μ·n/(n−1)
  identity reported as a cross-check column.
* ``atkinson_index`` — Atkinson's A(ε=1) = 1 − geomean/mean, the
  welfare-theoretic inequality read.  Per-BUCKET ln floors feed an
  integer sum (float addition order never varies), one scalar exp.
* ``theil_t_decomposition`` — Theil's T with the between-nation /
  within-nation split: T = T_between + T_within, the additive
  decomposition entropy indexes are chosen for.  Same per-bucket
  ln-floor device; the ≤25 per-nation terms floor individually before
  the integer sum (portable across engine aggregation orders).
* ``palma_ratio`` — top-10% revenue share over bottom-40% share.
  Binned-EXACT boundary split: every unit in a bucket holds exactly
  the bucket value, so taking (k − cn_prev) units from the boundary
  bucket is exact arithmetic, not interpolation.
* ``lorenz_asymmetry`` — the Lorenz asymmetry coefficient
  LAC = F(μ) + L(μ): >1 means inequality is driven by a few LARGE
  values, <1 by many small ones — the direction Gini cannot see.
* ``hill_diversity_numbers`` — Hill numbers q=0/1/2 of the document
  source distribution: richness, exp(Shannon), inverse Simpson — the
  unified diversity family (corpus-mixture effective-source counts).
* ``kmv_distinct_audit`` — the k-minimum-values cardinality sketch:
  estimate #distinct part keys from the k smallest portable 60-bit
  hashes, priced against the exact distinct count.  The KMV estimator
  is what a 100 TB engine runs when count(DISTINCT) cannot shuffle.

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

#: KMV sketch size: rel. std. error ≈ 1/√(k−2) ≈ 9%.  128 (not the
#: production 1024+) so the sketch stays meaningfully SMALLER than the
#: key universe at every test SF (sf0.001 has only 200 distinct part
#: keys — a k ≥ that would silently degenerate into the exact count).
_KMV_K = 128
#: 2^60 — the hash-space size of portable_hash64 (15 hex digits).
_HASH_SPACE = 1 << 60


def _cust_hist_sql(dialect: Dialect) -> str:
    """Customer revenue coarsened to $1000 buckets (v = cents div 1e5),
    the r9d ``gini_lorenz_audit`` frame: h(v, c) histogram over the
    DISTINCT buckets, cum(cn, cs) ascending cumulatives, tot(n, s).
    The cumulative window runs over the DISTINCT-bucket frame
    (price-range-bounded — BOUNDED_FRAME_AUDITED class)."""
    return f"""
    cust AS (
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
    )"""


# ---------------------------------------------------------------------------
# hoover_index
# ---------------------------------------------------------------------------


def _hoover_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cust_hist_sql(dialect)},
    dev AS (
      SELECT CAST(sum(CAST(h.c AS {dialect.big})
                      * abs(CAST(h.v AS {dialect.big}) * tot.n - tot.s))
                  AS {dialect.big}) AS sumdev
      FROM h CROSS JOIN tot
    )
    SELECT tot.n AS n_customers, CAST(tot.s AS BIGINT) AS total_rev_k,
      CAST((dev.sumdev * 1000000)
           {dialect.div}(2 * CAST(tot.n AS {dialect.big}) * tot.s) AS BIGINT)
        AS hoover_e6
    FROM dev CROSS JOIN tot
    """


sql_query(
    "hoover_index", _hoover_sql, "customer", "orders",
    doc="""Hoover (Robin Hood) index of customer revenue: the fraction of
    total revenue that must be transferred from above-mean to
    below-mean customers to equalize — ½·Σ|xᵢ − μ|/Σx, the most
    interpretable inequality number and the max vertical gap of the
    Lorenz curve.  The mean never materializes: |xᵢ − μ| scales to
    |N·vᵢ − S| (exact integers), one histogram pass, one ppm floor.
    Binned-exact on the $1000-bucket collapse (the gini_lorenz_audit
    convention — every unit in a bucket holds the bucket value).

    Scale: the per-customer revenue aggregate shuffles on custkey
    (hash-balanced); everything after runs on the bounded
    DISTINCT-bucket histogram — no window needed at all.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# gini_mean_difference
# ---------------------------------------------------------------------------


def _gmd_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cust_hist_sql(dialect)},
    pairmass AS (
      SELECT CAST(sum(CAST(cum.c AS {dialect.big}) * cum.v * (cum.cn - cum.c)
                      - cum.c * (cum.cs - CAST(cum.c AS {dialect.big}) * cum.v))
                  AS {dialect.big}) AS pm
      FROM cum
    )
    SELECT tot.n AS n_customers,
      CAST((2 * pairmass.pm * 1000000)
           {dialect.div}(CAST(tot.n AS {dialect.big}) * (tot.n - 1)) AS BIGINT)
        AS gmd_e6,
      CAST((pairmass.pm * 1000000)
           {dialect.div}(CAST(tot.n AS {dialect.big}) * tot.s) AS BIGINT)
        AS gini_ppm,
      CAST((pairmass.pm * 1000000)
           {dialect.div}(CAST(tot.n - 1 AS {dialect.big}) * tot.s) AS BIGINT)
        AS gmd_over_2mu_e6
    FROM pairmass CROSS JOIN tot
    """


sql_query(
    "gini_mean_difference", _gmd_sql, "customer", "orders",
    doc="""Gini's mean difference Δ = E|X − X'| of customer revenue, the
    U-statistic scale estimate (denominator n(n−1)) Gini built his
    index from.  The Σᵢⱼ|vᵢ−vⱼ| pair mass comes from the SAME
    ascending-cumulative device as ``gini_lorenz_audit`` — each bucket
    contributes v·c·N_below − c·S_below, so the n² pair space never
    materializes.  Cross-check columns: gini_ppm (the population Gini,
    must equal gini_lorenz_audit's) and gmd_over_2mu_e6 = Δ/(2μ) =
    Gini·n/(n−1) — the exact sample-vs-population identity, verified
    by the brute test.  Δ is in $1000 revenue units, e6-scaled.

    Scale: identical to ``gini_lorenz_audit`` — custkey-hash shuffle,
    then the cumulative window over the DISTINCT $1000-bucket frame
    (price-range-bounded, BOUNDED_FRAME_AUDITED).  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# atkinson_index
# ---------------------------------------------------------------------------


def _atkinson_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cust_hist_sql(dialect)},
    pos AS (
      SELECT CAST(sum(c) AS BIGINT) AS np,
        CAST(sum(CAST(c AS {dialect.big}) * v) AS {dialect.big}) AS sp,
        CAST(sum(c * CAST(floor(1000000 * ln(CAST(v AS DOUBLE)))
                          AS BIGINT)) AS {dialect.big}) AS slog_e6
      FROM h WHERE v > 0
    )
    SELECT np AS n_positive,
      CAST(floor(1000000 * exp(CAST(slog_e6 AS DOUBLE) / np / 1000000))
        AS BIGINT) AS geomean_e6,
      CAST(floor(1000000
        * (1.0 - exp(CAST(slog_e6 AS DOUBLE) / np / 1000000)
                 * np / CAST(sp AS DOUBLE))) AS BIGINT) AS atkinson_e6
    FROM pos
    """


sql_query(
    "atkinson_index", _atkinson_sql, "customer", "orders",
    doc="""Atkinson inequality index at ε = 1: A = 1 − geomean/mean, the
    welfare-theoretic read ("what fraction of total revenue could be
    discarded if it were equally distributed, for equal welfare").
    The geometric mean uses the house float-determinism device: ln is
    floored to e6 PER DISTINCT BUCKET (a bounded frame of
    independently-rounded rows — no float accumulation whose order an
    engine could vary), the weighted sum is integer, and exactly two
    scalar float ops (exp, the final floor) finish.  Zero-revenue
    customers are excluded (geomean degenerates at 0) — documented
    positive-support convention; ``hoover_index`` covers the full
    frame.

    Scale: custkey-hash shuffle into the bounded bucket histogram; no
    window.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# theil_t_decomposition
# ---------------------------------------------------------------------------


def _theil_sql(dialect: Dialect) -> str:
    return f"""
    WITH cust AS (
      SELECT c.c_custkey, n.n_name AS nation,
        CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                      0) AS BIGINT){dialect.div}100000 AS v
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, n.n_name
    ),
    hh AS (
      SELECT nation, v, CAST(count(*) AS BIGINT) AS c
      FROM cust GROUP BY nation, v
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(CAST(c AS {dialect.big}) * v) AS {dialect.big}) AS s,
        CAST(sum(CASE WHEN v > 0 THEN
          CAST(c AS {dialect.big}) * v
          * CAST(floor(1000000 * ln(CAST(v AS DOUBLE))) AS BIGINT)
          ELSE 0 END) AS {dialect.big}) AS sxlog_e6
      FROM hh
    ),
    bynat AS (
      SELECT nation, CAST(sum(c) AS BIGINT) AS ng,
        CAST(sum(CAST(c AS {dialect.big}) * v) AS {dialect.big}) AS sg
      FROM hh GROUP BY nation
    ),
    tb AS (
      SELECT CAST(sum(CAST(floor(
          1000000 * (CAST(sg AS DOUBLE) / CAST(tot.s AS DOUBLE))
          * ln((CAST(sg AS DOUBLE) / ng)
               / (CAST(tot.s AS DOUBLE) / tot.n))) AS BIGINT))
        AS BIGINT) AS t_between_e6
      FROM bynat CROSS JOIN tot
      WHERE sg > 0
    ),
    tt AS (
      SELECT tot.n AS n,
        CAST(floor(CAST(tot.sxlog_e6 AS DOUBLE) / CAST(tot.s AS DOUBLE)
                   - 1000000 * ln(CAST(tot.s AS DOUBLE) / tot.n))
          AS BIGINT) AS t_total_e6
      FROM tot
    )
    SELECT tt.n AS n_customers, tt.t_total_e6,
      tb.t_between_e6,
      tt.t_total_e6 - tb.t_between_e6 AS t_within_e6
    FROM tt CROSS JOIN tb
    """


sql_query(
    "theil_t_decomposition", _theil_sql, "customer", "orders", "nation",
    doc="""Theil's T inequality of customer revenue with the additive
    between-nation / within-nation decomposition — the property entropy
    indexes are chosen for (Gini does not decompose):

      T = (1/S)·Σ x·ln x − ln(S/N) = T_between + T_within,
      T_between = Σ_g (S_g/S)·ln((S_g/N_g)/(S/N)).

    Float-determinism device: Σ x·ln x floors ln PER DISTINCT
    (nation, $1000-bucket) cell into an integer weighted sum; the ≤25
    per-nation between-terms floor individually before their integer
    sum, so no engine-ordered float accumulation exists.  x = 0 cells
    contribute 0 (the x·ln x limit) while staying in N and μ;
    T_within is reported as the exact integer difference (the additive
    identity holds by construction — the brute test replays both
    sides).

    Scale: one custkey-hash shuffle, one bounded (nation × bucket)
    histogram, a 25-row nation rollup.  No window.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# palma_ratio
# ---------------------------------------------------------------------------


def _palma_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cust_hist_sql(dialect)},
    k AS (
      SELECT n, s, (4 * n){dialect.div}10 AS k40, (9 * n){dialect.div}10 AS k90
      FROM tot
    ),
    b40 AS (
      SELECT min(cum.v) AS v, min(cum.c) AS c, min(cum.cn) AS cn,
        CAST(min(cum.cs) AS {dialect.big}) AS cs
      FROM cum CROSS JOIN k WHERE cum.cn >= k.k40
    ),
    b90 AS (
      SELECT min(cum.v) AS v, min(cum.c) AS c, min(cum.cn) AS cn,
        CAST(min(cum.cs) AS {dialect.big}) AS cs
      FROM cum CROSS JOIN k WHERE cum.cn >= k.k90
    ),
    shares AS (
      SELECT k.n, k.s,
        (b40.cs - CAST(b40.c AS {dialect.big}) * b40.v)
          + CAST(k.k40 - (b40.cn - b40.c) AS {dialect.big}) * b40.v
          AS bottom40_rev,
        k.s - ((b90.cs - CAST(b90.c AS {dialect.big}) * b90.v)
               + CAST(k.k90 - (b90.cn - b90.c) AS {dialect.big}) * b90.v)
          AS top10_rev
      FROM k CROSS JOIN b40 CROSS JOIN b90
    )
    SELECT n AS n_customers,
      CAST((bottom40_rev * 1000000){dialect.div}s AS BIGINT)
        AS bottom40_share_e6,
      CAST((top10_rev * 1000000){dialect.div}s AS BIGINT) AS top10_share_e6,
      CAST((top10_rev * 1000000){dialect.div}bottom40_rev AS BIGINT)
        AS palma_e6
    FROM shares
    """


sql_query(
    "palma_ratio", _palma_sql, "customer", "orders",
    doc="""Palma ratio of customer revenue: top-10% share over bottom-40%
    share — the inequality read policy work prefers to the Gini
    (Palma's observation: the middle 50% share is stable; inequality
    action is in the tails).  Binned-EXACT tail split: the boundary
    bucket's units all hold exactly the bucket value v, so taking
    (k − cn_prev) units of value v from it is exact integer
    arithmetic, not interpolation (cn/cs are monotone in v, so the
    MIN-over-qualifying device reads the first bucket reaching each
    rank threshold — the gini_lorenz_audit decile idiom).  k40 = ⌊.4n⌋
    and k90 = ⌊.9n⌋ — floor rank convention, documented.

    Scale: custkey-hash shuffle, cumulative window over the DISTINCT
    $1000-bucket frame (price-range-bounded, BOUNDED_FRAME_AUDITED),
    two 1-row boundary reads.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# lorenz_asymmetry
# ---------------------------------------------------------------------------


def _lac_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cust_hist_sql(dialect)},
    below AS (
      SELECT CAST(sum(h.c) AS BIGINT) AS cnt_b,
        CAST(coalesce(sum(CAST(h.c AS {dialect.big}) * h.v), 0) AS {dialect.big})
          AS rev_b
      FROM h CROSS JOIN tot
      WHERE CAST(h.v AS {dialect.big}) * tot.n < tot.s
    )
    SELECT tot.n AS n_customers,
      CAST((below.cnt_b * 1000000){dialect.div}tot.n AS BIGINT) AS f_mu_e6,
      CAST((below.rev_b * 1000000){dialect.div}tot.s AS BIGINT) AS l_mu_e6,
      CAST((below.cnt_b * 1000000){dialect.div}tot.n
           + (below.rev_b * 1000000){dialect.div}tot.s AS BIGINT) AS lac_e6,
      CAST((below.cnt_b * 1000000){dialect.div}tot.n
           + (below.rev_b * 1000000){dialect.div}tot.s AS BIGINT) > 1000000
        AS large_value_driven
    FROM below CROSS JOIN tot
    """


sql_query(
    "lorenz_asymmetry", _lac_sql, "customer", "orders",
    doc="""Lorenz asymmetry coefficient LAC = F(μ) + L(μ): the population
    share below the mean plus the revenue share below the mean.
    LAC > 1 ⇒ inequality is driven by a few LARGE values; LAC < 1 ⇒ by
    many small ones — the directional information a symmetric Gini
    discards (two distributions with equal Gini can sit on opposite
    sides of 1).  The mean never materializes: v < μ ⇔ v·N < S, exact
    integers ("lite": units exactly AT μ — measure-zero on this
    integer grid unless v·N = S — count as above; strict-below
    convention documented).  Two independent ppm floors sum into
    lac_e6 (sum-of-floors convention, replayed by the brute test).

    Scale: custkey-hash shuffle, one conditional aggregate over the
    bounded bucket histogram.  No window.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# hill_diversity_numbers
# ---------------------------------------------------------------------------


def _hill_sql(dialect: Dialect) -> str:
    return f"""
    WITH src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS q0,
        CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(CAST(c AS {dialect.big}) * c) AS {dialect.big}) AS sc2,
        CAST(sum(c * CAST(floor(1000000 * ln(CAST(c AS DOUBLE)))
                          AS BIGINT)) AS {dialect.big}) AS sclog_e6
      FROM src
    )
    SELECT q0 AS hill_q0_richness, n AS n_docs,
      CAST(floor(1000000 * exp(
        ln(CAST(n AS DOUBLE))
        - CAST(sclog_e6 AS DOUBLE) / n / 1000000)) AS BIGINT)
        AS hill_q1_e6,
      CAST((CAST(n AS {dialect.big}) * n * 1000000){dialect.div}sc2 AS BIGINT)
        AS hill_q2_e6
    FROM agg
    """


sql_query(
    "hill_diversity_numbers", _hill_sql, "documents",
    doc="""Hill numbers of the document source distribution — the unified
    diversity family ᵠD = (Σpᵢᵠ)^(1/(1−q)): q=0 the source richness,
    q=1 exp(Shannon entropy) (the effective source count weighting by
    frequency), q=2 the inverse Simpson index (weighting dominant
    sources).  The corpus-mixture read: how many EFFECTIVE sources is
    the training mix drawing from, and how fast does that collapse as
    q up-weights the head?  q1 = exp(ln N − Σc·ln c/N) uses the
    per-group ln-floor device (each of the bounded source groups
    floors independently; the weighted sum is integer); q2 =
    N²/Σc² is exact integer with one ppm floor.

    Scale: one map-side-combinable source aggregate (source
    cardinality is bounded), a 1-row reduction.  No window.  1 row
    out.

    Reference parity: beyond-reference statistics tier (documents
    table — LLM-pipeline corpus surface).""",
)


# ---------------------------------------------------------------------------
# kmv_distinct_audit
# ---------------------------------------------------------------------------


def _kmv_sql(dialect: Dialect) -> str:
    h = (
        "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT)"
        if dialect.spark
        else "CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    return f"""
    WITH hashes AS (
      SELECT DISTINCT {h} AS hv FROM lineitem
    ),
    kmin AS (
      SELECT hv FROM hashes ORDER BY hv LIMIT {_KMV_K}
    ),
    kth AS (
      SELECT CAST(max(hv) AS BIGINT) AS hk,
        CAST(count(*) AS BIGINT) AS kf
      FROM kmin
    ),
    exact AS (
      SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_nd
      FROM lineitem
    ),
    est AS (
      SELECT kf, hk,
        CAST(CASE WHEN kf < {_KMV_K} THEN CAST(kf AS {dialect.big})
          ELSE (CAST({_KMV_K} - 1 AS {dialect.big}) * {_HASH_SPACE}){dialect.div}hk
        END AS BIGINT) AS kmv_est
      FROM kth
    )
    SELECT est.kf AS k_filled, est.hk AS kth_hash,
      est.kmv_est AS kmv_estimate,
      exact.exact_nd AS exact_distinct,
      CAST((est.kmv_est - exact.exact_nd)
           * 1000000{dialect.div}exact.exact_nd AS BIGINT) AS rel_err_e6
    FROM est CROSS JOIN exact
    """


sql_query(
    "kmv_distinct_audit", _kmv_sql, "lineitem",
    doc="""KMV (k-minimum-values) cardinality sketch audit: estimate the
    distinct part-key count of lineitem as (k−1)·H/h₍ₖ₎ — h₍ₖ₎ the
    k-th smallest 60-bit portable hash (k=_KMV_K=128, H=2⁶⁰), with
    the underfilled-sketch guard: when fewer than k distinct hashes
    exist, the sketch holds the whole universe and kf IS the exact
    count, so the estimate short-circuits to kf (same CASE convention
    as ``kmv_merge_audit``) — priced against the exact
    count(DISTINCT).  THE mergeable distinct estimator for 100 TB
    scans: each partition keeps its k smallest hashes, the merge is a
    k-way min-heap union, and the error is ~1/√(k−2) ≈ 9% at k=128
    regardless of data size — exactly what a planner
    consults where an exact distinct would shuffle the key universe.
    The audit row carries signed rel_err_e6, so a drifting hash or a
    skew-broken sketch surfaces as a number, not a belief.  Pairs
    with ``cms_frequency_audit`` (frequency sketch) and
    ``ddsketch_quantile_audit`` (quantile sketch) to complete the
    sketch-audit battery.  portable_hash64 convention (md5 15-hex) so
    the oracle reproduces hashes bit-identically.

    Scale: the DISTINCT pre-collapse is the same shuffle the exact
    count pays; the k-min is a TakeOrdered (k-bounded, no global
    window).  At true scale the sketch replaces the distinct shuffle
    entirely (partial k-mins merge); here both run so the audit can
    price the estimate.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
