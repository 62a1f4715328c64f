"""Round-6 catalog tier (k): experiment design —

* ``ab_power_analysis`` — the two-proportion sample-size calculator:
  given the MEASURED baseline conversion rate and a target relative
  lift, the per-arm n required at 80% and 90% power (α=0.05
  two-sided): n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/(p₁−p₂)², with the
  z-sums embedded as Python-computed integer literals (the Φ⁻¹-table
  device of fdr_bh_audit) and the whole computation exact-integer
  with ceiling division.  This closes the experimentation loop the
  catalog already covers end-to-end: design (HERE) → randomize
  (hash-assignment, iv_wald/negative_sampling devices) → monitor
  (interim_analysis_audit) → test (ab_test_ztest, permutation_test) →
  variance-reduce (cuped_adjustment) → correct (fdr_bh_audit).

Reference parity: beyond-reference experimentation tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

#: floor(1e6·(z_{0.975} + z_power)) — Python-computed once
_PW_ZSUM_E6 = {80: 2_801_585, 90: 3_241_515}
_PW_LIFT_PPM = 100_000  # +10% relative lift to detect


def _pw_sql(dialect: Dialect) -> str:
    arms = " UNION ALL ".join(
        f"SELECT {p} AS power_pct, CAST({z} AS BIGINT) AS zsum_e6"
        for p, z in sorted(_PW_ZSUM_E6.items())
    )
    return f"""
    WITH base AS (
      SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  * 1000000 {dialect.div} count(*) AS BIGINT) AS p1_ppm
      FROM events
    ),
    rates AS (
      SELECT p1_ppm,
             CAST(p1_ppm + p1_ppm * {_PW_LIFT_PPM} {dialect.div} 1000000
                  AS BIGINT) AS p2_ppm
      FROM base
    ),
    zs AS ({arms})
    SELECT z.power_pct, r.p1_ppm, r.p2_ppm,
           CAST((CAST(z.zsum_e6 AS {dialect.big}) * z.zsum_e6
                 * (CAST(r.p1_ppm AS {dialect.big}) * (1000000 - r.p1_ppm)
                    + CAST(r.p2_ppm AS {dialect.big}) * (1000000 - r.p2_ppm))
                 + CAST(r.p2_ppm - r.p1_ppm AS {dialect.big})
                   * (r.p2_ppm - r.p1_ppm) * 1000000000000 - 1)
                {dialect.div} (CAST(r.p2_ppm - r.p1_ppm AS {dialect.big})
                       * (r.p2_ppm - r.p1_ppm) * 1000000000000)
                AS BIGINT) AS n_per_arm
    FROM rates r CROSS JOIN zs z
    ORDER BY z.power_pct
    """


sql_query(
    "ab_power_analysis", _pw_sql, "events",
    doc="""Two-proportion power analysis from the measured baseline: the
    per-arm sample size needed to detect a +10% relative lift on the
    event stream's purchase share (the fraction of events that
    convert — every user purchasing eventually makes the USER-level
    rate a degenerate 100% baseline on this data, which is itself the
    classic power-analysis pitfall: pick a metric with headroom) at
    80% and 90% power (α=0.05 two-sided).

    n = ⌈(z_{{α/2}}+z_β)²·(p₁q₁+p₂q₂)/(p₁−p₂)²⌉ — the z-sums are
    floored 1e6-scaled LITERALS computed once in Python from the
    stdlib NormalDist (no erf at query time, the fdr_bh_audit device);
    rates are exact ppm; the ceiling is the exact (num+den−1) div den;
    every product lives in DECIMAL(38,0)/HUGEINT.  Output: one row per
    power target.

    The floored z-literal makes n at most one subject LIBERAL per
    flooring — identical in both engines, so parity is unconditional,
    and the bias is a documented ≤1-unit understatement, not drift.

    Scale: two distinct-count aggregates on the stream, constant work
    after — the design query you run on 100 TB of historical events
    before the experiment exists.

    Reference parity: beyond-reference experimentation tier.""",
)
