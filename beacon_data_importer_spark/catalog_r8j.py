"""Round-8 catalog, tier 10 (post-slot extras, round-9 promotion
candidates) —

* ``seasonal_periodogram_audit`` — which cycle dominates daily
  revenue?  Goertzel-style single-frequency power at the four
  business periods (7/30/91/365 days) computed as EXACT integer dot
  products of the deviation series against PRECOMPUTED ppm
  cosine/sine tables (the literals are generated once in Python and
  embedded in BOTH dialects, so no trig function ever executes inside
  an engine).  ``hourly_seasonality``/``stl_decomposition_lite``
  assume their period; this measures which period earns it.
* ``median_ci_order_stat`` — distribution-free confidence interval
  for the median of order values by order statistics: ranks
  l,u = (n ∓ 1.96√n)/2 (the classical binomial normal approximation;
  √n on an exact integer radicand), then the three order statistics
  read off the $10-bucket cumulative histogram — no sort of the data,
  no bootstrap, no RNG.  ``bootstrap_ci_revenue`` resamples for the
  MEAN; this is the exact-rank route for the MEDIAN.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

import math

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql


# ---------------------------------------------------------------------------
# seasonal_periodogram_audit
# ---------------------------------------------------------------------------

_PERIODS = (7, 30, 91, 365)


def _trig_rows() -> str:
    """(period, residue, cos_ppm, sin_ppm) literal rows — identical
    strings in both dialects."""
    rows = []
    for p in _PERIODS:
        for r in range(p):
            c = math.floor(1e6 * math.cos(2 * math.pi * r / p))
            s = math.floor(1e6 * math.sin(2 * math.pi * r / p))
            rows.append(f"({p}, {r}, {c}, {s})")
    return ", ".join(rows)


def _pgram_sql(dialect: Dialect) -> str:
    vals = _trig_rows()
    trig = (
        f"SELECT p, r, c, s FROM VALUES {vals} AS t(p, r, c, s)"
        if dialect.spark
        else f"SELECT p, r, c, s FROM (VALUES {vals}) AS t(p, r, c, s)"
    )
    hint = dialect.broadcast("tg")
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM day
    ),
    dev AS (
      SELECT day.t, CAST(st.n * day.y - st.s AS BIGINT) AS d
      FROM day CROSS JOIN st
    ),
    spine AS (SELECT DISTINCT p FROM ({trig}) x),
    devp AS (
      SELECT {dialect.broadcast("sp")}dev.d, sp.p,
        dev.t % sp.p AS r
      FROM dev CROSS JOIN spine sp
    ),
    comps AS (
      SELECT {hint}devp.p AS period,
        CAST(sum(CAST(devp.d AS {dialect.big}) * tg.c) AS {dialect.big}) AS cc,
        CAST(sum(CAST(devp.d AS {dialect.big}) * tg.s) AS {dialect.big}) AS ss
      FROM devp JOIN ({trig}) tg
        ON tg.p = devp.p AND tg.r = devp.r
      GROUP BY devp.p
    ),
    pw AS (
      SELECT period,
        CAST((cc{dialect.div}1000000) * (cc{dialect.div}1000000)
             + (ss{dialect.div}1000000) * (ss{dialect.div}1000000) AS {dialect.big}) AS power
      FROM comps
    ),
    mx AS (SELECT max(power) AS mp FROM pw)
    SELECT pw.period, CAST(pw.power AS BIGINT) AS power,
      CAST((pw.power * 1000000){dialect.div}mx.mp AS BIGINT) AS rel_power_ppm,
      pw.power = mx.mp AS dominant
    FROM pw CROSS JOIN mx
    """


sql_query(
    "seasonal_periodogram_audit", _pgram_sql, "orders",
    doc="""Single-frequency spectral power of daily revenue at the four
    business periods: per period p, C = Σ dev_t·cos_ppm(t mod p) and
    S = Σ dev_t·sin_ppm(t mod p) with the trig values baked in as
    shared ppm literals (493 rows, broadcast), power = (C/1e6)² +
    (S/1e6)² — every arithmetic step integer, every floor placed
    identically.  Output: absolute and max-relative power per period
    plus the dominant flag.

    Scale: one equi-join of the calendar-bounded deviation frame
    against a broadcast 493-row trig table, one 4-group aggregation —
    the orders scan is the only thing that grows.""",
)


# ---------------------------------------------------------------------------
# median_ci_order_stat
# ---------------------------------------------------------------------------

_MCI_BUCKET_C = 1000  # $10 units
#: 1.959964·1e6 — the two-sided 95% normal quantile, ppm
_Z_E6 = 1_959_964


def _mci_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT){dialect.div}{_MCI_BUCKET_C}
        AS v
      FROM orders
    ),
    dist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY v),
    cum AS (
      SELECT v, c,
        sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
      FROM dist
    ),
    st AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(floor(sqrt(CAST(sum(c) AS DOUBLE)) * {_Z_E6} / 1000000)
             AS BIGINT) AS halfw
      FROM dist
    ),
    ranks AS (
      SELECT n,
        (n - halfw){dialect.div}2 AS l_rank,
        n + 1 - (n - halfw){dialect.div}2 AS u_rank,
        (n + 1){dialect.div}2 AS m_rank
      FROM st
    )
    SELECT r.n AS n_orders, r.l_rank, r.u_rank,
      (SELECT min(v) FROM cum WHERE cm >= r.m_rank) * {_MCI_BUCKET_C}
        AS median_c,
      (SELECT min(v) FROM cum WHERE cm >= r.l_rank) * {_MCI_BUCKET_C}
        AS ci_lo_c,
      (SELECT min(v) FROM cum WHERE cm >= r.u_rank) * {_MCI_BUCKET_C}
        AS ci_hi_c
    FROM ranks r
    """


sql_query(
    "median_ci_order_stat", _mci_sql, "orders",
    doc="""Distribution-free 95% CI for the median order value: the
    classical order-statistic ranks l = (n − z√n)/2 and
    u = n + 1 − l (binomial normal approximation; √n is the only
    non-integer step and its radicand is exact), then X₍ₗ₎, X₍ₘ₎,
    X₍ᵤ₎ read from the cumulative $10-bucket histogram with three
    bounded scalar lookups — no data sort, no resampling.
    ``bootstrap_ci_revenue`` covers the mean by resampling;
    ``exact_quantiles`` gives points without intervals; this gives
    the median WITH its exact-rank interval.

    Scale: the histogram/cumsum runs over the price-bounded
    distinct-bucket frame (BOUNDED_FRAME_AUDITED class); everything
    else is 1-row arithmetic.""",
)
