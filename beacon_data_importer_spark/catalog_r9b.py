"""Round-9 catalog, tier 2: regression & time-series devices —

* ``quantile_regression_irls`` — median (LAD) regression of daily
  revenue on time by 3 unrolled IRLS steps (ROADMAP round-9 item):
  weights are EXACT integer quotients 1e12 div max(|r|,δ) of the
  exact integer residuals, each weighted OLS solve is two staged ppm
  floors — no recursion (fix-ladder shape (b): bounded frame
  materialized per step as chained CTEs, one reference per level).
* ``granger_lag1_test`` — does daily ORDER COUNT Granger-cause daily
  revenue?  Restricted (y on lag-y) vs unrestricted (y on lag-y +
  lag-x) R² assembled from the three ppm-floored pairwise
  correlations via the partial-correlation identity — the
  ``partial_correlation_triples`` device carrying an F gate.
* ``arch_lm_test`` — Engle's ARCH(1) LM test on the exact integer
  OLS residuals (the ``durbin_watson_test`` frame): LM = m·R² where
  R² is the squared ppm correlation of (e²ₜ, e²ₜ₋₁).  The
  volatility-clustering complement to DW's level-autocorrelation.
* ``yule_walker_ar2`` — AR(2) by Yule-Walker from the ppm-floored
  r₁, r₂: φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²), innovation
  variance ratio 1 − φ₁r₁ − φ₂r₂, and the stationarity-triangle
  verdict — the parametric counterpart to ``pacf_durbin_levinson``'s
  order diagnosis.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql, _resid_ctes

#: floor(1e6 · χ²(df=1, α=0.05))
_CHI2_DF1_E6 = 3_841_458


def _corr_e6(dialect: Dialect, n: str, su: str, sv: str, suu: str,
             svv: str, suv: str) -> str:
    """floor(1e6·corr) from exact integer moment columns — the
    ``partial_correlation_triples`` device (one sqrt per marginal,
    radicands exact)."""
    return (
        f"CAST(floor(1000000 * CAST({n} * {suv}"
        f" - CAST({su} AS {dialect.big}) * {sv} AS DOUBLE)"
        f" / (sqrt(CAST({n} * {suu} - CAST({su} AS {dialect.big}) * {su}"
        f" AS DOUBLE)) * sqrt(CAST({n} * {svv}"
        f" - CAST({sv} AS {dialect.big}) * {sv} AS DOUBLE)))) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# quantile_regression_irls
# ---------------------------------------------------------------------------

_QR_ITERS = 3
_QR_DELTA_E6 = 1_000_000  # |r| floor: 1 revenue unit, in e6 scale


def _qr_sql(dialect: Dialect) -> str:
    stages = []
    prev = "c0"
    for k in range(1, _QR_ITERS + 1):
        stages.append(f"""w{k} AS (
      SELECT day.t, day.y,
        1000000000000{dialect.div}greatest(
          abs(day.y * 1000000 - p.a_ppm - p.b_ppm * day.t),
          {_QR_DELTA_E6}) AS w
      FROM day CROSS JOIN {prev} p
    ),
    s{k} AS (
      SELECT CAST(sum(w) AS BIGINT) AS sw,
        CAST(sum(CAST(w AS {dialect.big}) * t) AS {dialect.big}) AS swt,
        CAST(sum(CAST(w AS {dialect.big}) * y) AS {dialect.big}) AS swy,
        CAST(sum(CAST(w AS {dialect.big}) * t * t) AS {dialect.big}) AS swtt,
        CAST(sum(CAST(w AS {dialect.big}) * t * y) AS {dialect.big}) AS swty
      FROM w{k}
    ),
    c{k} AS (
      SELECT
        CAST(((sw * swty - swt * swy) * 1000000)
             {dialect.div}(sw * swtt - swt * swt) AS BIGINT) AS b_ppm,
        CAST((swy * 1000000
              - ((sw * swty - swt * swy) * 1000000)
                {dialect.div}(sw * swtt - swt * swt) * swt)
             {dialect.div}sw AS BIGINT) AS a_ppm
      FROM s{k}
    )""")
        prev = f"c{k}"
    chain = ",\n    ".join(stages)
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(t) AS BIGINT) AS s_t, CAST(sum(y) AS BIGINT) AS s_y,
        CAST(sum(CAST(t AS {dialect.big}) * t) AS {dialect.big}) AS s_tt,
        CAST(sum(CAST(t AS {dialect.big}) * y) AS {dialect.big}) AS s_ty
      FROM day
    ),
    c0 AS (
      SELECT
        CAST(((n * s_ty - CAST(s_t AS {dialect.big}) * s_y) * 1000000)
             {dialect.div}(n * s_tt - CAST(s_t AS {dialect.big}) * s_t) AS BIGINT)
          AS b_ppm,
        CAST((CAST(s_y AS {dialect.big}) * 1000000
              - ((n * s_ty - CAST(s_t AS {dialect.big}) * s_y) * 1000000)
                {dialect.div}(n * s_tt - CAST(s_t AS {dialect.big}) * s_t) * s_t)
             {dialect.div}n AS BIGINT) AS a_ppm
      FROM st
    ),
    {chain},
    fin AS (
      SELECT st.n,
        CAST(sum(abs(day.y * 1000000 - p.a_ppm - p.b_ppm * day.t))
             {dialect.div}st.n AS BIGINT) AS mean_abs_resid_e6,
        min(p.a_ppm) AS a_ppm, min(p.b_ppm) AS b_ppm
      FROM day CROSS JOIN {prev} p CROSS JOIN st
      GROUP BY st.n
    )
    SELECT n AS n_days, a_ppm AS intercept_ppm, b_ppm AS slope_ppm,
      mean_abs_resid_e6
    FROM fin
    """


sql_query(
    "quantile_regression_irls", _qr_sql, "orders",
    doc="""Median (LAD) regression of daily revenue on time by iteratively
    reweighted least squares, 3 steps unrolled: wᵢ = 1/max(|rᵢ|, δ)
    computed as the EXACT integer quotient 1e12 div max(|r_e6|, 1e6)
    of the exact e6-scaled residual (previous step's ppm coefficients
    never divide into the data), then each weighted OLS solve floors
    exactly twice (slope, intercept).  Every arithmetic step is
    integer, so the 3-step trajectory is bit-identical across engines.
    OLS minimizes squared error and chases the whale days;
    LAD/median regression is the robust trend the revenue series
    actually has (compare ``theil_sen_trend``: pairwise-median slope,
    this: IRLS-smoothed global fit with an intercept).

    Recursion shape (fix-ladder b): dependent recurrence over the
    BOUNDED calendar-day frame — chained CTEs, each level referenced
    once; the day frame re-aggregates per level in DuckDB (cheap) and
    Catalyst reuses the scan.

    Scale: one day aggregation; 3 × (1-row coefficient frame × day
    frame) map joins.  1 row out.""",
)


# ---------------------------------------------------------------------------
# granger_lag1_test
# ---------------------------------------------------------------------------


def _granger_sql(dialect: Dialect) -> str:
    dd = (
        dialect.datediff("(SELECT min(o_orderdate) FROM orders)", "o_orderdate")
    )
    corr = lambda u, v: _corr_e6(  # noqa: E731
        dialect, "n", f"s_{u}", f"s_{v}", f"s_{u}{u}", f"s_{v}{v}",
        f"s_{u}{v}" if u < v else f"s_{v}{u}",
    )
    return f"""
    WITH d2 AS (
      SELECT CAST({dd} AS BIGINT) AS t,
        CAST(count(*) AS BIGINT) AS x,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT){dialect.div}100000 AS y
      FROM orders GROUP BY 1
    ),
    lagf AS (
      SELECT b.y AS a, a.y AS b, a.x AS c
      FROM d2 a JOIN d2 b ON b.t = a.t + 1
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(a) AS BIGINT) AS s_a, CAST(sum(b) AS BIGINT) AS s_b,
        CAST(sum(c) AS BIGINT) AS s_c,
        CAST(sum(CAST(a AS {dialect.big}) * a) AS {dialect.big}) AS s_aa,
        CAST(sum(CAST(b AS {dialect.big}) * b) AS {dialect.big}) AS s_bb,
        CAST(sum(CAST(c AS {dialect.big}) * c) AS {dialect.big}) AS s_cc,
        CAST(sum(CAST(a AS {dialect.big}) * b) AS {dialect.big}) AS s_ab,
        CAST(sum(CAST(a AS {dialect.big}) * c) AS {dialect.big}) AS s_ac,
        CAST(sum(CAST(b AS {dialect.big}) * c) AS {dialect.big}) AS s_bc
      FROM lagf
    ),
    r AS (
      SELECT n, {corr("a", "b")} AS r_yl, {corr("a", "c")} AS r_yx,
        {corr("b", "c")} AS r_lx
      FROM st
    ),
    r2 AS (
      SELECT n,
        CAST((CAST(r_yl AS {dialect.big}) * r_yl){dialect.div}1000000 AS BIGINT)
          AS r2r_ppm,
        CAST(((CAST(r_yl AS {dialect.big}) * r_yl + CAST(r_yx AS {dialect.big}) * r_yx
               - ((2 * CAST(r_yl AS {dialect.big}) * r_yx){dialect.div}1000000) * r_lx)
              * 1000000)
             {dialect.div}(1000000000000 - CAST(r_lx AS {dialect.big}) * r_lx)
             AS BIGINT) AS r2u_ppm
      FROM r
    )
    SELECT n AS n_pairs, r2r_ppm AS r2_restricted_ppm,
      r2u_ppm AS r2_unrestricted_ppm,
      CAST(((r2u_ppm - r2r_ppm) * (n - 3) * 1000000)
           {dialect.div}(1000000 - r2u_ppm) AS BIGINT) AS f_ppm,
      ((r2u_ppm - r2r_ppm) * (n - 3) * 1000000)
        {dialect.div}(1000000 - r2u_ppm) > {_CHI2_DF1_E6}
        AS order_count_granger_causes_revenue
    FROM r2
    """


sql_query(
    "granger_lag1_test", _granger_sql, "orders",
    doc="""Lag-1 Granger causality: does yesterday's ORDER COUNT predict
    today's revenue beyond what yesterday's revenue already does?
    Restricted R² = r²(y, y₋₁); unrestricted R² adds x₋₁ via the
    partial-correlation identity R²ᵤ = (r₁² + r₂² − 2r₁r₂r₁₂)/(1−r₁₂²)
    — assembled from three ppm-floored marginal correlations (the
    ``partial_correlation_triples`` device), staged integer division
    everywhere after the floors.  F = (R²ᵤ−R²ᵣ)(n−3)/(1−R²ᵤ) vs χ²₁
    (one added regressor, n large).

    Scale: one day aggregation, one consecutive-day equi-join, one
    moment aggregation — 1 row out.""",
)


# ---------------------------------------------------------------------------
# arch_lm_test
# ---------------------------------------------------------------------------


def _arch_sql(dialect: Dialect) -> str:
    corr = _corr_e6(
        dialect, "n", "s_u", "s_v", "s_uu", "s_vv", "s_uv"
    )
    return f"""
    WITH {_resid_ctes(dialect)},
    sq AS (
      SELECT t, CAST(CAST(es AS {dialect.big}) * es{dialect.div}1000000 AS BIGINT) AS e2
      FROM e
    ),
    pairs AS (
      SELECT b.e2 AS u, a.e2 AS v
      FROM sq a JOIN sq b ON b.t = a.t + 1
    ),
    st2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(u) AS BIGINT) AS s_u, CAST(sum(v) AS BIGINT) AS s_v,
        CAST(sum(CAST(u AS {dialect.big}) * u) AS {dialect.big}) AS s_uu,
        CAST(sum(CAST(v AS {dialect.big}) * v) AS {dialect.big}) AS s_vv,
        CAST(sum(CAST(u AS {dialect.big}) * v) AS {dialect.big}) AS s_uv
      FROM pairs
    ),
    r AS (SELECT n, {corr} AS r_ppm FROM st2)
    SELECT n AS n_pairs, r_ppm AS lag1_sq_corr_ppm,
      CAST((n * CAST(r_ppm AS {dialect.big}) * r_ppm){dialect.div}1000000 AS BIGINT)
        AS lm_ppm,
      (n * CAST(r_ppm AS {dialect.big}) * r_ppm){dialect.div}1000000 > {_CHI2_DF1_E6}
        AS reject_no_arch
    FROM r
    """


sql_query(
    "arch_lm_test", _arch_sql, "orders",
    doc="""Engle's ARCH(1) LM test on the daily-revenue OLS residuals:
    regress e²ₜ on e²ₜ₋₁ — LM = m·R² where R² is the squared
    ppm-floored correlation of consecutive squared residuals, vs χ²₁.
    Residuals are the ``durbin_watson_test`` frame's EXACT integers
    (D-scaled, never divided); squaring re-shifts by e6 so the moment
    sums stay inside DECIMAL(38).  DW asks "do residuals trend?";
    ARCH asks "does their VOLATILITY cluster?" — the test that decides
    whether a homoskedastic forecast band (``ewma_control_chart``) is
    even admissible.

    Scale: bounded day frame end to end; 1 row out.""",
)


# ---------------------------------------------------------------------------
# yule_walker_ar2
# ---------------------------------------------------------------------------


def _yw_sql(dialect: Dialect) -> str:
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
    den AS (
      SELECT CAST(sum(CAST(d AS {dialect.big}) * d) AS {dialect.big}) AS g FROM dev
    ),
    ac1 AS (
      SELECT CAST(sum(CAST(a.d AS {dialect.big}) * b.d) AS {dialect.big}) AS g
      FROM dev a JOIN dev b ON b.t = a.t + 1
    ),
    ac2 AS (
      SELECT CAST(sum(CAST(a.d AS {dialect.big}) * b.d) AS {dialect.big}) AS g
      FROM dev a JOIN dev b ON b.t = a.t + 2
    ),
    r AS (
      SELECT CAST((ac1.g * 1000000){dialect.div}den.g AS BIGINT) AS r1,
        CAST((ac2.g * 1000000){dialect.div}den.g AS BIGINT) AS r2
      FROM ac1 CROSS JOIN ac2 CROSS JOIN den
    ),
    phi AS (
      SELECT r1, r2,
        CAST((CAST(r1 AS {dialect.big}) * (1000000 - r2) * 1000000)
             {dialect.div}(1000000000000 - CAST(r1 AS {dialect.big}) * r1) AS BIGINT)
          AS phi1_ppm,
        CAST(((CAST(r2 AS {dialect.big}) * 1000000
               - CAST(r1 AS {dialect.big}) * r1) * 1000000)
             {dialect.div}(1000000000000 - CAST(r1 AS {dialect.big}) * r1) AS BIGINT)
          AS phi2_ppm
      FROM r
    )
    SELECT r1 AS r1_ppm, r2 AS r2_ppm, phi1_ppm, phi2_ppm,
      CAST(1000000
           - (CAST(phi1_ppm AS {dialect.big}) * r1){dialect.div}1000000
           - (CAST(phi2_ppm AS {dialect.big}) * r2){dialect.div}1000000 AS BIGINT)
        AS innovation_ratio_ppm,
      (phi2_ppm + phi1_ppm < 1000000
       AND phi2_ppm - phi1_ppm < 1000000
       AND abs(phi2_ppm) < 1000000) AS stationary_triangle
    FROM phi
    """


sql_query(
    "yule_walker_ar2", _yw_sql, "orders",
    doc="""AR(2) fit of daily revenue by Yule-Walker: φ₁ = r₁(1−r₂)/(1−r₁²)
    and φ₂ = (r₂−r₁²)/(1−r₁²) from the ppm-floored autocorrelations
    (the ``ljung_box_test`` dev = n·y−S device — the n² factors cancel
    exactly in each r_k), the innovation-variance ratio
    σ²ε/σ²y = 1 − φ₁r₁ − φ₂r₂, and the stationarity-triangle check
    (φ₂±φ₁ < 1, |φ₂| < 1).  ``pacf_durbin_levinson`` diagnoses the
    order; this is the order-2 FIT with its quality number — the
    one-scan parametric baseline every fancier forecaster must beat.

    Scale: one day aggregation, two offset equi-joins, 1 row out.""",
)

# ---------------------------------------------------------------------------
# diebold_mariano_test
# ---------------------------------------------------------------------------


def _dm_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    trip AS (
      SELECT a.y AS y0, b.y AS y1, c.y AS y2
      FROM day a
      JOIN day b ON b.t = a.t + 1
      JOIN day c ON c.t = a.t + 2
    ),
    ld AS (
      SELECT CAST((y2 - 2 * y1 + y0) AS BIGINT) * (y2 - 2 * y1 + y0)
             - CAST((y2 - y1) AS BIGINT) * (y2 - y1) AS d
      FROM trip
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
        CAST(sum(d) AS BIGINT) AS sd,
        CAST(sum(CAST(d AS {dialect.big}) * d) AS {dialect.big}) AS sdd
      FROM ld
    )
    SELECT m AS n_triples, sd AS loss_diff_sum,
      CAST((CAST(sd AS {dialect.big}) * sd * (m - 1) * 1000000)
           {dialect.div}(m * sdd - CAST(sd AS {dialect.big}) * sd) AS BIGINT) AS z2_ppm,
      sd < 0 AS drift_loss_lower,
      (sd < 0 AND
       (CAST(sd AS {dialect.big}) * sd * (m - 1) * 1000000)
         {dialect.div}(m * sdd - CAST(sd AS {dialect.big}) * sd) > {_CHI2_DF1_E6})
        AS drift_significantly_better
    FROM s
    """


sql_query(
    "diebold_mariano_test", _dm_sql, "orders",
    doc="""Diebold-Mariano forecast-comparison test over the drift vs
    naive one-step forecasts of daily revenue (``theil_u2``'s exact
    integer error pair): loss differential dₜ = e²_drift − e²_naive
    per calendar-consecutive day triple, z² = d̄²/(V̂(d)/m) assembled
    denominator-free as (Σd)²(m−1)/(mΣd² − (Σd)²) — lag-0 HAC (the
    1-step horizon case where DM's autocorrelation window is empty).
    ``theil_u2_forecast_audit`` reports the RATIO of the losses; DM
    says whether the gap is distinguishable from noise.

    Scale: two offset equi-joins on the bounded day frame; 1 row out.""",
)


# ---------------------------------------------------------------------------
# tracking_signal_audit
# ---------------------------------------------------------------------------

_TS_BAND_E6 = 4_000_000  # classic |TS| > 4 ops alarm


def _ts_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    err AS (
      SELECT b.t, CAST(b.y - a.y AS BIGINT) AS e
      FROM day a JOIN day b ON b.t = a.t + 1
    ),
    walk AS (
      SELECT t,
        CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i,
        sum(e) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
        sum(abs(e)) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
      FROM err
    ),
    ts AS (
      SELECT t, i,
        CAST((CAST(ce AS {dialect.big}) * i * 1000000){dialect.div}ca AS BIGINT)
          AS ts_ppm
      FROM walk WHERE ca > 0
    ),
    worst AS (
      SELECT t AS worst_day, ts_ppm AS worst_ts_ppm
      FROM ts ORDER BY abs(ts_ppm) DESC, t LIMIT 1
    ),
    last AS (
      SELECT ts_ppm AS final_ts_ppm FROM ts ORDER BY t DESC LIMIT 1
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
        CAST(sum(CASE WHEN abs(ts_ppm) > {_TS_BAND_E6}
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days
      FROM ts
    )
    SELECT agg.n_days, agg.n_alarm_days, last.final_ts_ppm,
      worst.worst_day, worst.worst_ts_ppm,
      agg.n_alarm_days * 1000000{dialect.div}agg.n_days AS alarm_share_ppm
    FROM agg CROSS JOIN last CROSS JOIN worst
    """


sql_query(
    "tracking_signal_audit", _ts_sql, "orders",
    doc="""Forecast-bias tracking signal for the naive (last-value)
    forecast of daily revenue: TSₜ = Σe/(Σ|e|/t) — the running
    cumulative error over the running MAD, the classic ops-dashboard
    bias alarm (|TS| > 4 ⇒ the forecast is systematically high or
    low, not just noisy).  Both cumulatives are exact integers over
    the calendar walk; one ppm quotient per day.  Complements
    ``mase_forecast_audit`` (magnitude) with DIRECTION persistence.

    Scale: consecutive-day equi-join + two cumulative windows on the
    calendar-day frame (BOUNDED_FRAME_AUDITED class); 1 row out.""",
)


# ---------------------------------------------------------------------------
# permutation_entropy
# ---------------------------------------------------------------------------

#: floor(1e6·ln 6) — the order-3 normalization constant
_LN6_E6 = 1_791_759


def _pe_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, y
      FROM day
    ),
    trip AS (
      SELECT
        CASE WHEN b.y >= a.y THEN 4 ELSE 0 END
        + CASE WHEN c.y >= a.y THEN 2 ELSE 0 END
        + CASE WHEN c.y >= b.y THEN 1 ELSE 0 END AS pat
      FROM idx a
      JOIN idx b ON b.i = a.i + 1
      JOIN idx c ON c.i = a.i + 2
    ),
    pc AS (
      SELECT pat, CAST(count(*) AS BIGINT) AS c FROM trip GROUP BY pat
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS m,
                   CAST(count(*) AS BIGINT) AS k FROM pc),
    h AS (
      SELECT tot.m, tot.k,
        CAST(floor(1000000 * ln(CAST(tot.m AS DOUBLE))) AS BIGINT)
          - CAST(sum(c * CAST(floor(1000000 * ln(CAST(c AS DOUBLE)))
                              AS BIGINT)) AS BIGINT){dialect.div}tot.m AS h_e6
      FROM pc CROSS JOIN tot
      GROUP BY tot.m, tot.k
    )
    SELECT m AS n_triples, k AS n_patterns_observed, h_e6,
      (h_e6 * 1000000){dialect.div}{_LN6_E6} AS normalized_ppm
    FROM h
    """


sql_query(
    "permutation_entropy", _pe_sql, "orders",
    doc="""Order-3 permutation entropy (Bandt-Pompe) of daily revenue:
    each consecutive-day triple maps to its ordinal pattern (ties
    broken by position — earlier day ranks lower, so the three ≥
    comparisons encode the pattern exactly and identically in both
    engines), H = ln m − (Σ c·⌊1e6·ln c⌋)/m in micro-nats (the
    ``woe_iv`` per-term floored-ln device), normalized by ln 6.
    Low PE = the series walks in predictable ramps; PE ≈ 1 = the
    ordinal dynamics are noise — the complexity complement to
    ``hurst_exponent``'s long-memory view.

    Scale: row_number over the calendar frame + two offset equi-joins;
    the entropy stage sees ≤6 rows.""",
)


# ---------------------------------------------------------------------------
# sen_slope_seasonal
# ---------------------------------------------------------------------------


def _sen_seasonal_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS rev
      FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
    ),
    sl AS (
      SELECT CAST((CAST(b.rev - a.rev AS {dialect.big}) * 1000000)
                  {dialect.div}(CAST(b.yr - a.yr AS BIGINT) * 12) AS BIGINT)
        AS s
      FROM m a JOIN m b ON b.mo = a.mo AND b.yr > a.yr
    ),
    h AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM sl GROUP BY s),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
    cw AS (
      SELECT s, sum(c) OVER (ORDER BY s
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    )
    SELECT tot.n AS n_pairs,
      CAST(min(cw.s) AS BIGINT) AS sen_slope_cents_per_month_e6
    FROM cw CROSS JOIN tot
    WHERE cw.cum >= (tot.n + 1){dialect.div}2
    GROUP BY tot.n
    """


sql_query(
    "sen_slope_seasonal", _sen_seasonal_sql, "orders",
    doc="""Seasonal Sen's slope of monthly revenue: the median of the
    SAME-MONTH across-year pairwise slopes (January-to-January,
    February-to-February, …) — the magnitude estimate that pairs with
    ``seasonal_mk_trend``'s direction verdict exactly as
    ``theil_sen_trend`` pairs with ``mk_trend_test``, but immune to
    the 12-month cycle because cross-month pairs never form.  Slopes
    are e6-scaled exact quotients (cents per month); the median is
    rank-defined (smallest slope whose cumulative count reaches
    ⌈(n+1)/2⌉), no interpolation.

    Scale: one month aggregation, a same-month pair join bounded by
    (#years choose 2) per month, one cumulative over ≤252 distinct
    slopes; 1 row out.""",
)


# ---------------------------------------------------------------------------
# ewma_control_chart
# ---------------------------------------------------------------------------

#: 64·(EWMA α=½ truncated-7 weights) — exact integers (1/2ʲ · 64)
_ECC_W64 = (64, 32, 16, 8, 4, 2, 1)
_ECC_FULL_DEN = sum(_ECC_W64)  # 127: the burn-in-complete denominator


def _ecc_sql(dialect: Dialect) -> str:
    lags = " + ".join(
        f"{w} * lag(y, {j}, CAST(0 AS BIGINT)) OVER (ORDER BY t)"
        for j, w in enumerate(_ECC_W64)
    )
    pres = " + ".join(
        f"{w} * (CASE WHEN lag(y, {j}) OVER (ORDER BY t) IS NULL"
        " THEN 0 ELSE 1 END)".replace("lag(y, 0)", "lag(y, 0, y)")
        if j > 0
        else str(w)
        for j, w in enumerate(_ECC_W64)
    )
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS q
      FROM day
    ),
    z AS (
      SELECT t,
        CAST(({lags}) AS BIGINT) AS z64,
        CAST(({pres}) AS BIGINT) AS den64
      FROM day
    ),
    mon AS (
      SELECT t,
        CAST((CAST(z64 AS {dialect.big}) * 1000000){dialect.div}den64 AS BIGINT) AS z_e6
      FROM z WHERE den64 = {_ECC_FULL_DEN}
    ),
    lim AS (
      SELECT n, (s * 1000000){dialect.div}n AS mu_e6,
        CAST((3 * (n * q - CAST(s AS {dialect.big}) * s) * 1000000000000)
             {dialect.div}(CAST(n AS {dialect.big}) * n) AS {dialect.big}) AS band2_e12
      FROM st
    ),
    flags AS (
      SELECT mon.t, mon.z_e6, lim.mu_e6,
        CAST(mon.z_e6 - lim.mu_e6 AS {dialect.big})
          * (mon.z_e6 - lim.mu_e6) AS dev2_e12,
        lim.band2_e12
      FROM mon CROSS JOIN lim
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_monitored,
        CAST(sum(CASE WHEN dev2_e12 > band2_e12 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_out_of_control
      FROM flags
    ),
    worst AS (
      SELECT t AS worst_day,
        CAST((dev2_e12 * 1000000){dialect.div}band2_e12 AS BIGINT)
          AS worst_dev2_ratio_ppm
      FROM flags ORDER BY dev2_e12 DESC, t LIMIT 1
    )
    SELECT lim.n AS n_days, agg.n_monitored, agg.n_out_of_control,
      worst.worst_day, worst.worst_dev2_ratio_ppm
    FROM lim CROSS JOIN agg CROSS JOIN worst
    """


sql_query(
    "ewma_control_chart", _ecc_sql, "orders",
    doc="""EWMA control chart on daily revenue (α = ½, truncated-7 —
    the ``ewma_daily_revenue`` smoother, re-expressed with ×64
    INTEGER weights so the statistic path never touches a float):
    z₆₄ = Σ 2⁶⁻ʲ·y₍ₜ₋ⱼ₎ is exact, monitored days are those with the
    full 127-weight window (burn-in excluded by den = 127), and the
    asymptotic 3σ_z band uses σ_z² = σ²·α/(2−α) = σ²/3 — compared in
    SQUARED e12 form ((z−μ)² vs 3σ²) so no square root ever runs.
    Out-of-band days and the worst excursion (as a ppm ratio to the
    band) surface the shifts ``cusum_changepoints`` dates.

    Scale: one day aggregation; the 7-lag window runs on the
    calendar-day frame (BOUNDED_FRAME_AUDITED class); 1 row out.""",
)
