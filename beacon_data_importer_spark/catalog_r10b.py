"""Round-10 catalog, tier 2 — time-series randomness, records,
changepoint and forecasting second wave over the daily/monthly revenue
frames:

* ``von_neumann_ratio`` — the successive-difference ratio
  η = Σ(yₜ₊₁−yₜ)²/Σ(yₜ−ȳ)²: the classical serial-dependence read
  that complements ``durbin_watson_test`` (same numerator family, but
  VN is the standalone-series form; DW is regression-residual-bound).
* ``bartels_rank_test`` — von Neumann on RANKS: the distribution-free
  twin (Bartels 1982), exact-integer because Σ(r−r̄)² = n(n²−1)/12
  for a rank permutation.
* ``foster_stuart_records`` — trend via RECORDS: D = Σ(upper−lower
  records).  A record-based test reads only order relations, so a
  single wild day moves D by at most 1 — maximally robust trend
  evidence, vs ``mk_trend_test``'s all-pairs count.
* ``mosum_changepoint`` — moving-sum break scan: |sum of next G days
  − sum of last G days| maximized over t, normalized by σ̂√(2G).
  The LOCAL-window complement to ``pettitt_changepoint`` /
  ``cusum_changepoints`` (global walks dilute multiple breaks; MOSUM
  isolates them).
* ``runs_up_down_test`` — direction-runs randomness: R = 1 + sign
  changes of successive differences, E[R]=(2N−1)/3, V=(16N−29)/90.
  Complements ``runs_test`` (above/below-median runs — level
  clustering) by reading LOCAL monotony instead.
* ``holt_damped_forecast`` — Holt with damped trend (φ=0.9): the
  M-competition default that fixes linear Holt's over-extrapolation;
  same array-carry recursion device as ``holt_linear_forecast``.
* ``theta_forecast`` — the Theta(0,2) method: SES (α=0.5) on the
  theta-line 2y−OLS-trend, forecast = mean of the SES level and the
  trend extrapolation.  The M3 winner, exact-integer throughout.
* ``seasonal_strength_audit`` — Wang-Smith-Hyndman feature pair
  F_s = 1−Var(R)/Var(S+R), F_t = 1−Var(R)/Var(T+R) from the
  ``stl_decomposition_lite`` components: the triage metric that
  decides whether the seasonal forecaster is even warranted.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import Dialect, query, sql_query
from .catalog_r6b import _HOLT_BASE_SQL
from .catalog_r7g import _stl_sql
from .catalog_r8d import _day_sql
from .sources.parquet import read_table

#: Holt damped-trend constants, ppm: α, β, φ and the φ-geometric
#: partial sums φ, φ+φ², φ+φ²+φ³ used by the h-step forecast.
_DAMP_ALPHA = 300_000
_DAMP_BETA = 100_000
_DAMP_PHI = 900_000
_DAMP_PHISUM = (900_000, 1_710_000, 2_439_000)
#: MOSUM window width, days.
_MOSUM_G = 60
#: floor(1e6 · z₀.₉₇₅) — shared asymptotic two-sided 5% gate.
_Z975_E6 = 1_959_963


# ---------------------------------------------------------------------------
# von_neumann_ratio
# ---------------------------------------------------------------------------


def _vn_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    seq AS (
      SELECT y, lag(y) OVER (ORDER BY t) AS yp FROM day
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        sum(CAST(y AS {dialect.big})) AS sy,
        sum(CAST(y AS {dialect.big}) * y) AS syy,
        sum(CASE WHEN yp IS NOT NULL
            THEN CAST(y - yp AS {dialect.big}) * (y - yp) END) AS sdd
      FROM seq
    )
    SELECT n,
      CAST((sdd * n * 1000000){dialect.div}(syy * n - sy * sy) AS BIGINT)
        AS vn_ratio_e6,
      CAST(floor((CAST(sdd AS DOUBLE) * n
                  / (CAST(syy AS DOUBLE) * n
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) - 2)
                 * sqrt(CAST(n AS DOUBLE)) / 2 * 1e6) AS BIGINT)
        AS z_e6,
      abs(CAST(floor((CAST(sdd AS DOUBLE) * n
                  / (CAST(syy AS DOUBLE) * n
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) - 2)
                 * sqrt(CAST(n AS DOUBLE)) / 2 * 1e6) AS BIGINT))
        > {_Z975_E6} AS reject_randomness
    FROM agg
    """


sql_query(
    "von_neumann_ratio", _vn_sql, "orders",
    doc="""Von Neumann ratio of daily revenue: η = Σ(Δy)²/Σ(y−ȳ)², the
    mean-square-successive-difference test.  η ≈ 2 under serial
    independence, < 2 under positive autocorrelation (smooth trend),
    > 2 under alternation.  The deviation sum is held exact via the
    n·Σy²−(Σy)² cross-multiplication; one ppm floor for the ratio and
    one for the asymptotic z = (η−2)·√n/2 (Var(η) ≈ 4/n — documented
    asymptotic, exact for n > a few hundred as every SF here is).
    Day gaps are treated as adjacent observations (the successive
    pair is by ROW in time order, not calendar distance).

    Scale: one pass over the calendar-day frame; the lag window is
    calendar-bounded.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# bartels_rank_test
# ---------------------------------------------------------------------------


def _bartels_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    rk AS (
      SELECT t, row_number() OVER (ORDER BY y, t) AS r FROM day
    ),
    seq AS (
      SELECT r, lag(r) OVER (ORDER BY t) AS rp FROM rk
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        sum(CASE WHEN rp IS NOT NULL
            THEN CAST(r - rp AS {dialect.big}) * (r - rp) END) AS sdd
      FROM seq
    )
    SELECT n,
      CAST((sdd * 12 * 1000000){dialect.div}(CAST(n AS {dialect.big}) * (n * n - 1))
           AS BIGINT) AS rvn_e6,
      CAST(floor((CAST(sdd AS DOUBLE) * 12
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1))
                  - 2)
                 * sqrt(CAST(n AS DOUBLE)) / 2 * 1e6) AS BIGINT)
        AS z_e6
    FROM agg
    """


sql_query(
    "bartels_rank_test", _bartels_sql, "orders",
    doc="""Bartels' rank version of the von Neumann ratio on daily
    revenue: RVN = Σ(rₜ₊₁−rₜ)² / Σ(r−r̄)², with ranks assigned by
    (value, day) row_number — a deterministic permutation, so the
    denominator is EXACTLY n(n²−1)/12 and the statistic is exact
    integer until one ppm floor.  The distribution-free twin of
    ``von_neumann_ratio``: a single wild day that dominates the
    parametric form's squared difference contributes at most a rank
    gap of n here.  Same documented 4/n asymptotic z.

    Scale: rank map + lag over the calendar-day frame — both
    calendar-bounded windows.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# foster_stuart_records
# ---------------------------------------------------------------------------


def _fs_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    idx AS (
      SELECT y, row_number() OVER (ORDER BY t) AS i,
        max(y) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
        min(y) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
      FROM day
    ),
    rec AS (
      SELECT i,
        CASE WHEN pmax IS NOT NULL AND y > pmax THEN 1 ELSE 0 END AS u,
        CASE WHEN pmin IS NOT NULL AND y < pmin THEN 1 ELSE 0 END AS l
      FROM idx
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(u) AS BIGINT) AS n_upper,
        CAST(sum(l) AS BIGINT) AS n_lower,
        CAST(sum(u - l) AS BIGINT) AS d_stat,
        CAST(sum(u + l) AS BIGINT) AS s_stat,
        CAST(sum(CASE WHEN i > 1 THEN 1000000{dialect.div}i ELSE 0 END)
             AS BIGINT) AS h_ppm
      FROM rec
    )
    SELECT n, n_upper, n_lower, d_stat, s_stat,
      CAST(floor(d_stat * 1e6
                 / sqrt(2 * CAST(h_ppm AS DOUBLE) / 1e6)) AS BIGINT)
        AS z_e6,
      abs(CAST(floor(d_stat * 1e6
                 / sqrt(2 * CAST(h_ppm AS DOUBLE) / 1e6)) AS BIGINT))
        > {_Z975_E6} AS reject_no_trend
    FROM agg
    """


sql_query(
    "foster_stuart_records", _fs_sql, "orders",
    doc="""Foster-Stuart records test on daily revenue: uₜ = 1 iff day t
    sets a new maximum, lₜ = 1 iff a new minimum; D = Σ(u−l) reads
    trend (records should split evenly under stationarity), S =
    Σ(u+l) reads dispersion change.  Record indicators are pure ORDER
    statistics — a single corrupted value shifts D by at most 1, the
    most outlier-resistant trend evidence in the tier (vs
    ``mk_trend_test``'s all-pairs S which it complements).  Var(D) =
    2Σ_{{t≥2}} 1/t, accumulated as the house ppm harmonic
    Σ(10⁶ div t) — integer-deterministic in both engines; one double
    sqrt for the final z.

    Scale: two running-extreme windows over the calendar-day frame.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# mosum_changepoint
# ---------------------------------------------------------------------------


def _mosum_sql(dialect: Dialect) -> str:
    g = _MOSUM_G
    return f"""
    WITH {_day_sql(dialect)},
    sv AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        sum(CAST(y AS {dialect.big})) AS sy,
        sum(CAST(y AS {dialect.big}) * y) AS syy
      FROM day
    ),
    win AS (
      SELECT t,
        sum(y) OVER (ORDER BY t
          ROWS BETWEEN {g - 1} PRECEDING AND CURRENT ROW) AS lsum,
        count(*) OVER (ORDER BY t
          ROWS BETWEEN {g - 1} PRECEDING AND CURRENT ROW) AS lc,
        sum(y) OVER (ORDER BY t
          ROWS BETWEEN 1 FOLLOWING AND {g} FOLLOWING) AS rsum,
        count(*) OVER (ORDER BY t
          ROWS BETWEEN 1 FOLLOWING AND {g} FOLLOWING) AS rc
      FROM day
    ),
    stat AS (
      SELECT t, CAST(abs(rsum - lsum) AS BIGINT) AS m
      FROM win WHERE lc = {g} AND rc = {g}
    ),
    best AS (
      SELECT t, m, row_number() OVER (ORDER BY m DESC, t) AS r
      FROM stat
    )
    SELECT b.t AS break_t, b.m AS mosum_raw,
      CAST(floor(CAST(b.m AS DOUBLE) * 1e6
        / (sqrt(CAST(2 * {g} AS DOUBLE))
           * sqrt((CAST(sv.syy AS DOUBLE) * sv.n
                   - CAST(sv.sy AS DOUBLE) * CAST(sv.sy AS DOUBLE))
                  / (CAST(sv.n AS DOUBLE) * (sv.n - 1))))) AS BIGINT)
        AS mosum_norm_e6,
      CAST(floor(CAST(b.m AS DOUBLE) * 1e6
        / (sqrt(CAST(2 * {g} AS DOUBLE))
           * sqrt((CAST(sv.syy AS DOUBLE) * sv.n
                   - CAST(sv.sy AS DOUBLE) * CAST(sv.sy AS DOUBLE))
                  / (CAST(sv.n AS DOUBLE) * (sv.n - 1))))) AS BIGINT)
        > 3000000 AS break_detected
    FROM best b CROSS JOIN sv WHERE b.r = 1
    """


sql_query(
    "mosum_changepoint", _mosum_sql, "orders",
    doc="""MOSUM break scan over daily revenue: for every day t with full
    flanks, the moving-sum contrast |Σ(next {_MOSUM_G} days) −
    Σ(last {_MOSUM_G} days)|, maximized over t (ties → earliest day),
    normalized by σ̂√(2G) and gated at the 3σ house convention.  A
    LOCAL two-window contrast: where ``pettitt_changepoint`` and
    ``cusum_changepoints`` compare global prefixes (and so smear when
    two breaks cancel), MOSUM's fixed-width flanks isolate each break
    at resolution G.  Window sums stay exact integers; the only
    floating point is the final normalization (one floor).

    Scale: two fixed-width ROWS windows over the calendar-day frame
    plus one bounded argmax rank — the calendar-bounded class.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# runs_up_down_test
# ---------------------------------------------------------------------------


def _rud_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    d AS (
      SELECT t, y - lag(y) OVER (ORDER BY t) AS dy FROM day
    ),
    s AS (
      SELECT t, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS sg
      FROM d WHERE dy IS NOT NULL AND dy <> 0
    ),
    chg AS (
      SELECT sg, lag(sg) OVER (ORDER BY t) AS sgp FROM s
    ),
    agg AS (
      SELECT CAST(count(*) + 1 AS BIGINT) AS n_eff,
        CAST(1 + sum(CASE WHEN sgp IS NOT NULL AND sg <> sgp
                     THEN 1 ELSE 0 END) AS BIGINT) AS runs
      FROM chg
    )
    SELECT n_eff, runs,
      CAST(floor((CAST(runs AS DOUBLE)
                  - (2 * CAST(n_eff AS DOUBLE) - 1) / 3)
                 / sqrt((16 * CAST(n_eff AS DOUBLE) - 29) / 90) * 1e6)
           AS BIGINT) AS z_e6,
      abs(CAST(floor((CAST(runs AS DOUBLE)
                  - (2 * CAST(n_eff AS DOUBLE) - 1) / 3)
                 / sqrt((16 * CAST(n_eff AS DOUBLE) - 29) / 90) * 1e6)
           AS BIGINT)) > {_Z975_E6} AS reject_randomness
    FROM agg
    """


sql_query(
    "runs_up_down_test", _rud_sql, "orders",
    doc="""Runs-up-and-down test on daily revenue: successive differences
    become a ±1 direction sequence (zero differences dropped — the
    standard tie treatment), R = 1 + number of direction changes,
    compared against E[R] = (2N−1)/3 and Var = (16N−29)/90 with N =
    effective length (nonzero diffs + 1).  Reads LOCAL monotony:
    ``runs_test`` (above/below median) detects level clustering but
    is blind to a smooth zig-zag; this test is its derivative-domain
    complement.  Counts exact; one double floor for z.

    Scale: two lag windows over the calendar-day frame.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# holt_damped_forecast
# ---------------------------------------------------------------------------

_DAMP_FINAL_SQL = f"""
    SELECT bb.t AS t, bb.y_c AS y_c,
           CAST(p.l + ({_DAMP_PHI} * p.b){{div}}1000000 AS BIGINT)
             AS pred_c
    FROM __holt_base bb LEFT JOIN rec p ON p.t = bb.t - 1
    UNION ALL
    SELECT f.t + h.h, CAST(NULL AS BIGINT),
           CAST(f.l + (h.ps * f.b){{div}}1000000 AS BIGINT)
    FROM (SELECT r2.t, r2.l, r2.b FROM rec r2
          WHERE r2.t = (SELECT max(t) FROM __holt_base)) f
    CROSS JOIN (SELECT 1 AS h, {_DAMP_PHISUM[0]} AS ps
                UNION ALL SELECT 2, {_DAMP_PHISUM[1]}
                UNION ALL SELECT 3, {_DAMP_PHISUM[2]}) h
"""


def _damp_spark_sql() -> str:
    a, b1, phi, one = _DAMP_ALPHA, _DAMP_BETA, _DAMP_PHI, 1_000_000
    y_t = "element_at(r.rest, 1)"
    pb = f"(({phi} * r.b) div {one})"
    l_t = f"((({a} * {y_t}) + ({one - a} * (r.l + {pb}))) div {one})"
    return f"""
    WITH RECURSIVE arr AS (
      SELECT transform(array_sort(collect_list(struct(t, y_c))),
                       x -> x.y_c) AS ys
      FROM __holt_base
    ),
    rec(t, l, b, rest) AS (
      SELECT CAST(1 AS BIGINT), element_at(ys, 1),
             element_at(ys, 2) - element_at(ys, 1),
             slice(ys, 2, size(ys) - 1)
      FROM arr
      UNION ALL
      SELECT r.t + 1,
             {l_t},
             ((({b1} * ({l_t} - r.l)) + ({one - b1} * {pb})) div {one}),
             slice(r.rest, 2, size(r.rest) - 1)
      FROM rec r WHERE size(r.rest) > 0
    )
    {_DAMP_FINAL_SQL.format(div=" div ")}
    """


def _damp_duck_sql() -> str:
    a, b1, phi, one = _DAMP_ALPHA, _DAMP_BETA, _DAMP_PHI, 1_000_000
    pb = f"(({phi} * r.b) // {one})"
    l_t = f"((({a} * nx.y_c) + ({one - a} * (r.l + {pb}))) // {one})"
    return f"""
    WITH RECURSIVE __holt_base AS ({_HOLT_BASE_SQL}),
    rec(t, l, b) AS (
      SELECT b1.t, b1.y_c, b2.y_c - b1.y_c
      FROM __holt_base b1 JOIN __holt_base b2 ON b2.t = 2
      WHERE b1.t = 1
      UNION ALL
      SELECT nx.t,
             {l_t},
             ((({b1} * ({l_t} - r.l)) + ({one - b1} * {pb})) // {one})
      FROM rec r JOIN __holt_base nx ON nx.t = r.t + 1
    )
    {_DAMP_FINAL_SQL.format(div=" // ")}
    """


@query("holt_damped_forecast", oracle=_damp_duck_sql())
def q_holt_damped_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt smoothing with a DAMPED trend (Gardner-McKenzie, φ=0.9) on
    monthly revenue: lₜ = αyₜ + (1−α)(l+φb), bₜ = β(lₜ−l) + (1−β)φb,
    ŷ(h) = l_N + (φ+…+φʰ)·b_N — the M-competition default that fixes
    ``holt_linear_forecast``'s unbounded extrapolation (its 3-month
    forecast grows linearly forever; the damped path asymptotes at
    l + b·φ/(1−φ)).  φ·b and the φ-geometric forecast sums are exact
    ppm-literal arithmetic with the house truncating division.  Same
    array-carry Spark recursion / join-form DuckDB oracle split as
    the linear device (catalog_r6b docstring has the measured why).

    Scale: recursion over the calendar-bounded month frame; the only
    volume-bearing exchange is the monthly rollup.

    Reference parity: beyond-reference statistics tier."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    spark.sql(f"SELECT * FROM ({_HOLT_BASE_SQL})").createOrReplaceTempView(
        "__holt_base"
    )
    return spark.sql(_damp_spark_sql())


# ---------------------------------------------------------------------------
# theta_forecast
# ---------------------------------------------------------------------------

_THETA_H = 3

_THETA_BASE_SQL = """
    SELECT t, y_c,
      2 * y_c * 100 - (a_e2 + b_e2 * t) AS z_e2,
      a_e2, b_e2, n
    FROM (SELECT t, y_c FROM __holt_base) b
    CROSS JOIN (
      SELECT n,
        CAST((sy * 100 * stt - st * sty * 100)
             {div} (n * stt - st * st) AS BIGINT) AS a_e2,
        CAST((n * sty * 100 - st * sy * 100)
             {div} (n * stt - st * st) AS BIGINT) AS b_e2
      FROM (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(t) AS BIGINT) AS st,
          CAST(sum(t * t) AS BIGINT) AS stt,
          CAST(sum(CAST(y_c AS {big})) AS {big}) AS sy,
          CAST(sum(CAST(t AS {big}) * y_c) AS {big}) AS sty
        FROM __holt_base
      ) s
    ) ols
"""

_THETA_FINAL_SQL = """
    SELECT bb.t AS t, bb.y_c AS y_c,
           CAST((p.s + (bb.a_e2 + bb.b_e2 * bb.t)) {div} 200 AS BIGINT)
             AS pred_c
    FROM __theta_base bb LEFT JOIN rec p ON p.t = bb.t - 1
    UNION ALL
    SELECT f.t + h.h, CAST(NULL AS BIGINT),
           CAST((f.s + (f.a_e2 + f.b_e2 * (f.t + h.h))) {div} 200
                AS BIGINT)
    FROM (SELECT r2.t, r2.s, b0.a_e2, b0.b_e2 FROM rec r2
          CROSS JOIN (SELECT max(a_e2) AS a_e2, max(b_e2) AS b_e2
                      FROM __theta_base) b0
          WHERE r2.t = (SELECT max(t) FROM __theta_base)) f
    CROSS JOIN (SELECT 1 AS h UNION ALL SELECT 2 UNION ALL SELECT 3) h
"""


def _theta_spark_sql() -> str:
    return f"""
    WITH RECURSIVE arr AS (
      SELECT transform(array_sort(collect_list(struct(t, z_e2))),
                       x -> x.z_e2) AS zs
      FROM __theta_base
    ),
    rec(t, s, rest) AS (
      SELECT CAST(1 AS BIGINT), element_at(zs, 1),
             slice(zs, 2, size(zs) - 1)
      FROM arr
      UNION ALL
      SELECT r.t + 1,
             (element_at(r.rest, 1) + r.s) div 2,
             slice(r.rest, 2, size(r.rest) - 1)
      FROM rec r WHERE size(r.rest) > 0
    )
    {_THETA_FINAL_SQL.format(div=" div ")}
    """


def _theta_duck_sql() -> str:
    base = _THETA_BASE_SQL.format(div=" // ", big="HUGEINT")
    return f"""
    WITH RECURSIVE __holt_base AS ({_HOLT_BASE_SQL}),
    __theta_base AS ({base}),
    rec(t, s) AS (
      SELECT b1.t, b1.z_e2 FROM __theta_base b1 WHERE b1.t = 1
      UNION ALL
      SELECT nx.t, (nx.z_e2 + r.s) // 2
      FROM rec r JOIN __theta_base nx ON nx.t = r.t + 1
    )
    {_THETA_FINAL_SQL.format(div=" // ")}
    """


@query("theta_forecast", oracle=_theta_duck_sql())
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta(0,2) forecast of monthly revenue (Assimakopoulos &
    Nikolopoulos; the M3-competition winner): decompose into the OLS
    trend line (theta=0) and the double-curvature line Z = 2y − trend
    (theta=2), smooth Z with SES (α=½ — the exact-integer (z+s) div 2
    fold), forecast ŷ(h) = (SES level + trend(N+h)) / 2.  OLS
    coefficients are exact e2 rationals (the cents cross-product
    device); the SES recursion is the same array-carry Spark form /
    join-form DuckDB oracle as the Holt family.  In-sample rows carry
    the one-step-ahead combination; 3 future months extend the trend.

    Scale: recursion over the calendar-bounded month frame; one
    monthly rollup exchange.

    Reference parity: beyond-reference statistics tier."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    spark.sql(f"SELECT * FROM ({_HOLT_BASE_SQL})").createOrReplaceTempView(
        "__holt_base"
    )
    spark.sql(
        f"SELECT * FROM ({_THETA_BASE_SQL.format(div=' div ', big='DECIMAL(38,0)')})"
    ).createOrReplaceTempView("__theta_base")
    return spark.sql(_theta_spark_sql())


# ---------------------------------------------------------------------------
# seasonal_strength_audit
# ---------------------------------------------------------------------------


def _sstrength_sql(dialect: Dialect) -> str:
    return f"""
    WITH stl AS ({_stl_sql(dialect)}),
    comp AS (
      SELECT revenue_cents - trend_cents - seasonal_cents AS r,
        revenue_cents - trend_cents AS sr,
        revenue_cents - seasonal_cents AS tr
      FROM stl WHERE trend_cents IS NOT NULL
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        sum(CAST(r AS {dialect.big})) AS s_r,
        sum(CAST(r AS {dialect.big}) * r) AS s_rr,
        sum(CAST(sr AS {dialect.big})) AS s_s,
        sum(CAST(sr AS {dialect.big}) * sr) AS s_ss,
        sum(CAST(tr AS {dialect.big})) AS s_t,
        sum(CAST(tr AS {dialect.big}) * tr) AS s_tt
      FROM comp
    )
    SELECT n,
      greatest(CAST(0 AS BIGINT),
        1000000 - CAST(((s_rr * n - s_r * s_r) * 1000000)
                       {dialect.div}(s_ss * n - s_s * s_s) AS BIGINT))
        AS seasonal_strength_e6,
      greatest(CAST(0 AS BIGINT),
        1000000 - CAST(((s_rr * n - s_r * s_r) * 1000000)
                       {dialect.div}(s_tt * n - s_t * s_t) AS BIGINT))
        AS trend_strength_e6
    FROM agg
    """


sql_query(
    "seasonal_strength_audit", _sstrength_sql, "orders",
    doc="""Wang-Smith-Hyndman decomposition-strength features from the
    ``stl_decomposition_lite`` components: F_s = max(0, 1 −
    Var(R)/Var(S+R)) and F_t = max(0, 1 − Var(R)/Var(T+R)) over the
    months with a defined trend.  The triage read for the forecasting
    tier — F_s near 0 says ``holt_winters_seasonal``'s seasonal state
    is fitting noise and ``holt_damped_forecast`` should win; F_t
    near 0 says even the damped trend is over-modeled.  Variances via
    the exact n·Σx²−(Σx)² cross-multiplication; one ppm floor per
    ratio, clamped at 0 per the definition.

    Scale: reuses the STL device (calendar-bounded month windows) and
    adds one aggregation.

    Reference parity: beyond-reference statistics tier.""",
)
