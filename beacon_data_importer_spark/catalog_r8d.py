"""Round-8 catalog, tier 4: regression diagnostics, serial-correlation
tests, ordered-alternative trend, and semi-parametric survival —

* ``cox_ph_binary`` — Cox proportional-hazards fit for ONE binary
  covariate (urgent-priority vs rest on the order→ship latency),
  Breslow ties, four unrolled Newton steps.  The whole fit runs in
  EXACT integer arithmetic: with a binary covariate the risk-set sums
  collapse to the per-day at-risk counts (n₀(t), n₁(t)), so score and
  information are rational in the hazard ratio W = e^β; Newton is
  reparametrized on W (W' = W + W·U/I — no exp/ln crosses an engine
  boundary, β is never materialized).
* ``ljung_box_test`` — portmanteau white-noise test on the first 10
  autocorrelations of daily revenue (``acf_daily_revenue`` gives the
  correlogram; Ljung-Box says whether it is COLLECTIVELY noise).
* ``durbin_watson_test`` — first-order serial correlation in the
  residuals of the revenue-vs-time OLS (the d statistic).
* ``breusch_pagan_test`` — heteroskedasticity LM test: squared OLS
  residuals regressed back on time, LM = n·R².
* ``jonckheere_terpstra`` — ordered-alternative k-sample trend test
  (are order values stochastically increasing year over year?): the
  ordered sibling of ``kruskal_wallis`` (unordered) and the continuous
  sibling of ``cochran_armitage_trend`` (proportions).

Parity devices (catalog.py doctrine): cents → coarse integer units,
cross-multiplied deviations (dev = n·y − S so no mean ever divides),
DECIMAL(38,0)/HUGEINT products, per-term floored division placed
identically in both dialects (Spark ``div`` and DuckDB ``//`` BOTH
truncate toward zero, verified incl. negative operands), published
critical values as ppm literals.

Scale notes: every statistic reduces to one aggregation over either
the calendar-day grid (bounded ~2.5k rows), the distinct-latency-day
grid (bounded 365 rows), or the $10-bucket histogram (price-range
bounded); windows are PARTITIONED (per group / per covariate level),
never global.  The Jonckheere pair count is computed from per-group
bucket histograms + partitioned cumulative sums — NOT the naive n²
pair join — so it survives 100× data unchanged.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .sources.parquet import register_views


# ---------------------------------------------------------------------------
# shared: daily revenue series, $1000 units, t = days since first order
# ---------------------------------------------------------------------------


def _day_sql(dialect: Dialect) -> str:
    dd = (
        dialect.datediff("(SELECT min(o_orderdate) FROM orders)", "o_orderdate")
    )
    return f"""
    day AS (
      SELECT CAST({dd} AS BIGINT) AS t,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             AS BIGINT){dialect.div}100000 AS y
      FROM orders GROUP BY 1
    )"""


# ---------------------------------------------------------------------------
# cox_ph_binary
# ---------------------------------------------------------------------------

_COX_HORIZON = 365  # censor order→ship latencies at one year
_COX_STEPS = 4
#: floor(1e6 · χ²(df=1, α=0.05)) — the score-test gate
_CHI2_DF1_E6 = 3_841_458


def _cox_sql(dialect: Dialect) -> str:
    dd = dialect.datediff("o.o_orderdate", "l.l_shipdate")
    grid = f"SELECT {dialect.series(1, _COX_HORIZON)} AS t"
    h = _COX_HORIZON

    def score(prev: str) -> str:
        """Σ_t per-term floored score U and information I at W=prev.w
        (both ×1e6): with binary x the Breslow risk-set sums are
        DEN_t = n₀·1e6 + n₁·W, E[d₁|t] = d·n₁·W/DEN, Var = d·n₀n₁W·
        1e6/DEN² — every quotient floored identically in both engines."""
        return f"""(
      SELECT
        CAST(sum(d1 * 1000000
          - (CAST(d0 + d1 AS {dialect.big}) * n1 * p.w * 1000000)
            {dialect.div} (CAST(n0 AS {dialect.big}) * 1000000 + n1 * p.w)) AS {dialect.big}) AS u,
        CAST(sum(
          (CAST(d0 + d1 AS {dialect.big}) * (CAST(n0 AS {dialect.big}) * 1000000)
             * (CAST(n1 AS {dialect.big}) * p.w) * 1000000)
          {dialect.div} ((CAST(n0 AS {dialect.big}) * 1000000 + n1 * p.w)
                 * (CAST(n0 AS {dialect.big}) * 1000000 + n1 * p.w))) AS {dialect.big}) AS i
      FROM evd CROSS JOIN {prev} p
    )"""

    steps = []
    for k in range(1, _COX_STEPS + 1):
        steps.append(f"s{k} AS {score(f'it{k - 1}')}")
        steps.append(
            f"it{k} AS (SELECT CAST(p.w + (s.u * p.w) {dialect.div} s.i AS BIGINT)"
            f" AS w FROM it{k - 1} p CROSS JOIN s{k} s)"
        )
    newton = ",\n    ".join(steps)

    days_ctes = f"""base AS (
      SELECT CASE WHEN {dd} > {h} THEN {h} ELSE {dd} END AS t,
        CASE WHEN {dd} <= {h} THEN 1 ELSE 0 END AS ev,
        CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE {dd} >= 1
    ),
    percell AS (
      SELECT t, x, CAST(sum(ev) AS BIGINT) AS de,
        CAST(count(*) AS BIGINT) AS rr
      FROM base GROUP BY t, x
    ),
    grid AS (SELECT g.t, x.x FROM ({grid}) g
             CROSS JOIN (SELECT 0 AS x UNION ALL SELECT 1) x),
    filled AS (
      SELECT g.t, g.x, coalesce(p.de, 0) AS de,
        sum(coalesce(p.rr, 0)) OVER (
          PARTITION BY g.x ORDER BY g.t DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nr
      FROM grid g LEFT JOIN percell p ON p.t = g.t AND p.x = g.x
    ),
    days AS (
      SELECT t,
        CAST(sum(CASE WHEN x = 1 THEN de END) AS BIGINT) AS d1,
        CAST(sum(CASE WHEN x = 0 THEN de END) AS BIGINT) AS d0,
        CAST(sum(CASE WHEN x = 1 THEN nr END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN x = 0 THEN nr END) AS BIGINT) AS n0
      FROM filled GROUP BY t
    ),
    evd AS (SELECT * FROM days WHERE d0 + d1 > 0 AND n0 > 0 AND n1 > 0)"""
    newton_part = f"""it0 AS (SELECT CAST(1000000 AS BIGINT) AS w),
    {newton},
    tot AS (
      SELECT CAST(sum(d0 + d1) AS BIGINT) AS n_events,
        CAST(count(*) AS BIGINT) AS n_event_days
      FROM evd
    )
    SELECT tot.n_events, tot.n_event_days,
      f.w AS hazard_ratio_ppm,
      CAST((s0.u * f.w) {dialect.div} s0.i AS BIGINT) AS first_step_ppm,
      CAST((sf.u * sf.u) {dialect.div} sf.i AS BIGINT) AS final_score_sq_ppm,
      CAST((s0.u * s0.u) {dialect.div} s0.i AS BIGINT) AS score_chi2_ppm,
      (s0.u * s0.u) {dialect.div} s0.i > {_CHI2_DF1_E6} AS reject_equal_hazard
    FROM it{_COX_STEPS} f
    CROSS JOIN s1 s0
    CROSS JOIN {score(f"it{_COX_STEPS}")} sf
    CROSS JOIN tot
    """
    return days_ctes, newton_part


_COX_DUCK_DAYS, _COX_DUCK_NEWTON = _cox_sql(DUCK)


@query(
    "cox_ph_binary",
    oracle=f"WITH {_COX_DUCK_DAYS},\n    {_COX_DUCK_NEWTON}",
)
def q_cox_ph_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards hazard ratio (urgent vs non-urgent
    priority) on order→ship latency, censored at 365 days, Breslow
    ties — four Newton steps carried out entirely in ppm integers by
    reparametrizing on the hazard ratio W = e^β (ΔW = W·U/I), plus the
    exact score test at β=0 (U₀²/I₀ vs χ²₁).  ``first_step_ppm`` and
    ``final_score_sq_ppm`` expose convergence (the final score² is
    ~0 ppm when Newton has landed).

    Scale: one groupBy to the (t ≤ 365, x ∈ {0,1}) cell frame, suffix
    at-risk counts via a window PARTITIONED by covariate level over the
    bounded 365-day grid — the lineitem scan is the only full pass
    regardless of data size.  The ≤365-row risk-set frame is collected
    ONCE (the kmeans-centroid bounded-collect device) and the four
    Newton steps run driver-side as exact python-int arithmetic
    (truncating division ≡ Spark ``div`` ≡ DuckDB ``//``, so the value
    hash matches the oracle's pure-SQL unrolled replay bit-for-bit) —
    the unrolled-SQL form was 33 nested single-partition exchanges for
    what is a 365-number sequential solve (VERDICT r10 item 8)."""
    register_views(spark, sf_dir, "orders", "lineitem")
    days_ctes, _ = _cox_sql(SPARK)
    evd = spark.sql(f"WITH {days_ctes} SELECT * FROM evd")
    rows = evd.collect()

    # Newton on the bounded risk-set frame, DRIVER-side (VERDICT r10
    # item 8): the distributed work is the lineitem scan -> (t, x)
    # cell aggregate above; the 4 sequential scalar re-aggregations of
    # <=365 rows were 33 nested single-partition exchanges as unrolled
    # SQL.  Exact-integer replay of the SQL arithmetic (python ints,
    # truncating division = Spark `div` = DuckDB `//`), so the value
    # hash is unchanged vs the DuckDB oracle, which still runs the
    # pure-SQL unrolled form.
    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def score(w: int) -> tuple[int, int]:
        u = i = 0
        for r in rows:
            d0, d1, n0, n1 = int(r.d0), int(r.d1), int(r.n0), int(r.n1)
            den = n0 * 1000000 + n1 * w
            u += d1 * 1000000 - tdiv((d0 + d1) * n1 * w * 1000000, den)
            i += tdiv(
                (d0 + d1) * (n0 * 1000000) * (n1 * w) * 1000000, den * den
            )
        return u, i

    w = 1000000
    u0, i0 = score(w)
    first = None
    for _step in range(_COX_STEPS):
        u, i = score(w)
        w = w + tdiv(u * w, i)
    uf, i_f = score(w)
    n_events = sum(int(r.d0) + int(r.d1) for r in rows)
    out = [
        (
            n_events,
            len(rows),
            w,
            tdiv(u0 * w, i0),
            tdiv(uf * uf, i_f),
            tdiv(u0 * u0, i0),
            tdiv(u0 * u0, i0) > _CHI2_DF1_E6,
        )
    ]
    return spark.createDataFrame(
        out,
        "n_events bigint, n_event_days bigint, hazard_ratio_ppm bigint,"
        " first_step_ppm bigint, final_score_sq_ppm bigint,"
        " score_chi2_ppm bigint, reject_equal_hazard boolean",
    )


# ---------------------------------------------------------------------------
# ljung_box_test
# ---------------------------------------------------------------------------

_LB_LAGS = 10
#: floor(1e6 · χ²(df=10, α=0.05)) = 18.307038
_CHI2_DF10_E6 = 18_307_038


def _lb_sql(dialect: Dialect) -> str:
    lags = f"SELECT {dialect.series(1, _LB_LAGS)} AS k"
    hint = dialect.broadcast("k")
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM day
    ),
    den AS (
      SELECT CAST(sum(CAST(st.n * day.y - st.s AS {dialect.big})
                      * (st.n * day.y - st.s)) AS {dialect.big}) AS d
      FROM day CROSS JOIN st
    ),
    ac AS (
      SELECT {hint}k.k AS k, CAST(count(*) AS BIGINT) AS pairs,
        CAST(sum(CAST(st.n * a.y - st.s AS {dialect.big})
                 * (st.n * b.y - st.s)) AS {dialect.big}) AS num
      FROM day a CROSS JOIN ({lags}) k CROSS JOIN st
      JOIN day b ON b.t = a.t + k.k
      GROUP BY k.k
    ),
    rk AS (
      SELECT ac.k, ac.pairs,
        CAST((ac.num * 1000000) {dialect.div} den.d AS BIGINT) AS r_ppm
      FROM ac CROSS JOIN den
    ),
    q AS (
      SELECT CAST((st.n * (st.n + 2)
          * sum((CAST(rk.r_ppm AS {dialect.big}) * rk.r_ppm) {dialect.div} (st.n - rk.k)))
          {dialect.div} 1000000 AS BIGINT) AS q_ppm,
        CAST(max(st.n) AS BIGINT) AS n
      FROM rk CROSS JOIN st GROUP BY st.n
    )
    SELECT {"/*+ BROADCAST(q) */" if dialect.spark else ""}
      CAST(rk.k AS BIGINT) AS lag, rk.pairs, rk.r_ppm,
      q.n AS n_days, q.q_ppm,
      q.q_ppm > {_CHI2_DF10_E6} AS reject_white_noise
    FROM rk CROSS JOIN q
    """


sql_query(
    "ljung_box_test", _lb_sql, "orders",
    doc="""Ljung-Box portmanteau test on daily revenue: autocorrelations
    r₁..r₁₀ via the cross-multiplied deviation device (dev = n·y − S,
    the n² factors cancel in r_k exactly), Q = n(n+2)Σ r_k²/(n−k) in
    ppm vs the χ²₁₀ gate.  One row per lag plus the shared Q columns.

    Scale: lag pairs come from an EQUI-join on b.t = a.t + k over the
    calendar-day frame crossed with the broadcast 10-row lag spine —
    never a range/nested-loop join; calendar gaps simply drop pairs
    (identically in both engines, pair counts are in the output).""",
)


# ---------------------------------------------------------------------------
# durbin_watson_test + breusch_pagan_test (shared scaled-residual frame)
# ---------------------------------------------------------------------------

#: residuals are D-scaled integers (D = n·Σt²−(Σt)² never divides);
#: this fixed down-shift keeps their squares far from the 1e38 decimal
#: ceiling at 100× data while leaving ≥5 significant digits at sf0.001.
_RESID_SHIFT = 1_000_000_000


def _resid_ctes(dialect: Dialect) -> str:
    return f"""
    {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(t) AS BIGINT) AS s_t, CAST(sum(y) AS BIGINT) AS s_y,
        CAST(sum(CAST(t AS {dialect.big}) * t) AS {dialect.big}) AS s_tt,
        CAST(sum(CAST(t AS {dialect.big}) * y) AS {dialect.big}) AS s_ty
      FROM day
    ),
    co AS (
      SELECT n,
        CAST(n * s_tt - CAST(s_t AS {dialect.big}) * s_t AS {dialect.big}) AS dd,
        CAST(n * s_ty - CAST(s_t AS {dialect.big}) * s_y AS {dialect.big}) AS bb,
        CAST(s_y * s_tt - CAST(s_t AS {dialect.big}) * s_ty AS {dialect.big}) AS aa
      FROM st
    ),
    e AS (
      SELECT day.t,
        CAST((co.dd * day.y - co.aa - co.bb * day.t)
             {dialect.div} {_RESID_SHIFT} AS BIGINT) AS es
      FROM day CROSS JOIN co
    )"""


def _dw_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_resid_ctes(dialect)},
    dsum AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(CAST(b.es - a.es AS {dialect.big}) * (b.es - a.es)) AS {dialect.big}) AS num
      FROM e a JOIN e b ON b.t = a.t + 1
    ),
    esum AS (
      SELECT CAST(sum(CAST(es AS {dialect.big}) * es) AS {dialect.big}) AS den FROM e
    )
    SELECT co.n AS n_days, dsum.n_pairs,
      CAST((co.bb * 1000000) {dialect.div} co.dd AS BIGINT) AS slope_ppm,
      CAST((dsum.num * 1000000) {dialect.div} esum.den AS BIGINT) AS dw_ppm,
      (dsum.num * 1000000) {dialect.div} esum.den < 1000000 AS positive_autocorr_side
    FROM co CROSS JOIN dsum CROSS JOIN esum
    """


sql_query(
    "durbin_watson_test", _dw_sql, "orders",
    doc="""Durbin-Watson d on the residuals of daily revenue vs time: the
    OLS residual is kept as the EXACT integer D·y − A − B·t (slope and
    intercept never divide; one fixed engine-identical down-shift keeps
    squares inside DECIMAL(38,0) headroom), d = Σ(Δe)²/Σe² in ppm over
    calendar-adjacent day pairs (an equi-join on t+1; gaps drop the
    pair in both engines).  d < 1 flags the positive-autocorrelation
    side (exact bounds are n-dependent table values).

    Scale: two aggregations over the bounded calendar-day frame; the
    only full-data pass is the orders scan feeding the daily sums.""",
)


def _bp_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_resid_ctes(dialect)},
    g AS (
      SELECT t,
        (CAST(es AS {dialect.big}) * es) {dialect.div} 1000000 AS gv
      FROM e
    ),
    gs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(t) AS BIGINT) AS s_t, CAST(sum(gv) AS {dialect.big}) AS s_g,
        CAST(sum(CAST(t AS {dialect.big}) * t) AS {dialect.big}) AS s_tt,
        CAST(sum(CAST(t AS {dialect.big}) * gv) AS {dialect.big}) AS s_tg,
        CAST(sum(CAST(gv AS {dialect.big}) * gv) AS {dialect.big}) AS s_gg
      FROM g
    ),
    r2 AS (
      SELECT n,
        CAST((((n * s_tg - s_t * s_g) * 1000000)
              {dialect.div} (n * s_tt - CAST(s_t AS {dialect.big}) * s_t))
             * (n * s_tg - s_t * s_g)
             {dialect.div} (n * s_gg - s_g * s_g) AS BIGINT) AS r2_ppm
      FROM gs
    )
    SELECT n AS n_days, r2_ppm,
      CAST(n * r2_ppm AS BIGINT) AS lm_ppm,
      n * r2_ppm > {_CHI2_DF1_E6} AS reject_homoskedastic
    FROM r2
    """


sql_query(
    "breusch_pagan_test", _bp_sql, "orders",
    doc="""Breusch-Pagan LM heteroskedasticity test: the squared (scaled)
    OLS residuals of daily revenue regressed back on time, LM = n·R²
    in ppm vs χ²₁.  R² is assembled sqrt-free with the staged-quotient
    device (the ·1e6 quotient against the t-dispersion is taken FIRST
    so the cross product never approaches 1e38).

    Scale: same bounded-day-frame posture as ``durbin_watson_test``.""",
)


# ---------------------------------------------------------------------------
# jonckheere_terpstra
# ---------------------------------------------------------------------------

_JT_BUCKET_C = 1000  # $10 units, in cents
#: floor(1e6 · z²(α=0.05, two-sided)) = 1.959964²
_Z2_CRIT_E6 = 3_841_458


def _jt_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("gg")
    return f"""
    WITH o AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS g,
        CAST(round(o_totalprice * 100) AS BIGINT){dialect.div}{_JT_BUCKET_C} AS v
      FROM orders
    ),
    h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY g, v),
    grid AS (
      SELECT {hint}gg.g, vv.v
      FROM (SELECT DISTINCT g FROM o) gg
      CROSS JOIN (SELECT DISTINCT v FROM o) vv
    ),
    cum AS (
      SELECT grid.g, grid.v, coalesce(h.c, 0) AS c,
        sum(coalesce(h.c, 0)) OVER (
          PARTITION BY grid.g ORDER BY grid.v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - coalesce(h.c, 0) AS cumlt
      FROM grid LEFT JOIN h ON h.g = grid.g AND h.v = grid.v
    ),
    jt AS (
      SELECT CAST(sum(2 * CAST(b.c AS {dialect.big}) * a.cumlt
                      + CAST(a.c AS {dialect.big}) * b.c) AS {dialect.big}) AS jt2
      FROM cum a JOIN cum b ON a.v = b.v AND a.g < b.g
    ),
    gs AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY g),
    mv AS (
      SELECT
        CAST((CAST(sum(n) AS {dialect.big}) * sum(n) - sum(CAST(n AS {dialect.big}) * n))
             {dialect.div} 2 AS {dialect.big}) AS mean2,
        CAST(CAST(sum(n) AS {dialect.big}) * sum(n) * (2 * sum(n) + 3)
             - sum(CAST(n AS {dialect.big}) * n * (2 * n + 3)) AS {dialect.big}) AS var72,
        CAST(count(*) AS BIGINT) AS k_groups,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM gs
    )
    SELECT mv.k_groups, mv.n_total,
      CAST(jt.jt2 AS BIGINT) AS jt2,
      CAST(mv.mean2 AS BIGINT) AS mean2,
      CAST(((jt.jt2 - mv.mean2) * (jt.jt2 - mv.mean2) * 18000000)
           {dialect.div} mv.var72 AS BIGINT) AS z2_ppm,
      ((jt.jt2 - mv.mean2) * (jt.jt2 - mv.mean2) * 18000000) {dialect.div} mv.var72
        > {_Z2_CRIT_E6} AS monotone_trend,
      jt.jt2 > mv.mean2 AS increasing_side
    FROM jt CROSS JOIN mv
    """


sql_query(
    "jonckheere_terpstra", _jt_sql, "orders",
    doc="""Jonckheere-Terpstra ordered-alternative test: is the order-value
    distribution stochastically increasing across order YEARS?  The
    pairwise Mann-Whitney counts are computed from per-year $10-bucket
    histograms — JT·2 = Σ_{i<j} Σ_v [2·c_j(v)·C_i(<v) + c_i(v)c_j(v)]
    (doubled so half-credit ties stay integer) — with C_i(<v) from a
    cumulative window PARTITIONED by year over the full year×bucket
    grid.  z² against the classical no-tie-correction normal variance
    (n²(2n+3) − Σnᵢ²(2nᵢ+3))/72, cross-multiplied sqrt-free;
    mean₂ = (N² − Σnᵢ²)/2 needs no group-pair join at all.

    Scale: histogram rows = years × price buckets (bounded by the
    price RANGE, not row count); the pair stage self-joins that frame
    on bucket equality — an equi-join of k·V rows, never n² pairs.""",
)
