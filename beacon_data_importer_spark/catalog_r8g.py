"""Round-8 catalog, tier 7: link analysis, rank post-hocs, dispersion,
seasonal trend, influence diagnostics, and forecast-skill audit — the
final six round-8 driver slots.

* ``hits_hub_authority`` — Kleinberg's HITS on the bipartite
  supplier→part shipment graph (3 unrolled iterations, L1-normalized
  ppm integer scores): hubs = suppliers whose parts are widely
  sourced, authorities = parts shipped by strong hubs.  The
  eigenvector sibling of ``pagerank_parts`` (random-walk centrality).
* ``dunn_posthoc`` — pairwise rank post-hoc after ``kruskal_wallis``:
  pooled tie-corrected midranks, zᵢⱼ on mean-rank differences,
  Bonferroni gate at α/10 — says WHICH regions differ, exactly as
  ``tukey_hsd`` does for the parametric ANOVA.
* ``ansari_bradley`` — 2-sample rank DISPERSION test (urgent vs
  non-urgent order values): center-folded scores min(R, N+1−R);
  complements ``levene_test``/``mood_median_test`` (spread vs
  location, parametric vs rank).
* ``seasonal_mk_trend`` — Hirsch-Slack seasonal Mann-Kendall: the MK
  S statistic PER CALENDAR MONTH across years, summed, so a 12-month
  cycle can't masquerade as (or mask) a trend.  The seasonal sibling
  of ``mk_trend_test``.
* ``cooks_distance_outliers`` — influence diagnostics on the daily
  revenue-vs-time OLS: Cook's D from exact integer residuals and
  closed-form simple-regression leverage, top-10 most influential
  days.  ``robust_outliers`` flags VALUE outliers; this flags days
  that bend the FIT.
* ``theil_u2_forecast_audit`` — Theil's U₂ skill score of the drift
  forecast against the no-change naive on daily revenue; the
  model-vs-naive audit complementing ``mase_forecast_audit`` (which
  scales by the seasonal naive).

Parity devices: doubled midranks, cross-multiplied contrasts,
DECIMAL(38,0)/HUGEINT, staged ppm quotients (each ratio is floored to
ppm BEFORE entering the next product, keeping every intermediate well
under 1e38 at 100× data), published critical values as ppm literals.

Reference parity: beyond-reference graph/statistics tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, Dialect, query, sql_query
from .catalog_r8d import _day_sql, _resid_ctes
from .sources.parquet import read_table


# ---------------------------------------------------------------------------
# hits_hub_authority
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_TOPK = 10


def _hits_sql(dialect: Dialect) -> str:

    steps = []
    prev_h = "h0"
    for it in range(1, _HITS_ITERS + 1):
        steps.append(f"""a{it}r AS (
      SELECT e.p, CAST(sum(h.s) AS {dialect.big}) AS raw
      FROM edges e JOIN {prev_h} h ON h.k = e.s GROUP BY e.p
    ),
    a{it} AS (
      SELECT p AS k,
        CAST((raw * 1000000){dialect.div}(SELECT sum(raw) FROM a{it}r)
             AS BIGINT) AS s
      FROM a{it}r
    ),
    h{it}r AS (
      SELECT e.s, CAST(sum(a.s) AS {dialect.big}) AS raw
      FROM edges e JOIN a{it} a ON a.k = e.p GROUP BY e.s
    ),
    h{it} AS (
      SELECT s AS k,
        CAST((raw * 1000000){dialect.div}(SELECT sum(raw) FROM h{it}r)
             AS BIGINT) AS s
      FROM h{it}r
    )""")
        prev_h = f"h{it}"
    chain = ",\n    ".join(steps)
    n = _HITS_ITERS

    return f"""
    WITH edges AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    ),
    h0 AS (SELECT DISTINCT s AS k, CAST(1000000 AS BIGINT) AS s FROM edges),
    {chain}
    SELECT * FROM (
      SELECT 'hub' AS side, k AS node_key, s AS score_ppm
      FROM h{n} ORDER BY s DESC, k LIMIT {_HITS_TOPK}
    ) hh
    UNION ALL
    SELECT * FROM (
      SELECT 'authority' AS side, k AS node_key, s AS score_ppm
      FROM a{n} ORDER BY s DESC, k LIMIT {_HITS_TOPK}
    ) aa
    """


@query(
    "hits_hub_authority",
    oracle=_hits_sql(DUCK),
)
def q_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the distinct supplier→part shipment edges: three
    unrolled hub/authority iterations, every score L1-normalized to
    EXACT ppm integers after each half-step (the floored quotient is
    the normalization, placed identically in both engines), top-10 per
    side by (score, key) TakeOrdered.

    Scale: each half-step is one hash join edges⋈scores keyed on the
    node plus one map-side-combinable groupBy — the pagerank_parts
    shape; iteration count is a constant.  The Spark side iterates in
    the DataFrame API with each score frame persisted and the L1
    normalizer collected as ONE row per half-step (the kmeans device):
    the single-statement unrolled form re-inlines every CTE at each of
    its two references (score select + normalizer subquery), doubling
    the base subtree per half-step — measured ~18 s at sf0.01 for what
    is ~1 s of actual work, and exponential at scale."""
    from pyspark.sql import functions as F

    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.col("l_suppkey").cast("bigint").alias("s"),
            F.col("l_partkey").cast("bigint").alias("p"),
        )
        .distinct()
        .persist()
    )
    cached = [edges]
    try:
        h = edges.select(F.col("s").alias("k")).distinct().select(
            "k", F.lit(1000000).cast("bigint").alias("sc")
        )
        a = None
        for _ in range(_HITS_ITERS):
            a_raw = (
                edges.join(h, edges["s"] == h["k"])
                .groupBy("p")
                .agg(F.sum("sc").cast("decimal(38,0)").alias("raw"))
            ).persist()
            cached.append(a_raw)
            tot = a_raw.agg(F.sum("raw")).collect()[0][0]
            a = a_raw.select(
                F.col("p").alias("k"),
                F.expr(f"CAST((raw * 1000000) div {tot} AS BIGINT)").alias(
                    "sc"
                ),
            )
            h_raw = (
                edges.join(a, edges["p"] == a["k"])
                .groupBy("s")
                .agg(F.sum("sc").cast("decimal(38,0)").alias("raw"))
            ).persist()
            cached.append(h_raw)
            tot = h_raw.agg(F.sum("raw")).collect()[0][0]
            h = h_raw.select(
                F.col("s").alias("k"),
                F.expr(f"CAST((raw * 1000000) div {tot} AS BIGINT)").alias(
                    "sc"
                ),
            )

        def topk(df, side: str):
            return (
                df.orderBy(F.desc("sc"), "k")
                .limit(_HITS_TOPK)
                .select(
                    F.lit(side).alias("side"),
                    F.col("k").alias("node_key"),
                    F.col("sc").alias("score_ppm"),
                )
            )

        # 20 bounded rows — materialize so every cached frame can be
        # released before returning.
        rows = topk(h, "hub").collect() + topk(a, "authority").collect()
        schema = "side string, node_key bigint, score_ppm bigint"
        return spark.createDataFrame(rows, schema)
    finally:
        for df in cached:
            df.unpersist()


# ---------------------------------------------------------------------------
# dunn_posthoc
# ---------------------------------------------------------------------------

_DUNN_BUCKET_C = 1000  # $10 units, the kruskal_wallis coarsening
#: floor(1e6 · z²(α=0.05/10 two-sided)) — Bonferroni over the 10
#: region pairs: z(0.0025) = 2.807034 → z² = 7.879438
_DUNN_Z2_E6 = 7_879_438


def _dunn_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("b", "v")
    return f"""
    WITH o AS (
      SELECT r.r_name AS grp,
        CAST(round(ord.o_totalprice * 100) AS BIGINT){dialect.div}{_DUNN_BUCKET_C}
          AS v
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    dist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY v),
    rmap AS (
      SELECT v, c,
        2 * (sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
          + c + 1 AS r2
      FROM dist
    ),
    gsum AS (
      SELECT o.grp, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(rmap.r2) AS {dialect.big}) AS s2
      FROM o JOIN rmap ON rmap.v = o.v GROUP BY o.grp
    ),
    vpool AS (
      SELECT CAST(sum(c) AS BIGINT) AS nn,
        CAST(sum(CAST(c AS {dialect.big}) * c * c - c) AS {dialect.big}) AS ties
      FROM dist
    ),
    pairs AS (
      SELECT {hint}a.grp AS region_a, b.grp AS region_b,
        a.n AS n_a, b.n AS n_b,
        CAST(((a.s2 * b.n - b.s2 * a.n) * 1000000)
             {dialect.div}(CAST(a.n AS {dialect.big}) * b.n) AS BIGINT) AS rank_diff2_ppm,
        CAST((((CAST(v.nn AS {dialect.big}) * (v.nn + 1) * (v.nn - 1) - v.ties)
               {dialect.div}(3 * (v.nn - 1)))
              * (a.n + b.n) * 1000000)
             {dialect.div}(CAST(a.n AS {dialect.big}) * b.n) AS BIGINT) AS var2_ppm
      FROM gsum a JOIN gsum b ON a.grp < b.grp CROSS JOIN vpool v
    )
    SELECT region_a, region_b, n_a, n_b, rank_diff2_ppm, var2_ppm,
      CAST((CAST(rank_diff2_ppm AS {dialect.big}) * rank_diff2_ppm)
           {dialect.div}var2_ppm AS BIGINT) AS z2_ppm,
      (CAST(rank_diff2_ppm AS {dialect.big}) * rank_diff2_ppm){dialect.div}var2_ppm
        > {_DUNN_Z2_E6} AS significant_bonferroni
    FROM pairs
    """


sql_query(
    "dunn_posthoc", _dunn_sql, "orders", "customer", "nation", "region",
    doc="""Dunn's pairwise post-hoc after Kruskal-Wallis on order values
    ($10 buckets) across the 5 regions: pooled DOUBLED midranks from
    the distinct-bucket histogram (tie-exact), per-pair mean-rank₂
    difference and its tie-corrected variance 4·V·(nᵢ+nⱼ)/(nᵢnⱼ) with
    V = (N(N+1)(N−1) − Σ(t³−t))/(3(N−1)) in doubled units — each
    ratio floored to ppm BEFORE the square/quotient so every
    intermediate stays under DECIMAL(38,0) even at 100× rows.
    Bonferroni z² gate at α/10.

    Scale: histogram + one 5-row pair join (broadcast); the windows
    run over the price-bounded distinct-bucket frame.""",
)


# ---------------------------------------------------------------------------
# ansari_bradley
# ---------------------------------------------------------------------------

#: floor(1e6 · z²(α=0.05 two-sided)) = 1.959964²
_AB_Z2_E6 = 3_841_458
_AB_BUCKET_C = 1000


def _ab_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g,
        CAST(round(o_totalprice * 100) AS BIGINT){dialect.div}{_AB_BUCKET_C} AS v
      FROM orders
    ),
    dist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY v),
    rmap AS (
      SELECT v, c,
        2 * (sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
          + c + 1 AS r2
      FROM dist
    ),
    nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dist),
    sc AS (
      SELECT o.g,
        CASE WHEN rmap.r2 <= nn.n + 1 THEN rmap.r2
             ELSE 2 * (nn.n + 1) - rmap.r2 END AS s2
      FROM o JOIN rmap ON rmap.v = o.v CROSS JOIN nn
    ),
    st AS (
      SELECT
        CAST(sum(CASE WHEN g = 1 THEN s2 ELSE 0 END) AS {dialect.big}) AS ab2,
        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM sc
    ),
    mo AS (
      SELECT ab2, n1, n0, n1 + n0 AS n,
        CASE WHEN (n1 + n0) % 2 = 0
          THEN CAST(n1 AS {dialect.big}) * (n1 + n0 + 2){dialect.div}2
          ELSE CAST(n1 AS {dialect.big}) * (n1 + n0 + 1) * (n1 + n0 + 1)
               {dialect.div}(2 * (n1 + n0)) END AS mean2,
        CASE WHEN (n1 + n0) % 2 = 0
          THEN (CAST(n1 AS {dialect.big}) * n0 * (n1 + n0 + 2) * (n1 + n0 - 2)
                * 1000000){dialect.div}(12 * (n1 + n0 - 1))
          ELSE (CAST(n1 AS {dialect.big}) * n0 * (n1 + n0 + 1)
                * (3 + CAST(n1 + n0 AS {dialect.big}) * (n1 + n0)) * 1000000)
               {dialect.div}(12 * CAST(n1 + n0 AS {dialect.big}) * (n1 + n0)) END
          AS var_e6
      FROM st
    )
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n0 AS BIGINT) AS n_rest,
      CAST(ab2 AS BIGINT) AS ab2_stat, CAST(mean2 AS BIGINT) AS ab2_mean,
      CAST(((ab2 - mean2) * (ab2 - mean2) * 1000000)
           {dialect.div}(var_e6{dialect.div}1000000) AS BIGINT) AS z2_ppm,
      ((ab2 - mean2) * (ab2 - mean2) * 1000000)
        {dialect.div}(var_e6{dialect.div}1000000) > {_AB_Z2_E6}
        AS reject_equal_dispersion
    FROM mo
    """


sql_query(
    "ansari_bradley", _ab_sql, "orders",
    doc="""Ansari-Bradley two-sample dispersion test: are urgent orders'
    values more SPREAD than the rest?  Center-folded doubled midrank
    scores min(R₂, 2(N+1)−R₂) from the $10-bucket histogram, exact
    integer AB statistic, classical even/odd-N normal moments (the
    no-tie-correction form — documented approximation, identically on
    both engines since ties enter through the shared midranks), z²
    cross-multiplied with every ratio floored to ppm first.

    Scale: histogram device + two aggregations; the window runs over
    the price-bounded distinct-bucket frame.""",
)


# ---------------------------------------------------------------------------
# seasonal_mk_trend
# ---------------------------------------------------------------------------


def _smk_sql(dialect: Dialect) -> str:
    return f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS y_c
      FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
    ),
    s AS (
      SELECT CAST(sum(CAST(sign(b.y_c - a.y_c) AS BIGINT)) AS BIGINT)
        AS s_stat
      FROM m a JOIN m b ON b.mo = a.mo AND b.yr > a.yr
    ),
    v AS (
      SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS var18
      FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM m GROUP BY mo) t
    )
    SELECT s.s_stat, v.var18,
      CAST(((abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 18 * 1000000)
           {dialect.div}CAST(v.var18 AS {dialect.big}) AS BIGINT) AS z2_ppm,
      ((abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * 18 * 1000000)
        {dialect.div}CAST(v.var18 AS {dialect.big}) > {_AB_Z2_E6}
        AND abs(s.s_stat) > 1 AS seasonal_trend,
      s.s_stat > 0 AS increasing_side
    FROM s CROSS JOIN v
    """


sql_query(
    "seasonal_mk_trend", _smk_sql, "orders",
    doc="""Hirsch-Slack seasonal Mann-Kendall on monthly revenue: the MK
    S statistic computed WITHIN each calendar month across years
    (same-month pairs only — a 12-month cycle contributes zero), the
    per-season variances n(n−1)(2n+5)/18 summed, continuity-corrected
    z² cross-multiplied to a single ppm quotient.  ``mk_trend_test``
    runs on the undeseasonalized series; this is the version that
    can't be fooled by seasonality.

    Scale: one aggregation to the ≤ years×12 grid, a same-month pair
    join over that bounded grid, two scalars.""",
)


# ---------------------------------------------------------------------------
# cooks_distance_outliers
# ---------------------------------------------------------------------------

_COOK_TOPK = 10


def _cook_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_resid_ctes(dialect)},
    sse AS (
      SELECT CAST(sum(CAST(es AS {dialect.big}) * es) AS {dialect.big}) AS sse,
        CAST(count(*) AS BIGINT) AS n
      FROM e
    ),
    lev AS (
      SELECT e.t, e.es,
        1000000{dialect.div}sse.n
          + ((CAST(sse.n AS {dialect.big}) * e.t - co.s_t2)
             * (CAST(sse.n AS {dialect.big}) * e.t - co.s_t2) * 1000000)
            {dialect.div}(CAST(sse.n AS {dialect.big}) * co.dd) AS h_ppm,
        sse.sse, sse.n
      FROM e CROSS JOIN sse
      CROSS JOIN (SELECT dd, n AS cn, s_t2 FROM (
        SELECT co.dd, co.n, st.s_t AS s_t2 FROM co CROSS JOIN st
      ) x) co
    ),
    d AS (
      SELECT t, es, h_ppm,
        CAST((CAST(es AS {dialect.big}) * es * (n - 2) * h_ppm{dialect.div}sse
              * 1000000 * 1000000)
             {dialect.div}((1000000 - h_ppm) * (1000000 - h_ppm) * 2)
             AS BIGINT) AS cook_d_ppm,
        n
      FROM lev
    )
    SELECT t AS day_t, es AS resid_scaled,
      CAST(h_ppm AS BIGINT) AS leverage_ppm,
      cook_d_ppm,
      cook_d_ppm * n > 4000000 AS influential
    FROM d
    ORDER BY cook_d_ppm DESC, t
    LIMIT {_COOK_TOPK}
    """


sql_query(
    "cooks_distance_outliers", _cook_sql, "orders",
    doc="""Cook's distance on the daily revenue-vs-time OLS: exact integer
    D-scaled residuals (the durbin_watson device, shared CTEs from
    catalog_r8d), closed-form simple-regression leverage
    h = 1/n + (nt−Σt)²/(n·Sxx·n) floored to ppm, and
    D = e²h(n−2)/(2·SSE·(1−h)²) with the SSE quotient taken FIRST so
    the product chain stays inside DECIMAL(38,0) at 100×.  Top-10 most
    influential days by TakeOrdered; the 4/n rule-of-thumb flag rides
    along.  ``robust_outliers`` finds value outliers; this finds the
    days that BEND THE TREND LINE.

    Scale: the day frame is calendar-bounded; leverage/D are scan-side
    arithmetic over it; top-k is TakeOrderedAndProject.""",
)


# ---------------------------------------------------------------------------
# theil_u2_forecast_audit
# ---------------------------------------------------------------------------


def _u2_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    tri AS (
      SELECT c.y AS y2, b.y AS y1, a.y AS y0
      FROM day a
      JOIN day b ON b.t = a.t + 1
      JOIN day c ON c.t = a.t + 2
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triples,
        CAST(sum(CAST(2 * y1 - y0 - y2 AS {dialect.big}) * (2 * y1 - y0 - y2))
             AS {dialect.big}) AS sse_drift,
        CAST(sum(CAST(y1 - y2 AS {dialect.big}) * (y1 - y2)) AS {dialect.big}) AS sse_naive
      FROM tri
    )
    SELECT n_triples,
      CAST(sse_drift AS BIGINT) AS sse_drift,
      CAST(sse_naive AS BIGINT) AS sse_naive,
      CAST((sse_drift * 1000000){dialect.div}sse_naive AS BIGINT) AS u2_sq_ppm,
      (sse_drift * 1000000){dialect.div}sse_naive < 1000000 AS drift_beats_naive
    FROM s
    """


sql_query(
    "theil_u2_forecast_audit", _u2_sql, "orders",
    doc="""Theil's U₂² for the drift forecast (ŷ_t = y_{t−1} +
    (y_{t−1}−y_{t−2}), error 2y₁−y₀−y₂) against the no-change naive
    (error y₁−y₂) on daily revenue: exact integer sums of squares over
    calendar-consecutive day triples (equi-joins on t+1/t+2; gaps drop
    the triple identically in both engines), one ppm quotient.
    U₂ < 1 ⟺ the drift model has skill over naive.
    ``mase_forecast_audit`` scales a MODEL by the seasonal naive; this
    is the naive-vs-naive skill ladder's other rung.

    Scale: two self equi-joins on the bounded calendar frame, one
    aggregation — nothing beyond the orders scan grows with data.""",
)
