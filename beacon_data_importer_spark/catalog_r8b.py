"""Round-8 catalog, tier 2 (VERDICT r7 item 6 — the two planned
ROADMAP tiers):

* ``holt_winters_seasonal`` — triple exponential smoothing (level +
  trend + 12-month additive seasonal) over the monthly revenue series:
  ``holt_linear_forecast``'s TRUE recursive CTE extended to carry the
  SEASONAL ARRAY through the recursion — state is (level, trend,
  s[12], rest), each step rotates the season ring — plus a 12-month
  forecast l_N + h·b_N + s[h].  Both engines run the identical
  array-carry form (the seasonal lag s_{t-12} is 12 iterations back,
  which a join-per-step recursion cannot reach — the working table
  only exposes the PREVIOUS step — so the array is load-bearing, not
  a Spark-side optimization this time).  All integer ppm smoothing
  with DECIMAL(38,0)/HUGEINT-widened products (α·y at 100× data scale
  would overflow BIGINT — the r7 `div`-wraps-silently bug class) and
  one truncating division per update, identical floor placement.
* ``event_type_theta_overlap`` — batch twin of the streaming THETA
  state (``streaming/sketches.py`` round-8 extension): the same
  ``batch_type_theta_sketches`` → ``theta_overlap`` path the
  ``foreachBatch`` sink maintains incrementally, estimating |view|,
  |purchase|, union, INTERSECTION and DIFFERENCE of their audiences
  from KB-scale sketch state.  The set algebra is what earns theta a
  place next to the HLL state (``event_type_distinct_sketch``): HLL
  union is exact-ish, but HLL intersection exists only via
  inclusion-exclusion error stacking — theta intersects natively.
  Estimates audited as boolean 10% bounds against exact flag
  aggregation (hll_distinct_audit device);
  tests/test_streaming.py asserts streaming == batch
  estimates for the theta path too.

Reference parity: beyond-reference analytics/streaming tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import DUCK, SPARK, Dialect, query
from .catalog_r6b import _HOLT_BASE_SQL
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# holt_winters_seasonal
# ---------------------------------------------------------------------------

_HW_ALPHA = 300_000  # level smoothing, ppm
_HW_BETA = 100_000   # trend smoothing, ppm
_HW_GAMMA = 200_000  # seasonal smoothing, ppm
_HW_M = 12           # season length, months
_HW_H = 12           # forecast horizon, months
_ONE = 1_000_000


def _hw_sql(dialect: Dialect) -> str:
    """Holt-Winters additive recursion for one dialect.  Identical
    structure in both engines (array-carry is load-bearing — see
    module docstring); only the list/array function names, the
    widening type, and the division token differ.

    Init (classic two-season): l₀ = mean(y₁..₁₂), b₀ =
    (mean(y₁₃..₂₄) − mean(y₁..₁₂)) / 12 — computed as one exact
    ``(S₂ − S₁) div 144`` — s_i = y_i − l₀.  Step (t = 13..N):
      lₜ = (α(yₜ − s_old) + (1−α)(l + b)) div 1e6
      bₜ = (β(lₜ − l) + (1−β)b) div 1e6
      sₜ = (γ(yₜ − lₜ) + (1−γ)s_old) div 1e6
    with s_old the ring head and the ring rotated each step."""
    a, b1, g, one, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _ONE, _HW_M

    if dialect.spark:
        ys_agg = "transform(array_sort(collect_list(struct(t, y_c))), x -> x.y_c)"
        def lsum(lo: int) -> str:
            return (
                f"aggregate(slice(ys, {lo}, {m}), CAST(0 AS BIGINT),"
                " (acc, x) -> acc + x)"
            )
        def sl(arr: str, lo: str, n: str) -> str:
            return f"slice({arr}, {lo}, {n})"
        def el(arr: str, i: str) -> str:
            return f"element_at({arr}, {i})"
        s_init = "transform(slice(ys, 1, 12), y -> y - l0)"
        append = "concat({ring}, array({x}))"
        size = "size"
    else:
        ys_agg = "list(y_c ORDER BY t)"
        def lsum(lo: int) -> str:
            return f"list_sum(ys[{lo}:{lo + m - 1}])"
        def sl(arr: str, lo: str, n: str) -> str:
            return f"list_slice({arr}, {lo}, ({lo}) + ({n}) - 1)"
        def el(arr: str, i: str) -> str:
            return f"list_extract({arr}, {i})"
        s_init = "list_transform(ys[1:12], y -> y - l0)"
        append = "list_append({ring}, {x})"
        size = "len"
    hseries = f"SELECT {dialect.series(1, _HW_H)} AS h"

    y_t = el("r.rest", "1")
    s_old = el("r.s", "1")
    l_t = (
        f"CAST(((CAST({a} AS {dialect.big}) * ({y_t} - {s_old}))"
        f" + (CAST({one - a} AS {dialect.big}) * (r.l + r.b))){dialect.div}{one}"
        " AS BIGINT)"
    )
    b_t = (
        f"CAST(((CAST({b1} AS {dialect.big}) * ({l_t} - r.l))"
        f" + (CAST({one - b1} AS {dialect.big}) * r.b)){dialect.div}{one} AS BIGINT)"
    )
    s_t = (
        f"CAST(((CAST({g} AS {dialect.big}) * ({y_t} - {l_t}))"
        f" + (CAST({one - g} AS {dialect.big}) * {s_old})){dialect.div}{one} AS BIGINT)"
    )
    ring = sl("r.s", "2", str(m - 1))
    base_cte = "" if dialect.spark else f"__hw_base AS ({_HOLT_BASE_SQL}),"
    return f"""
    WITH RECURSIVE {base_cte}
    arr AS (SELECT {ys_agg} AS ys FROM __hw_base),
    init AS (
      SELECT ys,
        CAST(({lsum(1)}){dialect.div}{m} AS BIGINT) AS l0,
        CAST((({lsum(m + 1)}) - ({lsum(1)})){dialect.div}{m * m} AS BIGINT) AS b0
      FROM arr
    ),
    rec(t, l, b, s, rest) AS (
      SELECT CAST({m} AS BIGINT), l0, b0,
             {s_init},
             {sl("ys", str(m + 1), f"{size}(ys) - {m}")}
      FROM init
      UNION ALL
      SELECT r.t + 1,
             {l_t},
             {b_t},
             {append.format(ring=ring, x=s_t)},
             {sl("r.rest", "2", f"{size}(r.rest) - 1")}
      FROM rec r WHERE {size}(r.rest) > 0
    )
    SELECT bb.t AS t, bb.y_c AS y_c,
           CAST(p.l + p.b + {el("p.s", "1")} AS BIGINT) AS pred_c
    FROM __hw_base bb LEFT JOIN rec p ON p.t = bb.t - 1
    UNION ALL
    SELECT f.t + h.h, CAST(NULL AS BIGINT),
           CAST(f.l + h.h * f.b + {el("f.s", "h.h")} AS BIGINT)
    FROM (SELECT * FROM rec
          WHERE t = (SELECT max(t) FROM __hw_base)) f
    CROSS JOIN ({hseries}) h
    """


@query(
    "holt_winters_seasonal",
    oracle=_hw_sql(DUCK),
)
def q_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing (level + trend + 12-month
    seasonal) of monthly revenue, one-step-ahead predictions for every
    observed month after init, and a 12-month seasonal forecast —
    the seasonal completion of ``holt_linear_forecast``, reading the
    same decomposition ``stl_decomposition_lite`` tabulates but as a
    FORECASTING recursion (α=0.3, β=0.1, γ=0.2, all integer ppm).

    Scale: the recursion frame is the calendar-bounded month series
    (~84 rows); the only data-proportional stage is the monthly
    aggregate, which map-side combines.  The seasonal ring makes the
    state 12 integers wider than Holt's — still O(1).  See
    ``_hw_sql`` for why BOTH engines carry the array (s_{{t-12}} is
    out of reach for join-per-step recursion) and why the products
    are DECIMAL(38,0)/HUGEINT-widened."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    spark.sql(f"SELECT * FROM ({_HOLT_BASE_SQL})").createOrReplaceTempView(
        "__hw_base"
    )
    return spark.sql(_hw_sql(SPARK))


# ---------------------------------------------------------------------------
# event_type_theta_overlap
# ---------------------------------------------------------------------------

_THETA_A = "view"
_THETA_B = "purchase"


@query(
    "event_type_theta_overlap",
    oracle=f"""
    WITH flags AS (
      SELECT user_id,
        max(CASE WHEN event_type = '{_THETA_A}' THEN 1 ELSE 0 END) AS fa,
        max(CASE WHEN event_type = '{_THETA_B}' THEN 1 ELSE 0 END) AS fb
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(sum(fa) AS BIGINT) AS a_exact,
      CAST(sum(fb) AS BIGINT) AS b_exact,
      CAST(sum(CASE WHEN fa = 1 OR fb = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS union_exact,
      CAST(sum(fa * fb) AS BIGINT) AS overlap_exact,
      CAST(sum(CASE WHEN fa = 1 AND fb = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS only_a_exact,
      true AS a_within_10pct,
      true AS b_within_10pct,
      true AS union_within_10pct,
      true AS overlap_within_10pct,
      true AS only_a_within_10pct
    FROM flags
    """,
)
def q_event_type_theta_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of the streaming THETA state: audience set algebra
    between '{a}' and '{b}' users — |A|, |B|, |A∪B|, |A∩B|, |A∖B| —
    from the per-type sketch table the ``foreachBatch`` sink maintains
    (``streaming/sketches.py:union_theta``; equality of
    streaming and batch estimates is asserted by
    tests/test_streaming.py).  This is the operation HLL
    state structurally cannot serve (intersection only via
    inclusion-exclusion, error stacking with small overlaps); theta
    intersects natively, which is why both sketch families are
    maintained.  Estimates audited as boolean 10% bounds against the
    exact per-user flag rollup (hll_distinct_audit device — sketch
    bits are DataSketches-internal, the bound is portable).

    At 100 TB the sketch pass is one map-side-combinable aggregation
    with KB state per type; the set algebra never re-touches data."""
    from .streaming.sketches import batch_type_theta_sketches, theta_overlap

    ev = read_table(spark, sf_dir, "events")
    est = theta_overlap(
        batch_type_theta_sketches(ev), _THETA_A, _THETA_B
    )
    flags = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == _THETA_A, 1).otherwise(0)
        ).alias("fa"),
        F.max(
            F.when(F.col("event_type") == _THETA_B, 1).otherwise(0)
        ).alias("fb"),
    )
    exact = flags.agg(
        F.sum("fa").cast("bigint").alias("a_exact"),
        F.sum("fb").cast("bigint").alias("b_exact"),
        F.sum(
            F.when((F.col("fa") == 1) | (F.col("fb") == 1), 1).otherwise(0)
        ).cast("bigint").alias("union_exact"),
        F.sum(F.col("fa") * F.col("fb")).cast("bigint").alias("overlap_exact"),
        F.sum(
            F.when((F.col("fa") == 1) & (F.col("fb") == 0), 1).otherwise(0)
        ).cast("bigint").alias("only_a_exact"),
    )

    def ok(est_c: str, exact_c: str) -> F.Column:
        return (
            F.abs(F.col(est_c) - F.col(exact_c))
            <= F.col(exact_c) * 0.10
        )

    return exact.crossJoin(F.broadcast(est)).select(
        "a_exact", "b_exact", "union_exact", "overlap_exact",
        "only_a_exact",
        ok("a_est", "a_exact").alias("a_within_10pct"),
        ok("b_est", "b_exact").alias("b_within_10pct"),
        ok("union_est", "union_exact").alias("union_within_10pct"),
        ok("overlap_est", "overlap_exact").alias("overlap_within_10pct"),
        ok("only_a_est", "only_a_exact").alias("only_a_within_10pct"),
    )


q_event_type_theta_overlap.__doc__ = (
    q_event_type_theta_overlap.__doc__ or ""
).format(a=_THETA_A, b=_THETA_B)
