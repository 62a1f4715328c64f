"""Round-7 catalog tier (d): experimentation-platform plumbing —

* ``cuped_variance_reduction`` — CUPED (Controlled-experiment Using
  Pre-Experiment Data): customer revenue in 1998 adjusted by the 1997
  pre-period covariate, θ = cov(X,Y)/var(X), with the achieved
  variance reduction ρ² surfaced next to the naive and adjusted
  treatment-control deltas.  The standard trick that lets an A/B test
  reach significance on a fraction of the traffic; completes this
  repo's experiment loop (ab_power_analysis designs the sample size →
  CUPED shrinks the variance that size depends on → interim_analysis
  monitors → srm_check guards validity).  Companion of
  catalog_r5.cuped_adjustment, which reports the ADJUSTED ARM MEANS:
  this query reports the DESIGN quantities (θ, the ρ² variance
  fraction removed, naive-vs-adjusted delta) a planner consumes.
* ``srm_check`` — sample-ratio-mismatch guard: a deterministic 50/50
  hash assignment's observed split chi-squared against its design;
  SRM is the #1 silent invalidator of online experiments, and the
  test runs at α=0.001 per industry practice (an imbalanced
  assignment means a broken pipeline, not an unlucky draw).
* ``winsorized_mean_revenue`` — per-segment order-value mean with the
  tails clamped at explicit rank-defined p5/p95 cutoffs: the robust
  metric experiments actually ship (a single whale order otherwise
  owns the delta).  Cutoff ranks are integer-defined ((5n+99) div 100
  and (95n) div 100 + 1 under the total (value, key) order), never an
  engine's interpolating percentile.

Parity devices: portable md5 hash64 (CAST-to-BIGINT-first doctrine),
unit coarsening to $10 steps where a squared moment product would
exceed DECIMAL(38,0)/HUGEINT, identical floor placement both engines.

Reference parity: beyond-reference experimentation tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 (dialect-shared SQL)

from .catalog import DUCK, Dialect, query, sql_query
from .catalog_r2 import _duck_hash64
from .sources.parquet import read_table


def _spark_hash64(expr: str, seed: int = 0) -> str:
    """Spark-SQL twin of catalog_r2._duck_hash64 — identical md5 text,
    CAST to BIGINT *before* any arithmetic (the round-6 STRING % INT
    double-coercion bug class)."""
    return (
        f"CAST(conv(substring(md5('{seed}|' || {expr}), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# cuped_variance_reduction
# ---------------------------------------------------------------------------

_CUPED_SEED = 13


def _cuped_sql(dialect: Dialect) -> str:
    h = (_spark_hash64 if dialect.spark else _duck_hash64)(
        "CAST(o_custkey AS VARCHAR)" if not dialect.spark
        else "CAST(o_custkey AS STRING)",
        seed=_CUPED_SEED,
    )
    return f"""
    WITH cust AS (
      SELECT o_custkey,
        CAST({h} % 2 AS INT) AS grp,
        CAST(sum(CASE WHEN year(o_orderdate) = 1997
                 THEN CAST(round(o_totalprice * 100) AS BIGINT)
                 ELSE 0 END) {dialect.div} 1000 AS BIGINT) AS x,
        CAST(sum(CASE WHEN year(o_orderdate) = 1998
                 THEN CAST(round(o_totalprice * 100) AS BIGINT)
                 ELSE 0 END) {dialect.div} 1000 AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    mom AS (
      SELECT CAST(count(*) AS {dialect.big}) AS n,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS sx,
        CAST(sum(CAST(y AS {dialect.big})) AS {dialect.big}) AS sy,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx,
        CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS syy,
        CAST(sum(CAST(x AS {dialect.big}) * y) AS {dialect.big}) AS sxy
      FROM cust
    ),
    grps AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS ng,
        CAST(sum(x) AS BIGINT) AS sxg, CAST(sum(y) AS BIGINT) AS syg
      FROM cust GROUP BY grp
    ),
    wide AS (
      SELECT
        max(CASE WHEN grp = 1 THEN ng END) AS nt,
        max(CASE WHEN grp = 1 THEN sxg END) AS sxt,
        max(CASE WHEN grp = 1 THEN syg END) AS syt,
        max(CASE WHEN grp = 0 THEN ng END) AS nc,
        max(CASE WHEN grp = 0 THEN sxg END) AS sxc,
        max(CASE WHEN grp = 0 THEN syg END) AS syc
      FROM grps
    )
    SELECT CAST(m.n AS BIGINT) AS n_units,
      w.nt AS n_treat, w.nc AS n_control,
      CAST(((m.n * m.sxy - m.sx * m.sy) * 1000000)
           {dialect.div} (m.n * m.sxx - m.sx * m.sx) AS BIGINT) AS theta_ppm,
      CAST((((m.n * m.sxy - m.sx * m.sy) * (m.n * m.sxy - m.sx * m.sy)
             {dialect.div} (m.n * m.sxx - m.sx * m.sx)) * 1000000)
           {dialect.div} (m.n * m.syy - m.sy * m.sy) AS BIGINT) AS rho2_ppm,
      CAST((w.syt * 1000000) {dialect.div} w.nt
           - (w.syc * 1000000) {dialect.div} w.nc AS BIGINT) AS naive_diff_e6,
      CAST((w.syt * 1000000) {dialect.div} w.nt - (w.syc * 1000000) {dialect.div} w.nc
        - ((((m.n * m.sxy - m.sx * m.sy) * 1000000)
            {dialect.div} (m.n * m.sxx - m.sx * m.sx))
           * ((w.sxt * 1000000) {dialect.div} w.nt
              - (w.sxc * 1000000) {dialect.div} w.nc)) {dialect.div} 1000000
        AS BIGINT) AS cuped_diff_e6
    FROM mom m CROSS JOIN wide w
    """


sql_query(
    "cuped_variance_reduction", _cuped_sql, "orders",
    doc="""CUPED adjustment of the 1998 customer-revenue metric by its
    1997 pre-period value under a deterministic hash 50/50 assignment:
    θ_ppm = (nΣxy−ΣxΣy)·1e6/(nΣxx−Σx²) pooled (pre-period data is
    treatment-independent by construction, so pooling is unbiased),
    ρ²_ppm — the variance fraction CUPED removes — and the naive vs
    adjusted treatment-control deltas side by side.  Under a null
    assignment the adjusted delta shrinks toward zero exactly when the
    pre-period explains the spread — the measured value of running
    CUPED at all.

    Revenue coarsens to $10 units before the moment products: the ρ²
    numerator squares nΣxy, which in cents would clear DECIMAL(38,0)
    (the chow_break unit-coarsening doctrine).  ρ² divides STAGED —
    (A² div B)·1e6 div C — because Spark's `div` returns BIGINT no
    matter how wide its operands: any single division whose QUOTIENT
    tops 2^63 (A²·1e6 div B·C would be ~10²⁵/10³¹·10⁶) wraps
    silently, a measured sibling of the round-6 STRING%INT class.
    Each staged quotient here stays far under 2^63.  One
    customer-level aggregation (map-side combinable), then 1-row
    moment algebra.""",
)


# ---------------------------------------------------------------------------
# srm_check
# ---------------------------------------------------------------------------

_SRM_SEED = 29


def _srm_sql(dialect: Dialect) -> str:
    h = (_spark_hash64 if dialect.spark else _duck_hash64)(
        "CAST(o_orderkey AS VARCHAR)" if not dialect.spark
        else "CAST(o_orderkey AS STRING)",
        seed=_SRM_SEED,
    )
    return f"""
    WITH assign AS (
      SELECT CAST({h} % 2 AS INT) AS grp FROM orders
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n, n_a, n_b,
      CAST((CAST(2 * n_a - n AS {dialect.big}) * (2 * n_a - n) * 1000000)
           {dialect.div} n AS BIGINT) AS chi2_ppm,
      ((CAST(2 * n_a - n AS {dialect.big}) * (2 * n_a - n) * 1000000) {dialect.div} n
       > 10827566) AS srm_flag
    FROM counts
    """


sql_query(
    "srm_check", _srm_sql, "orders",
    doc="""Sample-ratio-mismatch guard for a deterministic 50/50 hash
    assignment of orders: χ² against the designed split collapses to
    A²/n with A = 2·n_a − n (both cells' deviations are ±A/2), flagged
    at the industry-standard α=0.001 (χ²₁ literal 10.827566 ppm) —
    at experiment scale a ratio mismatch is a bug in the assignment
    or logging path, never noise, and a biased split silently
    invalidates every downstream readout.  The same portable-hash
    assignment device as dataset_split/kfold, so any engine audits
    the identical split.

    One map-side-combinable count pass; A² rides DECIMAL(38,0)/
    HUGEINT so the guard itself survives data-lake row counts.""",
)


# ---------------------------------------------------------------------------
# winsorized_mean_revenue
# ---------------------------------------------------------------------------


def _winsor_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
      SELECT seg, k, v,
        row_number() OVER (PARTITION BY seg ORDER BY v, k) AS rn,
        count(*) OVER (PARTITION BY seg) AS n
      FROM o
    ),
    cuts AS (
      SELECT seg,
        max(CASE WHEN rn = (5 * n + 99) {dialect.div} 100 THEN v END) AS lo,
        max(CASE WHEN rn = (95 * n) {dialect.div} 100 + 1 THEN v END) AS hi,
        max(n) AS n
      FROM ranked GROUP BY seg
    )
    SELECT r.seg AS mktsegment, CAST(c.n AS BIGINT) AS n_orders,
      c.lo AS lo_cents, c.hi AS hi_cents,
      CAST((sum(CASE WHEN r.v < c.lo THEN c.lo
                     WHEN r.v > c.hi THEN c.hi ELSE r.v END) * 10000)
           {dialect.div} c.n AS BIGINT) AS winsorized_mean_microdollars,
      CAST((sum(r.v) * 10000) {dialect.div} c.n AS BIGINT)
        AS raw_mean_microdollars
    FROM ranked r JOIN cuts c ON c.seg = r.seg
    GROUP BY r.seg, c.n, c.lo, c.hi
    """


@query(
    "winsorized_mean_revenue",
    oracle=_winsor_sql(DUCK),
)
def q_winsorized_mean_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized per-segment order-value mean: values below the p5
    cutoff clamp up to it, above the p95 cutoff clamp down — the
    robust experiment metric that stops one whale order from owning a
    segment's delta (surfaced next to the raw mean so the clamping's
    effect is the visible quantity).  Cutoffs are RANK-defined — the
    ((5n+99) div 100)-th and ((95n) div 100 + 1)-th values under the
    total (value, key) order per segment — because engines'
    interpolating percentiles disagree at bin boundaries while a rank
    under a total order cannot.  Both points deliberately contrast
    with catalog_r3c.winsorized_mean (interpolated quantile_cont
    cutoffs, per-nation window): rank cutoffs are portable at exact
    equality, and the ranking here is distributed.

    Scale shape: per-segment rank = range-partitioned GLOBAL rank over
    (seg, v, k) minus the broadcast count of rows in earlier segments
    — the ``global_rank`` operator's one range exchange, never a
    ``PARTITION BY segment`` window (5 segments would mean 5
    single-thread tasks each scanning n/5 rows at cluster scale).
    The oracle keeps the textbook per-segment window; ranks are
    identical because (seg, v, k) is a total order and segments are
    contiguous under it."""
    from pyspark.sql import Window

    from .operators.order import global_rank

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    rows = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    ranked = global_rank(rows, ["seg", "v", "k"], out_col="__g")
    seg_n = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, -1)
    offsets = F.broadcast(
        seg_n.withColumn(
            "__off", F.coalesce(F.sum("n").over(w), F.lit(0))
        )
    )
    rn = (
        ranked.join(offsets, "seg")
        .withColumn("rn", (F.col("__g") - F.col("__off")).cast("bigint"))
    )
    cuts = (
        rn.filter(
            (F.col("rn") == F.expr("(5 * n + 99) div 100"))
            | (F.col("rn") == F.expr("(95 * n) div 100 + 1"))
        )
        .groupBy("seg")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(5 * n + 99) div 100"),
                    F.col("v"),
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(95 * n) div 100 + 1"),
                    F.col("v"),
                )
            ).alias("hi"),
            F.max("n").alias("n"),
        )
    )
    clamped = rows.join(F.broadcast(cuts), "seg").select(
        "seg",
        "n",
        "lo",
        "hi",
        F.when(F.col("v") < F.col("lo"), F.col("lo"))
        .when(F.col("v") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("v"))
        .alias("wv"),
        "v",
    )
    return clamped.groupBy("seg", "n", "lo", "hi").agg(
        F.expr("CAST((sum(wv) * 10000) div max(n) AS BIGINT)").alias(
            "winsorized_mean_microdollars"
        ),
        F.expr("CAST((sum(v) * 10000) div max(n) AS BIGINT)").alias(
            "raw_mean_microdollars"
        ),
    ).select(
        F.col("seg").alias("mktsegment"),
        F.col("n").alias("n_orders"),
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        "winsorized_mean_microdollars",
        "raw_mean_microdollars",
    )
