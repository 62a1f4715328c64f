"""Round-6 catalog tier (a): streaming-twin completion + rank/causal
evaluation —

* ``click_attribution_outer`` — batch twin of the stream-stream
  LEFT-OUTER interval join (streaming/events.py:
  ``interval_join_attribution_outer``): every click, with its
  first-hour purchase or an explicit NULL.  Registered so the outer
  twin finally gets a driver CORRECTNESS row (VERDICT r5 item 6).
* ``auc_mann_whitney`` — exact ROC-AUC of order value as a predictor
  of "order contains a returned line", via the Mann-Whitney U rank
  statistic with tie correction — all integers, distributed prefix
  sum (``operators/order.py:global_running_sum``), no global window.
* ``l_diversity_audit`` — distinct-l-diversity of a sensitive
  attribute within quasi-identifier groups: the privacy-triad member
  (k-anonymity / l-diversity / t-closeness) round 5 left out.
* ``iv_wald_estimate`` — instrumental-variable Wald estimator over a
  PLANTED-compliance null (hash-assigned encouragement, hash-assigned
  compliance, no real effect): the estimator must report a first
  stage near the planted 40pp and an effect near zero — the honest
  negative-calibration pattern of rdd_estimate/dedup_eval.
* ``permutation_test_revenue`` — approximate randomization test for
  the urgent-vs-other order-value gap: K deterministic md5-relabeled
  replicas in ONE pass (the Poisson-bootstrap discipline of
  bootstrap_ci_revenue), replica-vs-observed comparison done by
  CROSS-MULTIPLICATION of exact rationals so no division ever runs.

Parity devices (catalog.py docstring): cents trick; md5-derived
uniforms (``conv(substring(md5(..),1,15),16,10)``); exact
DECIMAL(38,0)/HUGEINT sufficient statistics with ONE final integer
division; Spark ``div`` and DuckDB ``//`` both truncate toward zero,
measured including negatives (catalog_r5f._CONF_SHIFT note).

Reference parity: beyond-reference analytics tier — the reference
(723-line petl/SQL importer) has no evaluation/privacy/causal surface;
citations on each query note the nearest reference behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# click_attribution_outer
# ---------------------------------------------------------------------------

@query(
    "click_attribution_outer",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           date_diff('second', c.ts, p.ts) AS lag_seconds
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``interval_join_attribution_outer``
    (streaming/events.py:200): LEFT-OUTER same-user
    purchase-within-1h-of-click — matched clicks carry the purchase and
    its lag, unconverted clicks carry explicit NULLs.  In batch the
    negative answer is free; in streaming it is the state-expiry
    emission whose watermark contract the streaming twin documents and
    tests/test_streaming.py measures.  Same plan posture as the proven
    inner twin (catalog_more.py ``click_attribution``): the equality
    conjunct (user_id) keys the shuffle, the range conjunct filters
    inside the join — never a cross join."""
    e = read_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "left",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_seconds"),
    )


# ---------------------------------------------------------------------------
# auc_mann_whitney
# ---------------------------------------------------------------------------

@query(
    "auc_mann_whitney",
    oracle="""
    WITH labeled AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS score,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    by_score AS (
      SELECT score, CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0
      FROM labeled GROUP BY score
    ),
    scanned AS (
      SELECT score, n1, n0,
             sum(n0) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - n0
               AS below0
      FROM by_score
    )
    SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
           CAST(sum(n0) AS BIGINT) AS n_neg,
           CAST(sum(n1 * (2 * below0 + n0)) * 1000000
                // (2 * sum(n1) * sum(n0)) AS BIGINT) AS auc_ppm
    FROM scanned
    """,
)
def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC via the Mann-Whitney U statistic: does order value
    predict "order contains a returned line"?

    AUC = P(score⁺ > score⁻) + ½P(tie), and with per-distinct-score
    counts the doubled U is Σ_s n1(s)·(2·N0(<s) + n0(s)) — every term
    an integer, the tie correction exact.  N0(<s) is a GLOBAL prefix
    sum over the distinct-score frame, which is unbounded at scale, so
    it runs through ``operators/order.py:global_running_sum`` (range
    repartition + per-partition scan + broadcast partition totals) —
    never a single-task ``Window.orderBy``.  One final integer
    division lands auc_ppm; DECIMAL(38,0)/HUGEINT keeps 2U·1e6 exact
    past sf10.

    The rank-statistics twin of spearman_rho/kruskal_wallis
    (catalog_r5q) for the binary-label case; AUC≈0.5 here is the
    honest expectation (TPC-H return flags are value-independent)."""
    from .operators.order import global_running_sum

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    labeled = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("y")
        )
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("score"),
            "y",
        )
    )
    by_score = labeled.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("n1"),
        F.sum(1 - F.col("y")).cast("bigint").alias("n0"),
    )
    scanned = global_running_sum(
        by_score, ["score"], "n0", "__cum0"
    ).withColumn("below0", F.col("__cum0") - F.col("n0"))
    return scanned.agg(
        F.sum("n1").cast("bigint").alias("n_pos"),
        F.sum("n0").cast("bigint").alias("n_neg"),
        F.expr(
            f"CAST(sum(CAST(n1 * (2 * below0 + n0) AS {_DEC})) * 1000000"
            f" div (2 * CAST(sum(n1) AS {_DEC}) * CAST(sum(n0) AS {_DEC}))"
            " AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# l_diversity_audit
# ---------------------------------------------------------------------------

@query(
    "l_diversity_audit",
    oracle="""
    WITH joined AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
             o.o_orderpriority AS sensitive
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    per_group AS (
      SELECT nation, segment,
             CAST(count(DISTINCT sensitive) AS BIGINT) AS l,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM joined GROUP BY nation, segment
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l < 3 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM per_group GROUP BY l ORDER BY l
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit: within each quasi-identifier group
    (nation × market segment), how many DISTINCT values of the
    sensitive attribute (order priority) appear?  A group with l=1 is
    a homogeneity attack — k-anonymity (``k_anonymity_audit``,
    catalog_r5e) can hold while every member shares the same sensitive
    value; l-diversity is the classic fix, and ``t_closeness_audit``
    (catalog_r5k) tightens it further.  This completes the privacy
    triad.  Output: groups and rows per achieved l, with the l<3
    at-risk row mass called out.  One join + two hash aggregates —
    distinct-count shuffles on the QI key, never a window."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_group = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.countDistinct("o_orderpriority").cast("bigint").alias("l"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    return (
        per_group.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("l") < 3, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_at_risk"),
        )
        .orderBy("l")
    )


# ---------------------------------------------------------------------------
# iv_wald_estimate
# ---------------------------------------------------------------------------

#: planted compliance: P(x=1 | z=1) = 0.70, P(x=1 | z=0) = 0.30 —
#: first stage 40pp by construction, outcome untouched by x (true
#: effect 0), so the estimator's honest answer is ≈0.
_IV_P1_PPM, _IV_P0_PPM = 700_000, 300_000

# CAST before the modulo: conv() returns a STRING, and string
# arithmetic coerces to DOUBLE, quantizing the 60-bit hash to
# multiples of 128 (measured; the round-6 parity-audit fix also
# applied to bootstrap_ci_revenue).
_IV_Z = (
    "CAST(conv(substring(md5(concat('ivz|', cast(c_custkey as string))),"
    " 1, 15), 16, 10) AS BIGINT) % 2"
)
_IV_U = (
    "CAST(conv(substring(md5(concat('ivx|', cast(c_custkey as string))),"
    " 1, 15), 16, 10) AS BIGINT) % 1000000"
)
_IV_Z_DUCK = (
    "CAST('0x' || substring(md5('ivz|' || CAST(c_custkey AS VARCHAR)),"
    " 1, 15) AS BIGINT) % 2"
)
_IV_U_DUCK = (
    "CAST('0x' || substring(md5('ivx|' || CAST(c_custkey AS VARCHAR)),"
    " 1, 15) AS BIGINT) % 1000000"
)


@query(
    "iv_wald_estimate",
    oracle=f"""
    WITH assigned AS (
      SELECT c.c_custkey,
             {_IV_Z_DUCK} AS z,
             CASE WHEN {_IV_U_DUCK} <
                  CASE WHEN {_IV_Z_DUCK} = 1
                       THEN {_IV_P1_PPM} ELSE {_IV_P0_PPM} END
                  THEN 1 ELSE 0 END AS x,
             CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                           0) AS BIGINT) AS y_c
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    arms AS (
      SELECT z, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y_c) AS BIGINT) AS sy
      FROM assigned GROUP BY z
    ),
    wide AS (
      SELECT max(CASE WHEN z = 1 THEN n END) AS n1,
             max(CASE WHEN z = 0 THEN n END) AS n0,
             max(CASE WHEN z = 1 THEN sx END) AS sx1,
             max(CASE WHEN z = 0 THEN sx END) AS sx0,
             max(CASE WHEN z = 1 THEN sy END) AS sy1,
             max(CASE WHEN z = 0 THEN sy END) AS sy0
      FROM arms
    )
    SELECT CAST(n1 + n0 AS BIGINT) AS n,
           CAST((sx1 * n0 - sx0 * n1) * 1000000 // (n1 * n0) AS BIGINT)
             AS first_stage_ppm,
           CAST((sy1 * n0 - sy0 * n1) * 1000000 // (n1 * n0) AS BIGINT)
             AS itt_uppm_c,
           CAST((sy1 * n0 - sy0 * n1) * 1000000 // (sx1 * n0 - sx0 * n1)
                AS BIGINT) AS wald_effect_mc
    FROM wide
    """,
)
def q_iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimator on a PLANTED-COMPLIANCE
    NULL: encouragement z and compliance x are md5-assigned per
    customer (P(x|z=1)=0.70, P(x|z=0)=0.30 — a 40pp first stage by
    construction) and the outcome (lifetime order cents) never sees x,
    so the true LATE is zero.  Wald = ITT / first-stage:
    (ȳ₁−ȳ₀)/(x̄₁−x̄₀), computed as ONE exact rational per numerator —
    (sy1·n0 − sy0·n1) over n1·n0 — so no intermediate mean is ever
    floored; the single final division truncates toward zero
    identically in Spark ``div`` and DuckDB ``//`` (measured on
    negatives, catalog_r5f._CONF_SHIFT note).  Calibration contract:
    first_stage_ppm ≈ the planted 400 000 up to binomial noise (the
    n=150 customers of sf0.001 measure 212 606 — ±2.5σ is what tiny
    samples do; sf0.01's n=1500 lands ≈400k) and wald = itt/first-stage
    (micro-cents per complier) is pure noise around the true 0 — the
    honest-negative pattern of rdd_estimate.
    Completes the causal tier: DiD (parallel trends), IPW, RDD
    (local randomization), CUPED, post-stratification, and now IV
    (unmeasured confounding with an exclusion restriction).

    One left join + two hash aggregates; the arms pivot is 2 rows."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("y_c")
        )
        .select(
            F.expr(f"CAST({_IV_Z} AS BIGINT)").alias("z"),
            F.expr(
                f"CASE WHEN {_IV_U} < CASE WHEN {_IV_Z} = 1"
                f" THEN {_IV_P1_PPM} ELSE {_IV_P0_PPM} END"
                " THEN 1 ELSE 0 END"
            ).alias("x"),
            "y_c",
        )
    )
    arms = per_cust.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y_c").cast("bigint").alias("sy"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("z") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("z") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("z") == 1, F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("z") == 0, F.col("sx"))).alias("sx0"),
        F.max(F.when(F.col("z") == 1, F.col("sy"))).alias("sy1"),
        F.max(F.when(F.col("z") == 0, F.col("sy"))).alias("sy0"),
    )
    d = _DEC
    return wide.select(
        F.expr("CAST(n1 + n0 AS BIGINT)").alias("n"),
        F.expr(
            f"CAST((CAST(sx1 AS {d}) * n0 - CAST(sx0 AS {d}) * n1)"
            f" * 1000000 div (CAST(n1 AS {d}) * n0) AS BIGINT)"
        ).alias("first_stage_ppm"),
        F.expr(
            f"CAST((CAST(sy1 AS {d}) * n0 - CAST(sy0 AS {d}) * n1)"
            f" * 1000000 div (CAST(n1 AS {d}) * n0) AS BIGINT)"
        ).alias("itt_uppm_c"),
        F.expr(
            f"CAST((CAST(sy1 AS {d}) * n0 - CAST(sy0 AS {d}) * n1)"
            f" * 1000000 div (CAST(sx1 AS {d}) * n0 - CAST(sx0 AS {d}) * n1)"
            " AS BIGINT)"
        ).alias("wald_effect_mc"),
    )


# ---------------------------------------------------------------------------
# permutation_test_revenue
# ---------------------------------------------------------------------------

_PERM_K = 64  # deterministic relabeled replicas


@query(
    "permutation_test_revenue",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x_c,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS g
      FROM orders
    ),
    obs AS (
      SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN g = 1 THEN x_c ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN g = 0 THEN x_c ELSE 0 END) AS BIGINT) AS s0
      FROM base
    ),
    reps AS (SELECT unnest(generate_series(1, {_PERM_K})) AS k),
    relabeled AS (
      SELECT r.k,
             CASE WHEN CAST('0x' || substring(
                      md5('perm|' || CAST(r.k AS VARCHAR) || '|'
                          || CAST(b.o_orderkey AS VARCHAR)), 1, 15)
                      AS BIGINT) % 1000000
                  < (SELECT n1 * 1000000 // (n1 + n0) FROM obs)
                  THEN 1 ELSE 0 END AS gk,
             b.x_c
      FROM base b CROSS JOIN reps r
    ),
    rep_stats AS (
      SELECT k, CAST(sum(gk) AS BIGINT) AS n1k,
             CAST(count(*) - sum(gk) AS BIGINT) AS n0k,
             CAST(sum(CASE WHEN gk = 1 THEN x_c ELSE 0 END) AS BIGINT) AS s1k,
             CAST(sum(CASE WHEN gk = 0 THEN x_c ELSE 0 END) AS BIGINT) AS s0k
      FROM relabeled GROUP BY k
      HAVING sum(gk) > 0 AND count(*) > sum(gk)
    ),
    verdicts AS (
      SELECT r.k,
             CASE WHEN abs(CAST(r.s1k AS HUGEINT) * r.n0k
                           - CAST(r.s0k AS HUGEINT) * r.n1k)
                       * (CAST(o.n1 AS HUGEINT) * o.n0)
                  >= abs(CAST(o.s1 AS HUGEINT) * o.n0
                         - CAST(o.s0 AS HUGEINT) * o.n1)
                     * (CAST(r.n1k AS HUGEINT) * r.n0k)
                  THEN 1 ELSE 0 END AS extreme
      FROM rep_stats r CROSS JOIN obs o
    )
    SELECT CAST((SELECT (CAST(s1 AS HUGEINT) * n0 - CAST(s0 AS HUGEINT) * n1)
                        // (CAST(n1 AS HUGEINT) * n0) FROM obs)
                AS BIGINT) AS obs_diff_c,
           CAST(count(*) AS BIGINT) AS n_reps,
           CAST(sum(extreme) AS BIGINT) AS n_extreme,
           CAST((sum(extreme) + 1) * 1000000 // (count(*) + 1) AS BIGINT)
             AS p_value_ppm
    FROM verdicts
    """,
)
def q_permutation_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate randomization test: is the urgent/high-priority vs
    other order-value gap larger than label-shuffling chance?

    K={k} deterministic replicas relabel every order via an md5
    uniform at the observed group rate (the scalable stand-in for an
    exact permutation — resampling the LABEL MARGINAL instead of
    permuting, the same one-pass trade bootstrap_ci_revenue makes for
    resampling), all in ONE fan-out + one (k)-keyed aggregate.
    Replica-vs-observed extremeness compares |s1k·n0k − s0k·n1k| ·
    (n1·n0) against |s1·n0 − s0·n1| · (n1k·n0k) — exact cross-
    multiplied rationals in DECIMAL(38,0)/HUGEINT, so NO division
    happens before the final p-value, and the add-one p estimator
    (n_extreme+1)/(K+1) never reports zero.  Degenerate replicas
    (single-group, impossible at these rates but guarded) are dropped
    identically by both engines.  TPC-H priorities are
    value-independent, so p is ONE DRAW FROM THE NULL — measured
    0.031 at sf0.001: a deterministic reminder that a single 5%-level
    test fires 1-in-20 on pure noise (``fdr_bh_audit`` is the
    multiple-testing correction tier for exactly this).

    At 100 TB: the ×{k} fan-out collapses map-side before the
    exchange; replica stats are K rows.  Reference parity: the
    reference reports raw group means only (QA rollups); this is the
    significance gate those means need."""
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x_c"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("g"),
    )
    obs = base.agg(
        F.sum("g").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("g") == 1, F.col("x_c")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("x_c")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
    )
    u = (
        "CAST(conv(substring(md5(concat('perm|', cast(k as string), '|',"
        " cast(o_orderkey as string))), 1, 15), 16, 10) AS BIGINT)"
        " % 1000000"
    )
    # WIDTH PIN (measured): one small parquet file = one input split,
    # so the ×K explode and its 9.6M md5 evaluations at sf0.1 ran on a
    # single core (16.1 s cold / 8.4 s warm); repartitioning the
    # 150k-row base BEFORE the fan-out spreads the CPU (→ ~1.5 s warm)
    # — the narrow-row stage-key pin of resample_interpolate (PERF.md).
    relabeled = (
        base.repartition(32, "o_orderkey")
        .select(
            "o_orderkey",
            "x_c",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_K))).alias("k"),
        )
        .crossJoin(F.broadcast(obs.select("n1", "n0")))
        .select(
            "k",
            "x_c",
            F.expr(
                f"CASE WHEN {u} < n1 * 1000000 div (n1 + n0)"
                " THEN 1 ELSE 0 END"
            ).alias("gk"),
        )
    )
    rep_stats = (
        relabeled.groupBy("k")
        .agg(
            F.sum("gk").cast("bigint").alias("n1k"),
            (F.count(F.lit(1)) - F.sum("gk")).cast("bigint").alias("n0k"),
            F.sum(F.when(F.col("gk") == 1, F.col("x_c")).otherwise(0))
            .cast("bigint")
            .alias("s1k"),
            F.sum(F.when(F.col("gk") == 0, F.col("x_c")).otherwise(0))
            .cast("bigint")
            .alias("s0k"),
        )
        .filter((F.col("n1k") > 0) & (F.col("n0k") > 0))
    )
    d = _DEC
    verdicts = rep_stats.crossJoin(F.broadcast(obs)).select(
        F.expr(
            f"CASE WHEN abs(CAST(s1k AS {d}) * n0k - CAST(s0k AS {d}) * n1k)"
            f" * (CAST(n1 AS {d}) * n0)"
            f" >= abs(CAST(s1 AS {d}) * n0 - CAST(s0 AS {d}) * n1)"
            f" * (CAST(n1k AS {d}) * n0k)"
            " THEN 1 ELSE 0 END"
        ).alias("extreme")
    )
    obs_diff = obs.select(
        F.expr(
            f"CAST((CAST(s1 AS {d}) * n0 - CAST(s0 AS {d}) * n1)"
            f" div (CAST(n1 AS {d}) * n0) AS BIGINT)"
        ).alias("obs_diff_c")
    )
    return (
        verdicts.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reps"),
            F.sum("extreme").cast("bigint").alias("n_extreme"),
            F.expr(
                "CAST((sum(extreme) + 1) * 1000000 div (count(*) + 1)"
                " AS BIGINT)"
            ).alias("p_value_ppm"),
        )
        .crossJoin(F.broadcast(obs_diff))
        .select("obs_diff_c", "n_reps", "n_extreme", "p_value_ppm")
    )


q_permutation_test_revenue.__doc__ = (
    q_permutation_test_revenue.__doc__ or ""
).format(k=_PERM_K)
