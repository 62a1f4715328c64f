"""Round-5n catalog tier: survival hazard, sequential experiment
monitoring, and blocking-strategy evaluation —

* ``nelson_aalen_hazard`` — the Nelson-Aalen cumulative-hazard
  estimator over the same censored subjects as ``kaplan_meier`` —
  and unlike KM's log-domain product, NA is a SUM of exact rationals,
  so every output digit is integer arithmetic (⌊1e6·d/n⌋ per term).
* ``interim_analysis_audit`` — Haybittle-Peto group-sequential
  monitoring: the A/B z-statistic recomputed at yearly interim looks
  on CUMULATIVE counts against the published boundaries (|z| ≥ 3 at
  interims, 1.96 at the final look) — the guardrail that lets an
  experiment stop early without inflating false positives.
* ``blocking_recall_audit`` — candidate-generation evaluation: the
  sorted-neighborhood pairs measured against the nation-blocked
  levenshtein truth (recall in ppm, plus the candidates ONLY SNM
  finds — cross-nation near-duplicates key-blocking can never see).

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# nelson_aalen_hazard
# ---------------------------------------------------------------------------


@query(
    "nelson_aalen_hazard",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS fs FROM lineitem
      GROUP BY l_orderkey
    ),
    cutoff AS (SELECT max(o_orderdate) AS cut FROM orders),
    subj AS (
      SELECT datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(f.fs AS DATE)) AS t,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(c.cut AS DATE)) AS c
      FROM orders o
      JOIN first_ship f ON f.l_orderkey = o.o_orderkey
      CROSS JOIN cutoff c
    ),
    by_t AS (
      SELECT least(t, c) AS obs_t,
             CAST(count(*) AS BIGINT) AS n_sub,
             CAST(sum(CASE WHEN t <= c THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM subj GROUP BY least(t, c)
    ),
    risk AS (
      SELECT obs_t, d,
             CAST(sum(n_sub) OVER (ORDER BY obs_t DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM by_t
    ),
    terms AS (
      SELECT obs_t, n_risk, d,
             CAST((d * 1000000) // n_risk AS BIGINT) AS term_e6
      FROM risk WHERE d > 0
    )
    SELECT CAST(obs_t AS BIGINT) AS t_days, n_risk, d AS n_events,
           CAST(sum(term_e6) OVER (ORDER BY obs_t
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hazard_e6
    FROM terms
    """,
)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the
    order→first-shipment delay with the same honest right-censoring as
    ``kaplan_meier`` (subjects censored at their window length) — the
    estimator of choice when the HAZARD (instantaneous event rate)
    matters rather than survival itself, and the exactness win: unlike
    KM's log-domain product, NA is a plain SUM, so each term is the
    exact integer ⌊1e6·d/n⌋ and the cumulative is integer addition —
    no ln anywhere, zero float surface (the survival tier's only fully
    integer estimator).

    The two estimators cross-validate: −log(KM) → NA as increments
    shrink; tests assert the exact-domain relation
    cum_hazard ≥ −log_surv at every t (Jensen direction).

    Plan: identical to kaplan_meier — one orderkey join, curve math on
    the hundreds-of-rows distinct-delay frame (sanctioned ordered
    windows)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("fs")
    )
    cutoff = o.agg(F.max("o_orderdate").alias("cut"))
    subj = (
        o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"])
        .crossJoin(F.broadcast(cutoff))
        .select(
            F.datediff(
                F.col("fs").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("t"),
            F.datediff(
                F.col("cut").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("c"),
        )
    )
    by_t = (
        subj.select(
            F.least("t", "c").alias("obs_t"),
            F.when(F.col("t") <= F.col("c"), 1).otherwise(0).alias("ev"),
        )
        .groupBy("obs_t")
        .agg(F.count(F.lit(1)).alias("n_sub"), F.sum("ev").alias("d"))
    )
    w_desc = Window.orderBy(F.col("obs_t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "obs_t", "d", F.sum("n_sub").over(w_desc).alias("n_risk")
    )
    terms = risk.filter(F.col("d") > 0).select(
        "obs_t",
        "n_risk",
        "d",
        F.expr("(d * 1000000) div n_risk").cast("bigint").alias("term_e6"),
    )
    w_asc = Window.orderBy("obs_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        F.col("obs_t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.sum("term_e6").over(w_asc).cast("bigint").alias("cum_hazard_e6"),
    )


# ---------------------------------------------------------------------------
# interim_analysis_audit
# ---------------------------------------------------------------------------

_HP_INTERIM_E6 = 3_000_000  # Haybittle-Peto interim boundary |z| >= 3
_HP_FINAL_E6 = 1_959_964  # final-look boundary floor(1e6 * 1.959964)


@query(
    "interim_analysis_audit",
    oracle=f"""
    WITH per_order AS (
      SELECT year(CAST(o.o_orderdate AS DATE)) AS yr,
             o.o_custkey % 2 AS arm,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS conv
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_custkey
    ),
    yearly AS (
      SELECT yr,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ya,
             CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS yca,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS yb,
             CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS ycb
      FROM per_order GROUP BY yr
    ),
    looks AS (
      SELECT yr AS look_year,
             CAST(sum(ya) OVER w AS BIGINT) AS n_a,
             CAST(sum(yca) OVER w AS BIGINT) AS c_a,
             CAST(sum(yb) OVER w AS BIGINT) AS n_b,
             CAST(sum(ycb) OVER w AS BIGINT) AS c_b,
             CAST(max(yr) OVER () AS BIGINT) AS final_year
      FROM yearly
      WINDOW w AS (ORDER BY yr ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT look_year, n_a, c_a, n_b, c_b,
             CAST(floor(abs(
               (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / sqrt(
                   (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(c_a + c_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))
                 )
             ) * 1e6) AS BIGINT) AS z_abs_e6,
             CAST(CASE WHEN look_year = final_year
                  THEN {_HP_FINAL_E6} ELSE {_HP_INTERIM_E6} END AS BIGINT)
               AS boundary_e6
      FROM looks
      WHERE n_a > 0 AND n_b > 0 AND c_a + c_b > 0
        AND c_a + c_b < n_a + n_b
    )
    SELECT look_year, n_a, c_a, n_b, c_b, z_abs_e6, boundary_e6,
           CAST(CASE WHEN z_abs_e6 >= boundary_e6 THEN 1 ELSE 0 END
                AS INT) AS crossed,
           CAST(min(CASE WHEN z_abs_e6 >= boundary_e6 THEN look_year
                         ELSE NULL END) OVER () AS BIGINT)
             AS first_crossing_year
    FROM scored
    """,
)
def q_interim_analysis_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAYBITTLE-PETO group-sequential monitoring: the two-proportion
    A/B z-statistic (arms by custkey parity, conversion = any returned
    line) recomputed at YEARLY interim looks on cumulative counts, each
    compared to the published boundary — |z| ≥ 3 at every interim
    (crossing that early is overwhelming), 1.96 only at the final look
    — the classical rule that preserves the overall α while allowing
    early stopping, with no alpha-spending function to integrate
    (which is why its boundaries are LITERALS and the whole audit
    stays in the established exact-z + integer-compare domain —
    the fdr_bh_audit discipline at the sequential margin).

    Output per look: cumulative counts, z in exact micro-units, the
    boundary, the crossing flag, and the first crossing year riding
    along every row (the "when could we have stopped?" answer).

    Plan: one order-level agg, one ≤7-row yearly agg; every window
    runs on the bounded look frame."""
    per_order = (
        read_table(spark, sf_dir, "lineitem")
        .join(
            read_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_custkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("yr"),
            (F.col("o_custkey") % 2).alias("arm"),
            "conv",
        )
    )
    yearly = per_order.groupBy("yr").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ya"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "yca"
        ),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("yb"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "ycb"
        ),
    )
    w_cum = Window.orderBy("yr").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()  # ≤7-look frame: sanctioned
    looks = yearly.select(
        F.col("yr").cast("bigint").alias("look_year"),
        F.sum("ya").over(w_cum).cast("bigint").alias("n_a"),
        F.sum("yca").over(w_cum).cast("bigint").alias("c_a"),
        F.sum("yb").over(w_cum).cast("bigint").alias("n_b"),
        F.sum("ycb").over(w_cum).cast("bigint").alias("c_b"),
        F.max("yr").over(w_all).cast("bigint").alias("final_year"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z_abs_e6 = F.floor(
        F.abs(
            (cb / nb - ca / na)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / na + F.lit(1.0) / nb)
            )
        )
        * F.lit(1e6)
    ).cast("bigint")
    scored = looks.filter(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b"))
    ).select(
        "look_year",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        z_abs_e6.alias("z_abs_e6"),
        F.when(
            F.col("look_year") == F.col("final_year"),
            F.lit(_HP_FINAL_E6),
        )
        .otherwise(F.lit(_HP_INTERIM_E6))
        .cast("bigint")
        .alias("boundary_e6"),
    )
    return scored.select(
        "*",
        F.when(F.col("z_abs_e6") >= F.col("boundary_e6"), 1)
        .otherwise(0)
        .cast("int")
        .alias("crossed"),
        F.min(
            F.when(
                F.col("z_abs_e6") >= F.col("boundary_e6"),
                F.col("look_year"),
            )
        )
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("first_crossing_year"),
    )


# ---------------------------------------------------------------------------
# blocking_recall_audit
# ---------------------------------------------------------------------------

_BRA_W = 5  # SNM window (matches sorted_neighborhood_pairs)
_BRA_LEV = 2


@query(
    "blocking_recall_audit",
    oracle=f"""
    WITH truth AS (
      SELECT l.c_custkey AS a, r.c_custkey AS b
      FROM customer l JOIN customer r
        ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= {_BRA_LEV}
    ),
    ranked AS (
      SELECT c_custkey, c_name,
             row_number() OVER (ORDER BY c_name, c_custkey) AS r
      FROM customer
    ),
    snm AS (
      SELECT least(x.c_custkey, y.c_custkey) AS a,
             greatest(x.c_custkey, y.c_custkey) AS b
      FROM ranked x JOIN ranked y
        ON y.r - x.r BETWEEN 1 AND {_BRA_W}
      WHERE levenshtein(x.c_name, y.c_name) <= {_BRA_LEV}
    ),
    joined AS (
      SELECT coalesce(t.a, s.a) AS a,
             CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN s.a IS NOT NULL THEN 1 ELSE 0 END AS in_snm
      FROM truth t FULL OUTER JOIN snm s ON s.a = t.a AND s.b = t.b
    )
    SELECT CAST(sum(in_truth) AS BIGINT) AS n_truth,
           CAST(sum(in_snm) AS BIGINT) AS n_snm,
           CAST(sum(in_truth * in_snm) AS BIGINT) AS n_both,
           CAST(sum(in_truth * in_snm) * 1000000 // sum(in_truth)
                AS BIGINT) AS snm_recall_ppm,
           CAST(sum(in_snm * (1 - in_truth)) AS BIGINT)
             AS n_snm_only_cross_block
    FROM joined
    """,
)
def q_blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-STRATEGY evaluation: the sorted-neighborhood candidate
    pairs (window {w}, verified levenshtein ≤ {k}) measured against the
    nation-blocked levenshtein truth — recall in exact ppm, plus the
    count of verified near-duplicate pairs ONLY SNM finds, i.e.
    CROSS-NATION matches that key-equality blocking is structurally
    blind to.  This is the evaluation every ER pipeline needs before
    trusting a blocking key: recall says what the cheaper strategy
    loses; the snm-only column says what the "truth" itself misses
    (no blocking strategy is a free upper bound — the audit quantifies
    both directions).

    Both pair sets canonicalize to (min, max) key order before the
    full-outer overlap join, so direction conventions can't inflate
    either count.  All outputs integers.

    Plan: the truth arm is the staged nation-blocked fuzzy-pair stream
    (``plans/er.py``); the SNM arm is ``sorted_neighborhood_pairs``'s
    shape (global_rank + width-{w} banding); the overlap is one join
    on the canonical pair key, aggregated to a single row."""
    from .operators.order import global_rank
    from .plans.er import customer_fuzzy_pairs

    truth = customer_fuzzy_pairs(spark, sf_dir, k=_BRA_LEV).select(
        F.col("a"), F.col("b")
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ranked = global_rank(c, ["c_name", "c_custkey"], out_col="r")
    left = ranked.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
        F.col("r").alias("ra"),
        F.expr(f"(r - 1) div {_BRA_W}").alias("bucket"),
    )
    rb = F.expr(f"(r - 1) div {_BRA_W}")
    right = ranked.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
        F.col("r").alias("rbr"),
        F.explode(F.array(rb, rb - 1)).alias("bucket"),
    ).filter(F.col("bucket") >= 0)
    snm = (
        left.join(right, "bucket")
        .filter(
            (F.col("rbr") - F.col("ra") >= 1)
            & (F.col("rbr") - F.col("ra") <= _BRA_W)
        )
        .filter(F.levenshtein("na", "nb") <= _BRA_LEV)
        .select(
            F.least("ka", "kb").alias("a"),
            F.greatest("ka", "kb").alias("b"),
        )
    )
    t = truth.select("a", "b", F.lit(1).alias("in_truth"))
    s = snm.select(
        F.col("a").alias("sa"), F.col("b").alias("sb"), F.lit(1).alias("in_snm")
    )
    joined = t.join(
        s, (t["a"] == s["sa"]) & (t["b"] == s["sb"]), "full_outer"
    ).select(
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("in_snm"), F.lit(0)).alias("in_snm"),
    )
    return joined.agg(
        F.sum("in_truth").cast("bigint").alias("n_truth"),
        F.sum("in_snm").cast("bigint").alias("n_snm"),
        F.sum(F.col("in_truth") * F.col("in_snm"))
        .cast("bigint")
        .alias("n_both"),
        F.expr(
            "sum(in_truth * in_snm) * 1000000 div sum(in_truth)"
        )
        .cast("bigint")
        .alias("snm_recall_ppm"),
        F.sum(F.col("in_snm") * (1 - F.col("in_truth")))
        .cast("bigint")
        .alias("n_snm_only_cross_block"),
    )


q_blocking_recall_audit.__doc__ = (q_blocking_recall_audit.__doc__ or "").format(
    w=_BRA_W, k=_BRA_LEV
)
