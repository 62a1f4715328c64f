"""Round-5p catalog tier: cooperative-game attribution and two more
observational estimators —

* ``shapley_attribution`` — EXACT Shapley-value marketing attribution
  over the 3 marketing channels (view/click/signup → purchase): with
  a fixed channel universe the 8 coalition values and the Shapley
  weights are closed-form LITERALS, so the whole computation is
  integer arithmetic and the efficiency axiom (Σφ = v(full)) is
  asserted in tests — the principled alternative to last-touch that
  ships with its own conservation law.
* ``rdd_estimate`` — regression-discontinuity effect at the
  account-balance cutoff (negative balance as "treatment"), local
  means at two bandwidths (the standard sensitivity pairing).
* ``poststratification_estimate`` — survey-statistics
  post-stratification: a deliberately segment-biased hash sample is
  reweighted to population segment shares, and the audit reports
  truth / naive / post-stratified means side by side — the estimator
  that fixes "our sample over-represents one segment" without
  resampling.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .catalog_r2 import _duck_hash64
from .functions.expressions import portable_hash64
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# shapley_attribution
# ---------------------------------------------------------------------------

#: channel → bit (the fixed 3-channel universe)
_SHAP_CHANNELS: list[tuple[str, int]] = [
    ("view", 1),
    ("click", 2),
    ("signup", 4),
]
#: Shapley coefficient ×6 for a coalition S NOT containing channel i:
#: 6 · |S|!(3−|S|−1)!/3!  →  |S|=0:2, |S|=1:1, |S|=2:2
_SHAP_W6 = {0: 2, 1: 1, 2: 2}
#: (channel, mask_without, mask_with, w6) — the full literal
#: marginal-contribution table (12 rows = 3 channels × 4 coalitions)
_SHAP_TERMS: list[tuple[str, int, int, int]] = [
    (ch, s, s | bit, _SHAP_W6[bin(s).count("1")])
    for ch, bit in _SHAP_CHANNELS
    for s in range(8)
    if not s & bit
]
_SHAP_TERMS_SQL = ", ".join(
    f"('{ch}', {s0}, {s1}, {w})" for ch, s0, s1, w in _SHAP_TERMS
)
_SHAP_SUBSETS_SQL = ", ".join(f"({s})" for s in range(8))


@query(
    "shapley_attribution",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
               + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
               AS BIGINT) AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    exact_sets AS (
      SELECT mask, CAST(sum(conv) AS BIGINT) AS conv_exact
      FROM per_user WHERE mask > 0 GROUP BY mask
    ),
    coalition AS (
      SELECT s.s AS coalition_mask,
             CAST(coalesce(sum(CASE WHEN (e.mask & s.s) = e.mask
                                    THEN e.conv_exact END), 0) AS BIGINT)
               AS v
      FROM (VALUES {_SHAP_SUBSETS_SQL}) AS s(s)
      LEFT JOIN exact_sets e ON (e.mask & s.s) = e.mask
      GROUP BY s.s
    ),
    phi AS (
      SELECT t.ch AS channel,
             CAST(sum(t.w6 * (v1.v - v0.v)) AS BIGINT) AS phi_x6
      FROM (VALUES {_SHAP_TERMS_SQL}) AS t(ch, s0, s1, w6)
      JOIN coalition v0 ON v0.coalition_mask = t.s0
      JOIN coalition v1 ON v1.coalition_mask = t.s1
      GROUP BY t.ch
    )
    SELECT channel, phi_x6,
           CAST(sum(phi_x6) OVER () AS BIGINT) AS total_x6,
           CAST(phi_x6 * 1000000 // sum(phi_x6) OVER () AS BIGINT)
             AS share_ppm
    FROM phi
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE attribution over the three marketing
    channels: per user, the SET of channels ever touched (a 3-bit
    mask) and whether they converted (any purchase); the coalition
    value v(S) = conversions from users whose entire touched set lies
    inside S (remove the other channels and those journeys survive —
    the standard simplified characteristic function of
    marketing-Shapley); φ(channel) = Σ_S w(S)·[v(S∪ch) − v(S)] with
    the 12 (channel, coalition, weight×6) terms embedded as LITERALS
    (3 channels ⇒ everything is closed form — no permutation
    sampling, no approximation).  Users who purchased with NO channel
    touch are excluded from v (nothing to attribute — documented).

    The efficiency axiom Σφ = v(all channels) holds exactly in ×6
    integer units and is asserted in tests — an attribution that
    CONSERVES conversions, which last-touch (``last_touch_
    attribution``) structurally cannot claim.

    Plan: one user-level aggregate builds (mask, conv); the 8-row
    coalition frame and 12-row term table broadcast; every downstream
    op is constant-size.  At 100 TB the cost is the one user
    aggregate."""
    e = read_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + F.max(F.when(F.col("event_type") == "click", 2).otherwise(0))
            + F.max(F.when(F.col("event_type") == "signup", 4).otherwise(0))
        )
        .cast("bigint")
        .alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    exact_sets = (
        per_user.filter(F.col("mask") > 0)
        .groupBy("mask")
        .agg(F.sum("conv").cast("bigint").alias("conv_exact"))
    )
    subsets = spark.createDataFrame(
        [(s,) for s in range(8)], "coalition_mask bigint"
    )
    coalition = (
        F.broadcast(subsets)
        .join(
            exact_sets,
            exact_sets["mask"].bitwiseAND(subsets["coalition_mask"])
            == exact_sets["mask"],
            "left",
        )
        .groupBy("coalition_mask")
        .agg(
            F.coalesce(F.sum("conv_exact"), F.lit(0))
            .cast("bigint")
            .alias("v")
        )
    )
    terms = spark.createDataFrame(
        _SHAP_TERMS, "channel string, s0 bigint, s1 bigint, w6 bigint"
    )
    v0 = coalition.select(
        F.col("coalition_mask").alias("s0"), F.col("v").alias("v0")
    )
    v1 = coalition.select(
        F.col("coalition_mask").alias("s1"), F.col("v").alias("v1")
    )
    phi = (
        F.broadcast(terms)
        .join(v0, "s0")
        .join(v1, "s1")
        .groupBy("channel")
        .agg(
            F.sum(F.col("w6") * (F.col("v1") - F.col("v0")))
            .cast("bigint")
            .alias("phi_x6")
        )
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()  # 3-row frame: sanctioned
    return phi.select(
        "channel",
        "phi_x6",
        F.sum("phi_x6").over(w_all).cast("bigint").alias("total_x6"),
        F.expr("phi_x6 * 1000000 div sum(phi_x6) OVER ()")
        .cast("bigint")
        .alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# rdd_estimate
# ---------------------------------------------------------------------------

#: bandwidths in acctbal CENTS around the 0 cutoff
_RDD_BANDWIDTHS = (50_000, 100_000)  # $500, $1000


def _rdd_sql(h: int) -> str:
    return f"""
      SELECT CAST({h} AS BIGINT) AS bandwidth_cents,
             CAST(sum(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_left,
             CAST(sum(CASE WHEN bal >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_right,
             CAST(sum(CASE WHEN bal < 0 THEN y ELSE 0 END) * 1000000
                  // sum(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS mean_left_ppm,
             CAST(sum(CASE WHEN bal >= 0 THEN y ELSE 0 END) * 1000000
                  // sum(CASE WHEN bal >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS mean_right_ppm,
             CAST(sum(CASE WHEN bal >= 0 THEN y ELSE 0 END) * 1000000
                  // sum(CASE WHEN bal >= 0 THEN 1 ELSE 0 END)
                  - sum(CASE WHEN bal < 0 THEN y ELSE 0 END) * 1000000
                  // sum(CASE WHEN bal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS effect_ppm
      FROM (
        SELECT CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
               coalesce(o.n, 0) AS y
        FROM customer c
        LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
                   FROM orders GROUP BY o_custkey) o
          ON o.o_custkey = c.c_custkey
      )
      WHERE bal >= -{h} AND bal < {h}
    """


@query(
    "rdd_estimate",
    oracle=" UNION ALL ".join(_rdd_sql(h) for h in _RDD_BANDWIDTHS),
)
def q_rdd_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION-DISCONTINUITY estimate at the zero-balance cutoff:
    customers just below vs just above c_acctbal = 0 are compared on
    order count — the observational design for "a rule assigns
    treatment at a threshold" (credit holds, eligibility cutoffs),
    identified by continuity of potential outcomes at the cutoff.
    Local MEANS at two bandwidths ($500 and $1000 of balance) give the
    estimate and its standard sensitivity check in one result: a
    bandwidth-stable effect is the credible one (local-linear fits are
    the refinement; the mean comparison is the design's skeleton and
    stays exactly integer).

    The fourth observational design in the catalog — alongside DiD
    (calendar cutoff), IPW (propensity reweighting), and CUPED
    (variance reduction) — completing the quasi-experimental toolkit.

    Plan: one per-customer order count (map-side combined), a cents
    bucket filter that PUSHES to the scan, and a 2-row conditional
    aggregate per bandwidth."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    base = c.join(counts, c["c_custkey"] == counts["o_custkey"], "left").select(
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("y"),
    )
    rows = []
    for h in _RDD_BANDWIDTHS:
        win = base.filter((F.col("bal") >= -h) & (F.col("bal") < h))
        left_n = F.sum(F.when(F.col("bal") < 0, 1).otherwise(0))
        right_n = F.sum(F.when(F.col("bal") >= 0, 1).otherwise(0))
        left_sum = F.sum(F.when(F.col("bal") < 0, F.col("y")).otherwise(0))
        right_sum = F.sum(F.when(F.col("bal") >= 0, F.col("y")).otherwise(0))
        rows.append(
            win.agg(
                left_n.cast("bigint").alias("__nl"),
                right_n.cast("bigint").alias("__nr"),
                left_sum.cast("bigint").alias("__sl"),
                right_sum.cast("bigint").alias("__sr"),
            ).select(
                F.lit(h).cast("bigint").alias("bandwidth_cents"),
                F.col("__nl").alias("n_left"),
                F.col("__nr").alias("n_right"),
                F.expr("__sl * 1000000 div __nl")
                .cast("bigint")
                .alias("mean_left_ppm"),
                F.expr("__sr * 1000000 div __nr")
                .cast("bigint")
                .alias("mean_right_ppm"),
                F.expr(
                    "__sr * 1000000 div __nr - __sl * 1000000 div __nl"
                )
                .cast("bigint")
                .alias("effect_ppm"),
            )
        )
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# poststratification_estimate
# ---------------------------------------------------------------------------

_PS_SEED = 67
#: deliberately biased inclusion rates out of 10, per segment — the
#: oversampled segment makes the naive mean wrong on purpose
_PS_RATES: list[tuple[str, int]] = [
    ("AUTOMOBILE", 9),
    ("BUILDING", 2),
    ("FURNITURE", 2),
    ("HOUSEHOLD", 2),
    ("MACHINERY", 2),
]
_PS_RATES_SQL = ", ".join(f"('{s}', {r})" for s, r in _PS_RATES)


@query(
    "poststratification_estimate",
    oracle=f"""
    WITH rates AS (SELECT * FROM (VALUES {_PS_RATES_SQL}) AS r(seg, rate)),
    pop AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             ({_duck_hash64("CAST(c_custkey AS VARCHAR)", seed=_PS_SEED)}
              % 10) AS h
      FROM customer
    ),
    samp AS (
      SELECT p.seg, p.cents FROM pop p JOIN rates r ON r.seg = p.seg
      WHERE p.h < r.rate
    ),
    pop_strata AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(cents) AS BIGINT) AS sum_pop
      FROM pop GROUP BY seg
    ),
    samp_strata AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n_samp,
             CAST(sum(cents) AS BIGINT) AS sum_samp
      FROM samp GROUP BY seg
    ),
    joined AS (
      SELECT p.seg, p.n_pop, p.sum_pop, s.n_samp, s.sum_samp
      FROM pop_strata p JOIN samp_strata s ON s.seg = p.seg
    )
    SELECT CAST(sum(n_pop) AS BIGINT) AS n_pop,
           CAST(sum(n_samp) AS BIGINT) AS n_samp,
           CAST(sum(sum_pop) // sum(n_pop) AS BIGINT) AS truth_mean_cents,
           CAST(sum(sum_samp) // sum(n_samp) AS BIGINT)
             AS naive_mean_cents,
           CAST(sum(n_pop * (sum_samp // n_samp)) // sum(n_pop) AS BIGINT)
             AS poststrat_mean_cents
    FROM joined
    """,
)
def q_poststratification_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POST-STRATIFICATION estimator: a deliberately segment-BIASED
    hash sample (one segment included at 9/10, the rest at 2/10 — the
    bias every convenience sample has) estimates the population mean
    account balance three ways — the truth (full population), the
    naive sample mean (inherits the bias), and the post-stratified
    mean Σ_g (N_g/N)·x̄_g, which reweights each stratum's sample mean
    by its POPULATION share and removes selection bias whenever
    selection is ignorable within strata (the survey-statistics
    workhorse behind every poll).

    Honest negative on THIS corpus: balances are segment-exchangeable,
    so the oversampling induces no bias for the naive mean to inherit
    — and post-stratification then pays pure reweighting VARIANCE
    (measured: PS lands ~7× farther from truth than naive at sf0.001).
    That diagnosis — bias correction is free only when there is bias —
    is exactly what shipping all three columns side by side reveals;
    on a corpus where the oversampled stratum differs in outcome, the
    ordering flips.

    All integer: cents sums, floor-divided stratum means, floor-
    divided weighted recombination (quantization documented — the
    stratum mean floors once before reweighting, identically on both
    engines).

    Plan: two (segment)-keyed aggregates over one scan each (the
    sample is a filter, not a shuffle), a 5-row join, a 1-row rollup.
    The estimator costs two scans at any scale."""
    c = read_table(spark, sf_dir, "customer")
    rates = spark.createDataFrame(_PS_RATES, "seg string, rate int")
    pop = c.select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("cents"),
        (
            portable_hash64(F.col("c_custkey").cast("string"), seed=_PS_SEED)
            % 10
        ).alias("h"),
    )
    samp = pop.join(F.broadcast(rates), "seg").filter(
        F.col("h") < F.col("rate")
    )
    pop_strata = pop.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("cents").cast("bigint").alias("sum_pop"),
    )
    samp_strata = samp.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samp"),
        F.sum("cents").cast("bigint").alias("sum_samp"),
    )
    joined = pop_strata.join(samp_strata, "seg")
    return joined.agg(
        F.sum("n_pop").cast("bigint").alias("n_pop"),
        F.sum("n_samp").cast("bigint").alias("n_samp"),
        F.expr("sum(sum_pop) div sum(n_pop)")
        .cast("bigint")
        .alias("truth_mean_cents"),
        F.expr("sum(sum_samp) div sum(n_samp)")
        .cast("bigint")
        .alias("naive_mean_cents"),
        F.expr("sum(n_pop * (sum_samp div n_samp)) div sum(n_pop)")
        .cast("bigint")
        .alias("poststrat_mean_cents"),
    )
