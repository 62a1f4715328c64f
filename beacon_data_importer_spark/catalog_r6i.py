"""Round-6 catalog tier (i): drift distance, tree-split scoring, and
risk-score encoding —

* ``emd_drift_audit`` — 1-D Earth Mover's Distance (Wasserstein-1)
  between pre- and post-cutoff order-value histograms: EMD =
  Σ_bins |F̂₁−F̂₂|·width, exact via cross-multiplied cumulative counts.
  Completes the drift-distance family: PSI (likelihood-weighted,
  binned), KS (sup-norm), EMD (L1 / transport cost — the one that
  scales with HOW FAR mass moved, not just that it moved).
* ``best_split_finder`` — the decision-tree split primitive: over
  every candidate threshold of order value, the weighted two-sided
  Gini reduction for the returned-line label, maximized exactly —
  cumulative class counts from ONE packed distributed prefix sum
  (ks_two_sample's device), per-split score as one floored rational,
  top-5 splits by TakeOrdered.  This is the inner loop of distributed
  gradient-boosting/random-forest training (XGBoost's exact greedy
  mode) expressed as relational algebra.
* ``woe_iv_encoding`` — Weight-of-Evidence encoding + Information
  Value of market segment against the returned-line label: per-
  category WoE = ln((good share)/(bad share)) via the floored-ln
  device, IV terms exact ppm×e6.  The credit-scoring classic, and the
  third member of the supervised-encoding family (LOO target
  encoding, feature hashing, WoE).

Reference parity: beyond-reference analytics tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Dialect, query, sql_query
from .sources.parquet import read_table

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# emd_drift_audit
# ---------------------------------------------------------------------------

_EMD_CUTOFF = "1998-01-01"
_EMD_BIN_CENTS = 2_000_000  # $20k-wide value bins
_EMD_MAX_BIN = 40  # top bin open-ended → ≤41 bins, bounded frame


def _emd_sql(dialect: Dialect) -> str:
    return f"""
    WITH binned AS (
      SELECT least({_EMD_MAX_BIN},
                   CAST(round(o_totalprice * 100) AS BIGINT)
                   {dialect.div} {_EMD_BIN_CENTS}) AS bin,
             CASE WHEN o_orderdate < DATE '{_EMD_CUTOFF}' THEN 1 ELSE 0 END
               AS pre
      FROM orders
    ),
    counts AS (
      SELECT bin, CAST(sum(pre) AS BIGINT) AS c1,
             CAST(count(*) - sum(pre) AS BIGINT) AS c2
      FROM binned GROUP BY bin
    ),
    scanned AS (
      SELECT bin, c1, c2,
             sum(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum2
      FROM counts
    ),
    n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2 FROM counts)
    SELECT n.n1, n.n2,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(abs(CAST(s.cum1 AS {dialect.big}) * n.n2
                        - CAST(s.cum2 AS {dialect.big}) * n.n1)) * 1000000
                {dialect.div} (CAST(n.n1 AS {dialect.big}) * n.n2) AS BIGINT)
             AS emd_bins_e6
    FROM scanned s CROSS JOIN n
    GROUP BY n.n1, n.n2
    """


sql_query(
    "emd_drift_audit", _emd_sql, "orders",
    doc="""Earth Mover's Distance between the pre-/post-{cut} order-value
    histograms, in BIN-WIDTH units scaled e6: for histograms on a
    common grid, W₁ = Σ_bins |F̂₁(b) − F̂₂(b)| — each term the exact
    cross-multiplied |cum₁·n₂ − cum₂·n₁| over n₁·n₂, summed before the
    single final division.  Unlike KS (max displacement) or PSI
    (log-likelihood), EMD prices drift by transport distance: mass
    shifting one bin costs 1, shifting ten bins costs 10 — which is
    why it's the drift score of choice when the FEATURE SCALE matters
    (pricing, token counts).

    The {nb}-bin frame is bounded by construction (kaplan_meier's
    window sanction); one scan + one ≤{nb}-row aggregate.

    Reference parity: beyond-reference drift tier (PSI and KS are its
    siblings; all three now read the same cutoff).""".format(
        cut=_EMD_CUTOFF, nb=_EMD_MAX_BIN + 1
    ),
)


# ---------------------------------------------------------------------------
# best_split_finder
# ---------------------------------------------------------------------------

_SPLIT_PACK = 2_147_483_648  # 2^31
_SPLIT_TOPN = 5


@query(
    "best_split_finder",
    oracle=f"""
    WITH labeled AS (
      SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS x,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    by_val AS (
      SELECT x, CAST(sum(y) AS BIGINT) AS c1,
             CAST(count(*) - sum(y) AS BIGINT) AS c0
      FROM labeled GROUP BY x
    ),
    scanned AS (
      SELECT x,
             sum(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS l1,
             sum(c0) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS l0
      FROM by_val
    ),
    n AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
                 CAST(sum(c0) AS BIGINT) AS t0 FROM by_val),
    scored AS (
      SELECT s.x AS split_c,
             CAST(s.l1 + s.l0 AS BIGINT) AS n_left,
             CAST((n.t1 - s.l1) + (n.t0 - s.l0) AS BIGINT) AS n_right,
             CAST((
               (CAST(s.l1 AS HUGEINT) * s.l1
                + CAST(s.l0 AS HUGEINT) * s.l0)
                 * ((n.t1 - s.l1) + (n.t0 - s.l0))
               + (CAST(n.t1 - s.l1 AS HUGEINT) * (n.t1 - s.l1)
                  + CAST(n.t0 - s.l0 AS HUGEINT) * (n.t0 - s.l0))
                 * (s.l1 + s.l0)
             ) * 1000000
             // (CAST(s.l1 + s.l0 AS HUGEINT)
                 * ((n.t1 - s.l1) + (n.t0 - s.l0)))
             AS BIGINT) AS score_e6
      FROM scanned s CROSS JOIN n
      WHERE s.l1 + s.l0 > 0 AND (n.t1 - s.l1) + (n.t0 - s.l0) > 0
    )
    SELECT split_c, n_left, n_right, score_e6
    FROM scored
    ORDER BY score_e6 DESC, split_c
    LIMIT {_SPLIT_TOPN}
    """,
)
def q_best_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact greedy decision-tree split search: which order-value
    threshold best separates will-have-a-return orders?

    Minimizing weighted Gini impurity is equivalent to MAXIMIZING
    (c₁ₗ²+c₀ₗ²)/nₗ + (c₁ᵣ²+c₀ᵣ²)/nᵣ; each candidate's score is that
    sum over the common denominator nₗ·nᵣ — one floored e6 rational
    per split, every product exact in DECIMAL(38,0)/HUGEINT.  The
    cumulative class counts come from ONE distributed prefix sum over
    the distinct-value frame with both classes PACKED into a single
    int64 (c₁·2³¹ + c₀, the ks_two_sample device) — the frame is
    unbounded at scale, so no single-task window; the winner is a
    TakeOrdered top-{t}, never a global sort.

    This is the inner loop of distributed tree training (XGBoost's
    exact greedy mode; the histogram mode is this same computation on
    ``equidepth_histogram``'s bins) — the reduction that makes 'fit a
    tree on 100 TB' a sequence of prefix sums.

    Reference parity: beyond-reference ML tier."""
    from .operators.order import global_running_sum

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # Aggregate lineitem by order BEFORE the join (r11 optimization
    # round, guide §2.3): y is per-order, so the map-side-combinable
    # groupBy runs on the scan and the join carries one row per order
    # instead of one per line; o_totalprice is functionally dependent
    # on the key, so the old post-join 2-key groupBy made the same rows.
    ylab = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "y"
        )
    )
    labeled = ylab.join(o, "o_orderkey").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        "y",
    )
    by_val = labeled.groupBy("x").agg(
        F.sum("y").cast("bigint").alias("c1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("c0"),
    )
    packed = by_val.withColumn(
        "packed", F.col("c1") * _SPLIT_PACK + F.col("c0")
    )
    scanned = global_running_sum(packed, ["x"], "packed", "cum").select(
        "x",
        F.expr(f"cum div {_SPLIT_PACK}").alias("l1"),
        (F.col("cum") % _SPLIT_PACK).alias("l0"),
    )
    n = by_val.agg(
        F.sum("c1").cast("bigint").alias("t1"),
        F.sum("c0").cast("bigint").alias("t0"),
    )
    d = _DEC
    scored = (
        scanned.crossJoin(F.broadcast(n))
        .filter(
            (F.col("l1") + F.col("l0") > 0)
            & ((F.col("t1") - F.col("l1")) + (F.col("t0") - F.col("l0")) > 0)
        )
        .select(
            F.col("x").alias("split_c"),
            (F.col("l1") + F.col("l0")).cast("bigint").alias("n_left"),
            (
                (F.col("t1") - F.col("l1")) + (F.col("t0") - F.col("l0"))
            )
            .cast("bigint")
            .alias("n_right"),
            F.expr(
                f"CAST(((CAST(l1 AS {d}) * l1 + CAST(l0 AS {d}) * l0)"
                " * ((t1 - l1) + (t0 - l0))"
                f" + (CAST(t1 - l1 AS {d}) * (t1 - l1)"
                f" + CAST(t0 - l0 AS {d}) * (t0 - l0)) * (l1 + l0))"
                " * 1000000"
                f" div (CAST(l1 + l0 AS {d}) * ((t1 - l1) + (t0 - l0)))"
                " AS BIGINT)"
            ).alias("score_e6"),
        )
    )
    return (
        scored.orderBy(F.col("score_e6").desc(), "split_c")
        .limit(_SPLIT_TOPN)
    )


q_best_split_finder.__doc__ = (q_best_split_finder.__doc__ or "").format(
    t=_SPLIT_TOPN
)


# ---------------------------------------------------------------------------
# woe_iv_encoding
# ---------------------------------------------------------------------------

def _woe_sql(dialect: Dialect) -> str:
    return f"""
    WITH labeled AS (
      SELECT c.c_mktsegment AS segment,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS bad
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, c.c_mktsegment
    ),
    per_seg AS (
      SELECT segment,
             CAST(sum(1 - bad) AS BIGINT) AS n_good,
             CAST(sum(bad) AS BIGINT) AS n_bad
      FROM labeled GROUP BY segment
    ),
    tot AS (
      SELECT CAST(sum(n_good) AS BIGINT) AS g,
             CAST(sum(n_bad) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS k
      FROM per_seg
    ),
    shares AS (
      SELECT p.segment, p.n_good, p.n_bad,
             CAST((p.n_good + 1) * 1000000 {dialect.div} (t.g + t.k) AS BIGINT)
               AS good_ppm,
             CAST((p.n_bad + 1) * 1000000 {dialect.div} (t.b + t.k) AS BIGINT)
               AS bad_ppm
      FROM per_seg p CROSS JOIN tot t
    )
    SELECT segment, n_good, n_bad,
           CAST(floor(1e6 * ln(CAST(good_ppm AS DOUBLE)
                               / CAST(bad_ppm AS DOUBLE))) AS BIGINT)
             AS woe_e6,
           CAST((good_ppm - bad_ppm)
                * CAST(floor(1e6 * ln(CAST(good_ppm AS DOUBLE)
                                      / CAST(bad_ppm AS DOUBLE)))
                       AS BIGINT) AS BIGINT) AS iv_term_e12,
           CAST(sum((good_ppm - bad_ppm)
                * CAST(floor(1e6 * ln(CAST(good_ppm AS DOUBLE)
                                      / CAST(bad_ppm AS DOUBLE)))
                       AS BIGINT)) OVER () AS BIGINT) AS iv_total_e12
    FROM shares ORDER BY segment
    """


sql_query(
    "woe_iv_encoding", _woe_sql, "orders", "customer", "lineitem",
    doc="""Weight-of-Evidence encoding of market segment against the
    returned-line label, with the Information Value rollup — the
    credit-scoring feature transform (WoEᵢ = ln(goodᵢ/G ÷ badᵢ/B);
    IV = Σ (goodᵢ/G − badᵢ/B)·WoEᵢ; rule of thumb: IV < 0.02
    useless, > 0.5 suspicious).

    Laplace-smoothed shares in exact ppm; each ln is one IEEE chain on
    the bit-identical ppm ratio, floored to micro-units (the
    psi_drift_audit device); IV terms are exact ppm×e6 integers and
    the total rides every row via a window over the ≤5-segment frame.
    TPC-H return flags are segment-independent, so the honest IV is
    ≈0 — the 'useless feature' calibration the test asserts.

    Plan: one join + one segment-sized aggregate; constant work after.
    Completes the supervised-encoding family: LOO target encoding
    (per-row, leakage-guarded), feature hashing (unsupervised), WoE
    (per-category, interpretable).

    Reference parity: beyond-reference feature tier.""",
)
