"""Round-6 catalog tier (d): LSH tuning, time-decayed ranking, and
quantile-forecast evaluation —

* ``minhash_band_advisor`` — the S-curve tuning table for MinHash LSH
  banding, evaluated against MEASURED ground truth: for every (bands,
  rows-per-band) factorization of the 16-hash signature, the expected
  recall over the corpus' exact ≥0.6-Jaccard pair population (from
  ``prefix_filter_jaccard_join``, the threshold-complete exact join)
  plus the candidate probability at three reference similarities.
  The S-curve P(candidate | s) = 1 − (1 − sʳ)ᵇ is Python-computed
  once per integer percent and embedded as LITERALS in both engines
  (the Φ⁻¹-table device of fdr_bh_audit) — no floating pow at query
  time.
* ``decayed_topk`` — exponentially time-decayed revenue ranking
  (weight 2^(order year − 1992), exact integers): the recency-biased
  leaderboard every freshness-sensitive ranking job uses, with the
  undecayed rank alongside so rank inversions are visible.
* ``pinball_quantile_eval`` — quantile-forecast evaluation: exact
  P25/P50/P75 of pre-1998 order values (order statistics via the
  distributed prefix sum, ``operators/order.py:global_running_sum``)
  scored on the post-1998 period with pinball loss in exact
  micro-units — the eval every quantile forecaster reports, and the
  forecast-skill tier's member for interval predictions (MASE covers
  point forecasts, Brier covers probabilities, conformal covers
  coverage).

Reference parity: beyond-reference analytics tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import DUCK, ORACLES, QUERIES, SPARK, Dialect, query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# minhash_band_advisor
# ---------------------------------------------------------------------------

#: (bands, rows) factorizations of the 16-hash signature
#: (operators/dedup.py minhash_signatures num_hashes=16; production
#: config is (4, 4) — lsh_bands defaults).
_MBA_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]

#: S-curve literals: (bands, rows, s_pct, p_ppm) for every integer
#: percent — Python floats ONCE here, pure integer lookups at query
#: time in both engines.
_MBA_CURVE: list[tuple[int, int, int, int]] = [
    (b, r, s, int((1.0 - (1.0 - (s / 100.0) ** r) ** b) * 1_000_000))
    for b, r in _MBA_CONFIGS
    for s in range(0, 101)
]

_MBA_CURVE_VALUES = ", ".join(
    f"({b}, {r}, {s}, {p})" for b, r, s, p in _MBA_CURVE
)


def _mba_sql(dialect: Dialect, truth_sql: str) -> str:
    if dialect.spark:
        curve = (
            f"SELECT col1 AS bands, col2 AS rows_per_band, col3 AS s_pct,"
            f" col4 AS p_ppm FROM VALUES {_MBA_CURVE_VALUES}"
        )
    else:
        curve = (
            f"SELECT * FROM (VALUES {_MBA_CURVE_VALUES})"
            " AS t(bands, rows_per_band, s_pct, p_ppm)"
        )
    return f"""
    WITH truth AS ({truth_sql}),
    curve AS ({curve}),
    rounded AS (
      SELECT CAST((jaccard_e6 + 5000) {dialect.div} 10000 AS BIGINT) AS s_pct
      FROM truth
    ),
    joined AS (
      SELECT c.bands, c.rows_per_band, c.p_ppm
      FROM rounded t JOIN curve c ON c.s_pct = t.s_pct
    )
    SELECT j.bands AS bands,
           j.rows_per_band AS rows_per_band,
           CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(sum(j.p_ppm) {dialect.div} count(*) AS BIGINT)
             AS expected_recall_ppm,
           CAST(max(c50.p_ppm) AS BIGINT) AS p_at_50_ppm,
           CAST(max(c70.p_ppm) AS BIGINT) AS p_at_70_ppm,
           CAST(max(c90.p_ppm) AS BIGINT) AS p_at_90_ppm
    FROM joined j
    JOIN curve c50 ON c50.bands = j.bands
     AND c50.rows_per_band = j.rows_per_band AND c50.s_pct = 50
    JOIN curve c70 ON c70.bands = j.bands
     AND c70.rows_per_band = j.rows_per_band AND c70.s_pct = 70
    JOIN curve c90 ON c90.bands = j.bands
     AND c90.rows_per_band = j.rows_per_band AND c90.s_pct = 90
    GROUP BY j.bands, j.rows_per_band
    ORDER BY j.bands DESC
    """


@query(
    "minhash_band_advisor",
    oracle=_mba_sql(DUCK, ORACLES["prefix_filter_jaccard_join"]),
)
def q_minhash_band_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding advisor: which (bands × rows) split of the 16-hash
    MinHash signature should the near-dup pipeline run?

    For each factorization, P(pair becomes a candidate | Jaccard s)
    follows the S-curve 1 − (1 − sʳ)ᵇ; the advisor evaluates it
    against the corpus' MEASURED truth — the exact ≥0.6-Jaccard pairs
    of ``prefix_filter_jaccard_join`` (threshold-complete by the
    prefix-filter completeness proof, PERF.md) — reporting expected
    recall over that population next to the curve's value at s = 0.5 /
    0.7 / 0.9 (the false-candidate pressure proxy: a config whose
    p_at_50 is high pays quadratic candidate fan-out for sub-threshold
    pairs).  The curve is {n} Python-computed integer literals; the
    only data-dependent work is the exact-join truth and a percent
    rounding — everything downstream is a broadcast lookup.

    Reads next to ``dedup_eval`` (measured precision/recall of the
    PRODUCTION (4,4) config against exact truth): dedup_eval audits
    the config you run; this prices the configs you didn't.

    Reference parity: beyond-reference dedup tier
    (operators/dedup.py:194 ``lsh_bands`` is the consumer)."""
    truth = QUERIES["prefix_filter_jaccard_join"](spark, sf_dir)
    truth.createOrReplaceTempView("__mba_truth")
    return spark.sql(
        _mba_sql(SPARK, "SELECT * FROM __mba_truth")
    )


q_minhash_band_advisor.__doc__ = (q_minhash_band_advisor.__doc__ or "").format(
    n=len(_MBA_CURVE)
)


# ---------------------------------------------------------------------------
# decayed_topk
# ---------------------------------------------------------------------------

_DECAY_TOPK = 20


@query(
    "decayed_topk",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS raw_cents,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                      * CAST(power(2, year(o_orderdate) - 1992) AS BIGINT))
                  AS BIGINT) AS decayed_e
      FROM orders GROUP BY o_custkey
    ),
    top AS (
      SELECT o_custkey, raw_cents, decayed_e,
             row_number() OVER (ORDER BY decayed_e DESC, o_custkey)
               AS rank_decayed
      FROM per_cust
      ORDER BY decayed_e DESC, o_custkey LIMIT {_DECAY_TOPK}
    )
    SELECT o_custkey AS custkey, raw_cents, decayed_e,
           CAST(rank_decayed AS BIGINT) AS rank_decayed,
           CAST(row_number() OVER (ORDER BY raw_cents DESC, o_custkey)
                AS BIGINT) AS rank_raw_within
    FROM top
    """,
)
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed revenue leaderboard: each order's cents weighted by
    2^(order year − 1992) — one doubling per year of recency, exact
    integers (weights 1…512 over the 1992–2001 span) — top-{k}
    customers by decayed revenue with their UNDECAYED rank within the
    same set, so recency-driven rank inversions are visible in one
    read.  The standard freshness-biased scoring shape (trending
    content, active-account ranking); power-of-two decay keeps every
    engine exact where e^{{-λt}} would drift.

    Plan: one map-side-combined per-customer aggregate; top-{k} is
    TakeOrdered (never a global sort); the second ranking window runs
    on the {k}-row result only.

    Reference parity: beyond-reference; the trending relative is
    ``trending_parts`` (window growth), this is the decayed-cumulative
    form."""
    o = read_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("raw_cents"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            * F.pow(F.lit(2), F.year("o_orderdate") - 1992).cast("bigint")
        )
        .cast("bigint")
        .alias("decayed_e"),
    )
    top = (
        per_cust.orderBy(F.col("decayed_e").desc(), "o_custkey")
        .limit(_DECAY_TOPK)
        .select(
            F.col("o_custkey").alias("custkey"), "raw_cents", "decayed_e"
        )
    )
    from pyspark.sql import Window

    wd = Window.orderBy(F.col("decayed_e").desc(), "custkey")
    wr = Window.orderBy(F.col("raw_cents").desc(), "custkey")
    return top.select(
        "custkey",
        "raw_cents",
        "decayed_e",
        F.row_number().over(wd).cast("bigint").alias("rank_decayed"),
        F.row_number().over(wr).cast("bigint").alias("rank_raw_within"),
    )


q_decayed_topk.__doc__ = (q_decayed_topk.__doc__ or "").format(
    k=_DECAY_TOPK
)


# ---------------------------------------------------------------------------
# pinball_quantile_eval
# ---------------------------------------------------------------------------

_PINBALL_QS = (250_000, 500_000, 750_000)  # ppm
_PINBALL_CUTOFF = "1998-01-01"


def _pinball_duck() -> str:
    qs = ", ".join(f"({q})" for q in _PINBALL_QS)
    return f"""
    WITH pre AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders WHERE o_orderdate < DATE '{_PINBALL_CUTOFF}'
    ),
    by_val AS (
      SELECT x, count(*) AS c FROM pre GROUP BY x
    ),
    scanned AS (
      SELECT x, sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum
      FROM by_val
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pre),
    quants AS (SELECT * FROM (VALUES {qs}) AS t(q_ppm)),
    preds AS (
      SELECT q.q_ppm,
             (SELECT min(s.x) FROM scanned s
              WHERE s.cum * 1000000 >= q.q_ppm * (SELECT n FROM n))
               AS pred_c
      FROM quants q
    ),
    post AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders WHERE o_orderdate >= DATE '{_PINBALL_CUTOFF}'
    )
    SELECT CAST(p.q_ppm AS BIGINT) AS q_ppm,
           CAST(p.pred_c AS BIGINT) AS pred_c,
           CAST(count(*) AS BIGINT) AS n_post,
           CAST(sum(CASE WHEN post.y >= p.pred_c
                         THEN p.q_ppm * (post.y - p.pred_c)
                         ELSE (1000000 - p.q_ppm) * (p.pred_c - post.y)
                    END) // count(*) AS BIGINT) AS mean_pinball_e6
    FROM post CROSS JOIN preds p
    GROUP BY p.q_ppm, p.pred_c ORDER BY p.q_ppm
    """


@query(
    "pinball_quantile_eval",
    oracle=_pinball_duck(),
)
def q_pinball_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast evaluation with pinball loss: the exact
    P25/P50/P75 of PRE-cutoff ({cut}) order values — order statistics
    located on the distinct-value frame via the distributed prefix sum
    (``global_running_sum``; the value frame is unbounded at scale, so
    no single-task window) — scored against every POST-cutoff order
    with L_q(y, ŷ) = q·(y−ŷ)⁺ + (1−q)·(ŷ−y)⁺ in exact micro-units.
    Pinball is the proper scoring rule for quantiles: the predictor
    minimizing it IS the true quantile, so 'train quantile, evaluate
    pinball' is the standard loop this query closes for the
    forecast-skill tier (MASE = point, Brier = probability,
    conformal = coverage, pinball = quantile).

    Plan: one pre-period aggregate to the value frame + prefix sum;
    the 3 predictions broadcast to the post-period scan; one final
    3-group aggregate.

    Reference parity: beyond-reference forecast-evaluation tier."""
    from .operators.order import global_running_sum

    o = read_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    pre = o.filter(
        F.col("o_orderdate") < F.lit(_PINBALL_CUTOFF).cast("date")
    ).select(cents.alias("x"))
    by_val = pre.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    scanned = global_running_sum(by_val, ["x"], "c", "cum")
    n_pre = pre.count()  # scalar; bounded driver round-trip
    quants = spark.createDataFrame(
        [(q,) for q in _PINBALL_QS], "q_ppm long"
    )
    preds = F.broadcast(
        quants.join(
            scanned.select("x", "cum"),
            F.col("cum") * 1_000_000 >= F.col("q_ppm") * n_pre,
        )
        .groupBy("q_ppm")
        .agg(F.min("x").alias("pred_c"))
    )
    post = o.filter(
        F.col("o_orderdate") >= F.lit(_PINBALL_CUTOFF).cast("date")
    ).select(cents.alias("y"))
    loss = F.when(
        F.col("y") >= F.col("pred_c"),
        F.col("q_ppm") * (F.col("y") - F.col("pred_c")),
    ).otherwise(
        (1_000_000 - F.col("q_ppm")) * (F.col("pred_c") - F.col("y"))
    )
    return (
        post.crossJoin(preds)
        .groupBy("q_ppm", "pred_c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_post"),
            F.expr(
                "CAST(sum(CASE WHEN y >= pred_c"
                " THEN q_ppm * (y - pred_c)"
                " ELSE (1000000 - q_ppm) * (pred_c - y) END)"
                " div count(*) AS BIGINT)"
            ).alias("mean_pinball_e6"),
        )
        .select(
            "q_ppm",
            F.col("pred_c").cast("bigint").alias("pred_c"),
            "n_post",
            "mean_pinball_e6",
        )
        .orderBy("q_ppm")
    )


q_pinball_quantile_eval.__doc__ = (q_pinball_quantile_eval.__doc__ or "").format(
    cut=_PINBALL_CUTOFF
)
