"""Round-5k catalog tier: temporal association rules, the third
privacy-triad audit, and forecast-probability decomposition —

* ``sequential_purchase_rules`` — temporal association rules "part A
  then part B within 30 days by the same customer" with support and
  confidence: the ORDER-aware counterpart of ``basket_rules`` (which
  mines same-basket co-occurrence with no direction or time).
* ``t_closeness_audit`` — per-QI-group total-variation distance of
  the sensitive-attribute distribution from the global one: the
  t-closeness criterion, completing the privacy release triad with
  ``k_anonymity_audit`` (group size) and its l-diversity column
  (within-group variety) — this one catches SKEWED groups that pass
  both.
* ``brier_decomposition`` — Murphy's reliability/resolution/
  uncertainty decomposition of a binned probability forecast
  (decile-midpoint forecast of "long document" from token count),
  all in exact integer ppm/e12 arithmetic with the
  BS = REL − RES + UNC identity testable by construction.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_ext import _DUCK_NTOK, _docs_parallel
from .operators.order import global_rank
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# sequential_purchase_rules
# ---------------------------------------------------------------------------

_SEQ_WINDOW_DAYS = 30
# the synthetic part space grows with the customer count, so repeated
# directed pairs are rare: max observed support is 2 at every test SF
# — the threshold keeps the rule REAL (≥2 independent customers)
# without emptying the result
_SEQ_MIN_SUPPORT = 2
_SEQ_TOPK = 20
# customers with more distinct parts than this are excluded from the
# pair stage — a no-op on this corpus (max width 105 at sf0.1) and the
# bot-cart guard at scale (the measured _CF_MAX_WIDTH doctrine:
# PERF.md "Scale probe: item-item CF basket scaling" — one planted
# mega-entity cost 80× the corpus)
_SEQ_MAX_WIDTH = 128


@query(
    "sequential_purchase_rules",
    oracle=f"""
    WITH cp0 AS MATERIALIZED (
      SELECT o.o_custkey AS c, l.l_partkey AS p,
             CAST(min(datediff('day', DATE '1992-01-01',
                               CAST(o.o_orderdate AS DATE))) AS BIGINT) AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, l.l_partkey
    ),
    cp AS MATERIALIZED (
      SELECT x.c, x.p, x.d FROM cp0 x
      JOIN (SELECT c FROM cp0 GROUP BY c
            HAVING count(*) <= {_SEQ_MAX_WIDTH}) ok ON ok.c = x.c
    ),
    base AS MATERIALIZED (
      SELECT p, CAST(count(*) AS BIGINT) AS n_cust FROM cp GROUP BY p
    ),
    rules AS (
      SELECT a.p AS part_a, b.p AS part_b,
             CAST(count(*) AS BIGINT) AS n_cust_ab
      FROM cp a JOIN cp b
        ON a.c = b.c AND a.p != b.p
       AND b.d > a.d AND b.d <= a.d + {_SEQ_WINDOW_DAYS}
      GROUP BY a.p, b.p
      HAVING count(*) >= {_SEQ_MIN_SUPPORT}
    )
    SELECT r.part_a, r.part_b, r.n_cust_ab,
           ba.n_cust AS n_cust_a,
           CAST(r.n_cust_ab * 1000000 // ba.n_cust AS BIGINT)
             AS confidence_ppm
    FROM rules r JOIN base ba ON ba.p = r.part_a
    ORDER BY r.n_cust_ab DESC, r.part_a, r.part_b
    LIMIT {_SEQ_TOPK}
    """,
)
def q_sequential_purchase_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPORAL association rules: "customers who buy part A buy part B
    within {w} days" — first-purchase dates per (customer, part), a
    per-customer directed pair join windowed on the day gap, support ≥
    {s} distinct customers, confidence = P(B within {w}d | A) in exact
    ppm, top-{k} by support with full tie-break.  The ORDER-AWARE
    counterpart of ``basket_rules``: that one mines undirected
    same-basket lift; this one mines direction and time — the
    "next-purchase recommendation" and replenishment-cycle primitive.

    The pair stage is per-CUSTOMER (the natural shuffle key, bounded
    width ≤105 on this corpus); entities above {cap} distinct parts
    are excluded outright — a no-op here, the measured mega-entity
    guard at scale (see the CF width-cap probe in PERF.md).  All
    outputs are integers: day gaps, customer counts, floor-divided
    confidence.

    Plan: one (cust, part) min-date aggregate (map-side combined on
    the join's own key), the windowed self-join shuffles once on
    custkey, the rule aggregate shuffles on (a, b), base rates
    broadcast back, TakeOrdered top-{k}."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1992-01-01").cast("date")
    cp0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .agg(
            F.min(F.datediff(F.col("o_orderdate").cast("date"), epoch))
            .cast("bigint")
            .alias("d")
        )
    )
    # Width cap as a COUNT window over an explicitly customer-
    # partitioned frame instead of aggregate+self-join (r11 round,
    # guide §2.1 — same rewrite as item_item_cf_topk): one explicit
    # hash(c) exchange feeds the cap filter AND co-partitions both
    # sides of the windowed pair self-join below; the explicit count
    # keeps the per-customer pair expansion parallel where AQE would
    # coalesce the small shuffle.  Same rows kept, same pairs.
    cp = (
        cp0.repartition(spark.sparkContext.defaultParallelism, "c")
        .withColumn(
            "__w", F.count(F.lit(1)).over(Window.partitionBy("c"))
        )
        .filter(F.col("__w") <= _SEQ_MAX_WIDTH)  # see _SEQ_MAX_WIDTH
        .drop("__w")
    )
    base = cp.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    a = cp.select("c", F.col("p").alias("part_a"), F.col("d").alias("da"))
    b = cp.select(
        F.col("c").alias("c_r"),
        F.col("p").alias("part_b"),
        F.col("d").alias("db"),
    )
    rules = (
        a.join(
            b,
            (F.col("c") == F.col("c_r"))
            & (F.col("part_a") != F.col("part_b"))
            & (F.col("db") > F.col("da"))
            & (F.col("db") <= F.col("da") + _SEQ_WINDOW_DAYS),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust_ab"))
        .filter(F.col("n_cust_ab") >= _SEQ_MIN_SUPPORT)
    )
    out = rules.join(
        base.select(F.col("p").alias("part_a"), F.col("n_cust").alias("n_cust_a")),
        "part_a",
    ).select(
        "part_a",
        "part_b",
        "n_cust_ab",
        "n_cust_a",
        F.expr("n_cust_ab * 1000000 div n_cust_a")
        .cast("bigint")
        .alias("confidence_ppm"),
    )
    return out.orderBy(
        F.col("n_cust_ab").desc(), "part_a", "part_b"
    ).limit(_SEQ_TOPK)


q_sequential_purchase_rules.__doc__ = (
    q_sequential_purchase_rules.__doc__ or ""
).format(w=_SEQ_WINDOW_DAYS, s=_SEQ_MIN_SUPPORT, k=_SEQ_TOPK, cap=_SEQ_MAX_WIDTH)


# ---------------------------------------------------------------------------
# t_closeness_audit
# ---------------------------------------------------------------------------


@query(
    "t_closeness_audit",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ),
    grid AS (
      SELECT g.nationkey, s.seg, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT nationkey FROM cells) g
      CROSS JOIN (SELECT DISTINCT seg FROM cells) s
      LEFT JOIN cells c ON c.nationkey = g.nationkey AND c.seg = s.seg
    ),
    shares AS (
      SELECT nationkey, seg, n,
             CAST(n * 1000000 // sum(n) OVER (PARTITION BY nationkey)
                  AS BIGINT) AS g_ppm,
             CAST(sum(n) OVER (PARTITION BY seg) * 1000000
                  // sum(n) OVER () AS BIGINT) AS all_ppm
      FROM grid
    ),
    t AS (
      SELECT nationkey,
             CAST(sum(n) AS BIGINT) AS n_group,
             CAST(sum(abs(g_ppm - all_ppm)) // 2 AS BIGINT) AS t_ppm
      FROM shares GROUP BY nationkey
    )
    SELECT nationkey, n_group, t_ppm,
           CAST(max(t_ppm) OVER () AS BIGINT) AS t_max_ppm
    FROM t
    """,
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit: for each quasi-identifier group (nation),
    the total-variation distance between its sensitive-attribute
    (mktsegment) distribution and the GLOBAL one — the third leg of
    the privacy release triad: k-anonymity bounds group SIZE,
    l-diversity demands within-group VARIETY, t-closeness catches the
    group whose variety is skewed enough that membership still leaks
    belief about the attribute (Li et al. '07).  The release gate is
    max-over-groups t ≤ threshold; the max rides along every row.

    Exactness: the TVD runs on FLOORED ppm shares of exact counts over
    a complete nation × segment grid (absent cells count as share 0 —
    dropping them would understate the distance), halved by integer
    division.  Identical floors both engines ⇒ identical t.

    Plan: one (nation, segment) aggregate (≤125 cells at any scale),
    then windows over that constant frame.  The audit is one exchange
    regardless of corpus size — strictly cheaper than the release it
    gates, same as its two siblings."""
    c = read_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nations = cells.select("nationkey").distinct()
    segs = cells.select("seg").distinct()
    grid = (
        nations.crossJoin(segs)
        .join(cells, ["nationkey", "seg"], "left")
        .select(
            "nationkey", "seg", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    w_nat = Window.partitionBy("nationkey")
    w_seg = Window.partitionBy("seg")
    w_all = Window.partitionBy()  # ≤125-cell frame: sanctioned
    shares = grid.select(
        "nationkey",
        "seg",
        "n",
        F.expr("n * 1000000").cast("bigint").alias("__num"),
        F.sum("n").over(w_nat).alias("__gtot"),
        (F.sum("n").over(w_seg) * 1000000).alias("__snum"),
        F.sum("n").over(w_all).alias("__tot"),
    ).select(
        "nationkey",
        "n",
        F.expr("__num div __gtot").cast("bigint").alias("g_ppm"),
        F.expr("__snum div __tot").cast("bigint").alias("all_ppm"),
    )
    t = shares.groupBy("nationkey").agg(
        F.sum("n").cast("bigint").alias("n_group"),
        F.expr("sum(abs(g_ppm - all_ppm)) div 2")
        .cast("bigint")
        .alias("t_ppm"),
    )
    return t.select(
        "nationkey",
        "n_group",
        "t_ppm",
        F.max("t_ppm").over(w_all).cast("bigint").alias("t_max_ppm"),
    )


# ---------------------------------------------------------------------------
# brier_decomposition
# ---------------------------------------------------------------------------

_BRIER_BINS = 10
_BRIER_LABEL_CHARS = 300  # outcome: document longer than this


@query(
    "brier_decomposition",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, {_DUCK_NTOK} AS ntok FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY ntok, doc_id) AS r,
             count(*) OVER () AS nn
      FROM toks
    ),
    binned AS (
      SELECT least({_BRIER_BINS - 1},
                   (r - 1) * {_BRIER_BINS} // nn) AS bin,
             CASE WHEN n_chars >= {_BRIER_LABEL_CHARS} THEN 1 ELSE 0 END
               AS y
      FROM ranked
    ),
    per_bin AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS e_k,
             CAST(bin * 100000 + 50000 AS BIGINT) AS p_ppm,
             CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS o_ppm
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT sum(n_k) AS nn, CAST(sum(e_k) * 1000000 // sum(n_k) AS BIGINT)
               AS obar_ppm
      FROM per_bin
    ),
    terms AS (
      SELECT b.*, t.obar_ppm,
             b.n_k * (b.p_ppm - b.o_ppm) * (b.p_ppm - b.o_ppm) AS rel_t,
             b.n_k * (b.o_ppm - t.obar_ppm) * (b.o_ppm - t.obar_ppm)
               AS res_t,
             t.nn
      FROM per_bin b CROSS JOIN tot t
    )
    SELECT bin, n_k, e_k, p_ppm, o_ppm,
           CAST(sum(rel_t) OVER () // max(nn) OVER () AS BIGINT)
             AS rel_e12,
           CAST(sum(res_t) OVER () // max(nn) OVER () AS BIGINT)
             AS res_e12,
           CAST(max(obar_ppm) OVER ()
                * (1000000 - max(obar_ppm) OVER ()) AS BIGINT) AS unc_e12,
           CAST(sum(rel_t) OVER () // max(nn) OVER ()
                - sum(res_t) OVER () // max(nn) OVER ()
                + max(obar_ppm) OVER ()
                  * (1000000 - max(obar_ppm) OVER ()) AS BIGINT)
             AS brier_e12
    FROM terms
    """,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MURPHY DECOMPOSITION of a binned probability forecast:
    BS = RELIABILITY − RESOLUTION + UNCERTAINTY.  The forecast is the
    decile-midpoint of each document's token-count percentile
    (rank-based, via the distributed ``global_rank``); the outcome is
    "document ≥ {c} chars" — correlated but not determined by the
    forecast (tokens ≠ chars), so all three components are nontrivial.
    This is the SCALAR decomposition behind ``score_calibration``'s
    reliability TABLE: REL says how far the forecast deviates from
    observed rates (lower better), RES how much the bins separate the
    base rate (higher better), UNC the irreducible outcome variance.

    Exactness: because the forecast is constant within a bin
    (midpoint), the decomposition is computed exactly from integer bin
    statistics — ppm rates floored once, squared differences and the
    final e12 sums all integer; the identity BS = REL − RES + UNC
    holds by construction and is asserted in tests.

    Plan: one tokenize scan → global_rank (the one range exchange) →
    a {b}-row bin aggregate; every window after that runs on the
    {b}-row frame."""
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir).select(
        "doc_id", "n_chars", _ntoks(_tokens("text")).alias("ntok")
    )
    ranked = global_rank(d, ["ntok", "doc_id"], out_col="r")
    nn1 = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__nn"))
    binned = ranked.crossJoin(F.broadcast(nn1)).select(
        F.least(
            F.lit(_BRIER_BINS - 1).cast("bigint"),
            F.expr(f"((r - 1) * {_BRIER_BINS}) div __nn").cast("bigint"),
        ).alias("bin"),
        F.when(F.col("n_chars") >= _BRIER_LABEL_CHARS, 1)
        .otherwise(0)
        .alias("y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("e_k"),
    ).select(
        "bin",
        "n_k",
        "e_k",
        (F.col("bin") * 100000 + 50000).cast("bigint").alias("p_ppm"),
        F.expr("e_k * 1000000 div n_k").cast("bigint").alias("o_ppm"),
    )
    tot = per_bin.agg(
        F.sum("n_k").alias("nn"),
        F.expr("sum(e_k) * 1000000 div sum(n_k)")
        .cast("bigint")
        .alias("obar_ppm"),
    )
    terms = per_bin.crossJoin(F.broadcast(tot)).select(
        "*",
        (
            F.col("n_k")
            * (F.col("p_ppm") - F.col("o_ppm"))
            * (F.col("p_ppm") - F.col("o_ppm"))
        ).alias("rel_t"),
        (
            F.col("n_k")
            * (F.col("o_ppm") - F.col("obar_ppm"))
            * (F.col("o_ppm") - F.col("obar_ppm"))
        ).alias("res_t"),
    )
    # the OVER () windows below run on the 10-row bin frame: sanctioned
    rel = F.expr("sum(rel_t) OVER () div max(nn) OVER ()")
    res = F.expr("sum(res_t) OVER () div max(nn) OVER ()")
    unc = F.expr("max(obar_ppm) OVER () * (1000000 - max(obar_ppm) OVER ())")
    return terms.select(
        "bin",
        "n_k",
        "e_k",
        "p_ppm",
        "o_ppm",
        rel.cast("bigint").alias("rel_e12"),
        res.cast("bigint").alias("res_e12"),
        unc.cast("bigint").alias("unc_e12"),
        (rel - res + unc).cast("bigint").alias("brier_e12"),
    )


q_brier_decomposition.__doc__ = (q_brier_decomposition.__doc__ or "").format(
    c=_BRIER_LABEL_CHARS, b=_BRIER_BINS
)
