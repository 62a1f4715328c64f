"""Round-5g catalog tier: embedding-truncation quality, item-item
collaborative filtering, and causal difference-in-differences —

* ``matryoshka_recall_audit`` — top-k recall of PREFIX-truncated
  embeddings (dims 8/16/32) against the full-dimension exact top-k:
  the evaluation behind Matryoshka-representation serving (store one
  64-d vector, search the first d dims at d/64 of the cost — this
  audit measures what that truncation loses on THIS corpus).
* ``item_item_cf_topk`` — item-item collaborative filtering: cosine
  over basket co-occurrence counts, top-5 neighbors per item — the
  classic Amazon-style recommender primitive, computed without a
  user-item matrix materialization.
* ``did_estimate`` — difference-in-differences treatment-effect
  estimate over a hash-assigned treatment and a calendar cutoff, with
  an earlier-cutoff PLACEBO arm in the same output (the standard
  falsification check).

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .operators import similarity as SIM
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# matryoshka_recall_audit
# ---------------------------------------------------------------------------

_MRL_DIMS = [8, 16, 32, 64]  # 64 = full width (recall 1.0 by construction)
_MRL_FULL = 64
_MRL_K = 10
_MRL_QUERIES = (0, 1, 2, 3, 4)


def _mrl_duck_topk(d: int) -> str:
    vec = f"(e.embedding[1:{d}])::DOUBLE[]"
    qvec = f"(q.qvec[1:{d}])::DOUBLE[]"
    return f"""
      SELECT {d} AS dim, query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY raw DESC, neighbor_id) AS rn
        FROM (
          SELECT q.query_id, e.vec_id AS neighbor_id,
            list_dot_product({vec}, {qvec}) /
              (sqrt(list_dot_product({vec}, {vec})) *
               sqrt(list_dot_product({qvec}, {qvec}))) AS raw
          FROM embeddings e, q
          WHERE e.vec_id != q.query_id
        ) s
      ) t WHERE rn <= {_MRL_K}"""


@query(
    "matryoshka_recall_audit",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings
               WHERE vec_id IN {_MRL_QUERIES}),
    topk AS ({" UNION ALL ".join(_mrl_duck_topk(d) for d in _MRL_DIMS)}),
    truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = {_MRL_FULL})
    SELECT t.dim, t.query_id,
           CAST(count(tr.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(tr.neighbor_id) * 1000000 // {_MRL_K} AS BIGINT)
             AS recall_ppm
    FROM topk t LEFT JOIN truth tr
      ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
    GROUP BY t.dim, t.query_id
    """,
)
def q_matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA-TRUNCATION quality audit: exact cosine top-{k} is
    computed at prefix dimensions {dims} and each truncated result's
    RECALL against the full-width ({full}-d) exact top-{k} is reported
    per query — the measurement that decides whether a
    Matryoshka-trained embedding can be served at d dims for d/{full}
    of the scan cost (store once, search short; re-rank survivors at
    full width).  The {full}-d row is its own truth (recall 1.0) — the
    audit's internal anchor.

    Every per-dim search is the brute-force exact baseline
    (``operators/similarity.cosine_topk``: queries broadcast, corpus
    streamed once, per-query ranked window with id tie-break), so the
    recall numbers measure the TRUNCATION loss alone, never index
    approximation.  Recall is an integer ppm ratio of set overlap —
    the only floats are the established bit-identical cosine scores.

    Plan: {n_dims} corpus scans (one per dim — each a map-only
    broadcast cross with a per-query top-k window on query_id); the
    overlap join runs on {n_dims}·|queries|·{k} rows.  At 100 TB the
    short-dim scans are the cheap ones by construction — exactly the
    production argument for MRL."""
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(*_MRL_QUERIES))
    per_dim = []
    for d in _MRL_DIMS:
        sliced = e.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        sliced_q = queries.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        per_dim.append(
            SIM.cosine_topk(sliced, sliced_q, k=_MRL_K)
            .select("query_id", "neighbor_id")
            .withColumn("dim", F.lit(d))
        )
    topk = per_dim[0]
    for fr in per_dim[1:]:
        topk = topk.unionByName(fr)
    truth = topk.filter(F.col("dim") == _MRL_FULL).select(
        F.col("query_id").alias("t_qid"),
        F.col("neighbor_id").alias("t_nid"),
    )
    return (
        topk.join(
            truth,
            (topk["query_id"] == truth["t_qid"])
            & (topk["neighbor_id"] == truth["t_nid"]),
            "left",
        )
        .groupBy("dim", "query_id")
        .agg(
            F.count("t_nid").cast("bigint").alias("n_overlap"),
            F.expr(f"count(t_nid) * 1000000 div {_MRL_K}")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


q_matryoshka_recall_audit.__doc__ = (
    q_matryoshka_recall_audit.__doc__ or ""
).format(
    k=_MRL_K,
    dims=[d for d in _MRL_DIMS if d != _MRL_FULL],
    full=_MRL_FULL,
    n_dims=len(_MRL_DIMS),
)


# ---------------------------------------------------------------------------
# item_item_cf_topk
# ---------------------------------------------------------------------------

_CF_MIN_CO = 2
_CF_K = 5
# Baskets wider than this are excluded entirely (pair AND popularity
# stages, keeping the cosine denominator consistent with the numerator
# corpus): one planted W=20k basket measured
# 449 s vs the corpus's 5.6 s (PERF.md item-item CF probe — W²/2 pairs out
# of a single row group, skew no partitioning fixes).  64 is far above
# this corpus's max width, so locally the cap is a no-op — it exists
# for the 100 TB case where one bot cart would otherwise own the job.
_CF_MAX_WIDTH = 64


@query(
    "item_item_cf_topk",
    oracle=f"""
    WITH it0 AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    it AS MATERIALIZED (
      SELECT i.o, i.p FROM it0 i
      JOIN (SELECT o FROM it0 GROUP BY o
            HAVING count(*) <= {_CF_MAX_WIDTH}) ok ON ok.o = i.o
    ),
    pop AS MATERIALIZED (
      SELECT p, CAST(count(*) AS BIGINT) AS n FROM it GROUP BY p
    ),
    co AS MATERIALIZED (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS c
      FROM it x JOIN it y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p
      HAVING count(*) >= {_CF_MIN_CO}
    ),
    sym AS (
      SELECT a, b, c FROM co UNION ALL SELECT b AS a, a AS b, c FROM co
    ),
    scored AS (
      SELECT s.a AS item, s.b AS neighbor, s.c AS n_co,
             CAST(s.c AS DOUBLE)
               / sqrt(CAST(pa.n * pb.n AS DOUBLE)) AS raw
      FROM sym s
      JOIN pop pa ON pa.p = s.a
      JOIN pop pb ON pb.p = s.b
    )
    SELECT item, neighbor, n_co,
           CAST(floor(raw * 1e6) AS BIGINT) AS cosine_e6
    FROM (
      SELECT item, neighbor, n_co, raw,
             row_number() OVER (PARTITION BY item
                                ORDER BY raw DESC, neighbor) AS rn
      FROM scored
    ) t WHERE rn <= {_CF_K}
    """,
)
def q_item_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM COLLABORATIVE FILTERING: for every part, its top-{k}
    most-similar parts by basket-cooccurrence cosine
    c(a,b) / √(n(a)·n(b)) — the recommender primitive ("customers who
    bought this also bought") computed directly from the order log,
    never materializing a user×item matrix.

    The pair expansion is per-BASKET (orders average a handful of
    distinct parts, so per-order pairs are a small constant — this is
    the bounded analogue of the co-purchase projection, keyed on
    orderkey instead of partkey) and co-occurrence below {min_co} is
    pruned before any scoring.  Popularity joins are aggregates over
    the same distinct item-set.  Cosine = exact integer count over one
    correctly-rounded sqrt·divide — bit-identical cross-engine; the
    per-item ranking window shuffles on item with id tie-break.

    At 100 TB: work is baskets × width², linear in rows for bounded
    width — measured flat-or-better rows/sec at 8× basket
    amplification, while ONE planted 20k-part mega-basket cost 80×
    the whole corpus (PERF.md item-item CF probe) — hence the
    ``_CF_MAX_WIDTH`` cap, a no-op on this corpus and the documented
    bot-cart guard at scale (same doctrine as the LSH ``max_bucket``).

    Reference parity: beyond-reference analytics; the J2 multi-valued
    lookup is the degenerate one-basket case."""
    li = read_table(spark, sf_dir, "lineitem")
    it0 = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    # Width cap as a COUNT window over an explicitly basket-partitioned
    # frame instead of aggregate+self-join (r11 round, guide §2.1): one
    # explicit hash(o) exchange feeds the cap filter AND co-partitions
    # both sides of the pair self-join below, which then needs no
    # exchange at all; the explicit count also keeps the per-basket
    # pair expansion parallel where AQE would coalesce the small
    # shuffle to one task.  Same rows kept, same pairs generated.
    it = (
        it0.repartition(spark.sparkContext.defaultParallelism, "o")
        .withColumn(
            "__w", F.count(F.lit(1)).over(Window.partitionBy("o"))
        )
        .filter(F.col("__w") <= _CF_MAX_WIDTH)  # see _CF_MAX_WIDTH
        .drop("__w")
    )
    pop = it.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    x = it.select("o", F.col("p").alias("a"))
    y = it.select(F.col("o").alias("o_r"), F.col("p").alias("b"))
    co = (
        x.join(y, (F.col("o") == F.col("o_r")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= _CF_MIN_CO)
    )
    sym = co.unionByName(
        co.select(F.col("b").alias("a"), F.col("a").alias("b"), "c")
    )
    pa = pop.select(F.col("p").alias("a"), F.col("n").alias("na"))
    pb = pop.select(F.col("p").alias("b"), F.col("n").alias("nb"))
    raw = F.col("c").cast("double") / F.sqrt(
        (F.col("na") * F.col("nb")).cast("double")
    )
    scored = (
        sym.join(pa, "a")
        .join(pb, "b")
        .select(
            F.col("a").alias("item"),
            F.col("b").alias("neighbor"),
            F.col("c").alias("n_co"),
            raw.alias("__raw"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("__raw").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _CF_K)
        .select(
            "item",
            "neighbor",
            "n_co",
            F.floor(F.col("__raw") * 1e6).cast("bigint").alias("cosine_e6"),
        )
    )


q_item_item_cf_topk.__doc__ = (q_item_item_cf_topk.__doc__ or "").format(
    k=_CF_K, min_co=_CF_MIN_CO
)


# ---------------------------------------------------------------------------
# did_estimate
# ---------------------------------------------------------------------------

#: (scenario, cutoff) — the placebo re-runs the design with a cutoff
#: two years earlier; a "significant" placebo effect falsifies the
#: parallel-trends assumption behind the actual estimate.
_DID_SCENARIOS: list[tuple[str, str]] = [
    ("actual", "1999-01-01"),
    ("placebo", "1997-01-01"),
]


def _did_sql(scenario: str, cutoff: str) -> str:
    return f"""
      SELECT '{scenario}' AS scenario,
             DATE '{cutoff}' AS cutoff,
             CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c_pre,
             CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_c_post,
             CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t_pre,
             CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_t_post,
             CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0 END)
                  * 1000
                  // sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_c_pre_mc,
             CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0 END)
                  * 1000
                  // sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_c_post_mc,
             CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0 END)
                  * 1000
                  // sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_t_pre_mc,
             CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0 END)
                  * 1000
                  // sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m_t_post_mc
      FROM (
        SELECT o_custkey % 2 AS treat,
               CASE WHEN CAST(o_orderdate AS DATE) >= DATE '{cutoff}'
                    THEN 1 ELSE 0 END AS post,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      )
    """


@query(
    "did_estimate",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(_did_sql(s, c) for s, c in _DID_SCENARIOS)}
    )
    SELECT scenario, cutoff, n_c_pre, n_c_post, n_t_pre, n_t_post,
           m_c_pre_mc, m_c_post_mc, m_t_pre_mc, m_t_post_mc,
           CAST((m_t_post_mc - m_t_pre_mc) - (m_c_post_mc - m_c_pre_mc)
                AS BIGINT) AS did_mc
    FROM cells
    """,
)
def q_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES treatment-effect estimate of order
    value: treatment = odd custkey (the deterministic hash arm the
    experimentation tier uses), pre/post = a calendar cutoff, outcome
    = order total in cents.  DiD = (ΔT) − (ΔC) cancels both the fixed
    group difference and the common time trend — the workhorse causal
    design when randomization is per-entity but exposure is a launch
    date.  The second output row re-runs the design with the cutoff
    two years EARLIER (a placebo): a nonzero placebo DiD of comparable
    size falsifies the parallel-trends assumption the actual estimate
    leans on — shipping the falsification with the estimate is the
    audit discipline.

    Exactness: cell means are milli-cent floor divisions of exact cent
    sums over exact counts (non-negative operands), and the DiD is
    integer subtraction of those — no IEEE op anywhere.

    Plan: ONE pass over orders per scenario — a single conditional
    aggregation (map-side combined, no shuffle wider than 10 columns ×
    1 row); the 2×2 design never materializes per-cell frames.  At
    100 TB this is the cheapest causal query in the catalog."""
    o = read_table(spark, sf_dir, "orders")
    rows = []
    for scenario, cutoff in _DID_SCENARIOS:
        base = o.select(
            (F.col("o_custkey") % 2).alias("treat"),
            F.when(
                F.col("o_orderdate").cast("date")
                >= F.lit(cutoff).cast("date"),
                1,
            )
            .otherwise(0)
            .alias("post"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )

        def n_of(t: int, p: int) -> F.Column:
            return F.sum(
                F.when((F.col("treat") == t) & (F.col("post") == p), 1)
                .otherwise(0)
            ).cast("bigint")

        def mean_mc(t: int, p: int) -> str:
            cond = f"treat = {t} AND post = {p}"
            return (
                f"sum(CASE WHEN {cond} THEN cents ELSE 0 END) * 1000"
                f" div sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"
            )

        cell = base.agg(
            n_of(0, 0).alias("n_c_pre"),
            n_of(0, 1).alias("n_c_post"),
            n_of(1, 0).alias("n_t_pre"),
            n_of(1, 1).alias("n_t_post"),
            F.expr(mean_mc(0, 0)).cast("bigint").alias("m_c_pre_mc"),
            F.expr(mean_mc(0, 1)).cast("bigint").alias("m_c_post_mc"),
            F.expr(mean_mc(1, 0)).cast("bigint").alias("m_t_pre_mc"),
            F.expr(mean_mc(1, 1)).cast("bigint").alias("m_t_post_mc"),
        ).select(
            F.lit(scenario).alias("scenario"),
            F.lit(cutoff).cast("date").alias("cutoff"),
            "n_c_pre",
            "n_c_post",
            "n_t_pre",
            "n_t_post",
            "m_c_pre_mc",
            "m_c_post_mc",
            "m_t_pre_mc",
            "m_t_post_mc",
            (
                (F.col("m_t_post_mc") - F.col("m_t_pre_mc"))
                - (F.col("m_c_post_mc") - F.col("m_c_pre_mc"))
            )
            .cast("bigint")
            .alias("did_mc"),
        )
        rows.append(cell)
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out
