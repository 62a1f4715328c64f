"""Round-5i catalog tier: retrieval-quality, model-monitoring, and
optimizer-statistics primitives —

* ``ann_ndcg_audit`` — nDCG@k of the IVF approximate search against
  the exact ranking, with the log-discount table embedded as integer
  LITERALS (no float log at query time): position-aware retrieval
  quality, stricter than the bench's set-overlap recall.
* ``psi_drift_audit`` — Population Stability Index of the order-value
  distribution between two calendar periods (smoothed shares, exact
  ppm, per-term floored ln — the kaplan_meier device): THE standard
  model-monitoring drift score.
* ``equidepth_histogram`` — 16-bucket equi-depth histogram of line
  revenue (boundaries + exact counts) via the distributed
  ``global_ntile`` operator — the statistic a cost-based optimizer
  keeps per column, built without a single-task global sort.

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .operators import similarity as SIM
from .operators.order import global_ntile
from .sources.parquet import read_table, read_table_parallel

# ---------------------------------------------------------------------------
# ann_ndcg_audit
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_NPROBE = 2
#: position → floor(1e9 / log2(pos+1)): the DCG discount as integer
#: literals computed once from the stdlib (both engines consume the
#: same constants — log2 never evaluates at query time).
_NDCG_ILOG: list[tuple[int, int]] = [
    (i, int(math.floor(1e9 / math.log2(i + 1))))
    for i in range(1, _NDCG_K + 1)
]
_NDCG_ILOG_SQL = ", ".join(f"({i}, {v})" for i, v in _NDCG_ILOG)
#: ideal DCG@k with graded relevance rel(r) = k+1-r at exact rank r —
#: a plain integer constant both engines receive
_NDCG_IDCG = sum((_NDCG_K + 1 - i) * v for i, v in _NDCG_ILOG)

_DUCK_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) /"
    " (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) *"
    "  sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "ann_ndcg_audit",
    oracle=f"""
    WITH qv AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
    cent AS (SELECT vec_id AS cell_id, embedding AS cvec
             FROM embeddings WHERE vec_id % 100 = 0),
    truth AS (
      SELECT neighbor_id, {_NDCG_K} + 1 - rn AS rel FROM (
        SELECT e.vec_id AS neighbor_id,
               row_number() OVER (ORDER BY
                 {_DUCK_COS.format(a="e.embedding", b="q.qemb")} DESC,
                 e.vec_id) AS rn
        FROM embeddings e, qv q WHERE e.vec_id != 0
      ) t WHERE rn <= {_NDCG_K}
    ),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            {_DUCK_COS.format(a="e.embedding", b="c.cvec")} DESC,
            c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) t WHERE rn = 1
    ),
    qcells AS (SELECT cell_id FROM (
        SELECT c.cell_id,
          row_number() OVER (ORDER BY
            {_DUCK_COS.format(a="q.qemb", b="c.cvec")} DESC,
            c.cell_id) AS rn
        FROM qv q CROSS JOIN cent c
      ) t WHERE rn <= {_NDCG_NPROBE}
    ),
    approx AS (
      SELECT neighbor_id, rn AS pos FROM (
        SELECT e.vec_id AS neighbor_id,
               row_number() OVER (ORDER BY
                 {_DUCK_COS.format(a="e.embedding", b="q.qemb")} DESC,
                 e.vec_id) AS rn
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        CROSS JOIN qv q
        WHERE a.cell_id IN (SELECT cell_id FROM qcells) AND e.vec_id != 0
      ) t WHERE rn <= {_NDCG_K}
    ),
    gains AS (
      SELECT a.pos, coalesce(t.rel, 0) AS rel, il.ilog_e9
      FROM approx a
      LEFT JOIN truth t ON t.neighbor_id = a.neighbor_id
      JOIN (VALUES {_NDCG_ILOG_SQL}) AS il(pos, ilog_e9)
        ON il.pos = a.pos
    )
    SELECT CAST(sum(rel * ilog_e9) AS BIGINT) AS dcg_units,
           CAST({_NDCG_IDCG} AS BIGINT) AS idcg_units,
           CAST(sum(rel * ilog_e9) * 1000000 // {_NDCG_IDCG} AS BIGINT)
             AS ndcg_ppm,
           CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits
    FROM gains
    """,
)
def q_ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{k} of the IVF approximate search (nprobe={np}, sampled
    centroids — the exact configuration of ``ivf_search``) against the
    exact cosine ranking: graded relevance rel(r) = {k}+1−r at exact
    rank r, DCG = Σ rel(pos)·⌊1e9/log2(pos+1)⌋ over the approximate
    list — POSITION-AWARE quality, which punishes an index that finds
    the right neighbors but in the wrong order (the set-overlap recall
    the bench records cannot see that).

    Every log evaluates at MODULE LOAD into an integer literal table
    both engines consume, and the ideal DCG is a precomputed integer
    constant — the whole audit is integer arithmetic over the two
    rankings (the fdr_bh_audit discipline: quantize the math table,
    never the engines' libm).

    Plan: truth is one broadcast map over the corpus; the approximate
    arm reuses the IVF shape (broadcast centroids → cell assignment →
    semi-join probe of nprobe cells); the gain join runs on {k} rows.
    At 100 TB the audit costs one exact scan — which is exactly what
    an offline index-quality job pays anywhere."""
    e = read_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    # truth: exact ranking (brute force) with graded relevance
    w_exact = Window.orderBy(F.col("__raw").desc(), F.col("neighbor_id"))
    truth = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            SIM.cosine("embedding", "qemb").alias("__raw"),
        )
        .withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= _NDCG_K)
        .select(
            F.col("neighbor_id").alias("t_nid"),
            (F.lit(_NDCG_K) + 1 - F.col("rn")).alias("rel"),
        )
    )
    # approximate arm: the ivf_search shape (sampled centroids, nprobe cells)
    centroids = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    assigned = SIM.assign_cells(corpus, centroids).select(
        "vec_id", "embedding", "cell_id"
    )
    scored_cells = centroids.crossJoin(F.broadcast(qvec)).select(
        "cell_id", SIM.cosine("centroid", "qemb").alias("__s")
    )
    wq = Window.orderBy(F.col("__s").desc(), F.col("cell_id"))
    qcells = (
        scored_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _NDCG_NPROBE)
        .select("cell_id")
    )
    approx = (
        assigned.join(F.broadcast(qcells), "cell_id", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            SIM.cosine("embedding", "qemb").alias("__raw"),
        )
        .withColumn("pos", F.row_number().over(w_exact))
        .filter(F.col("pos") <= _NDCG_K)
        .select("neighbor_id", "pos")
    )
    ilog = spark.createDataFrame(_NDCG_ILOG, "pos int, ilog_e9 bigint")
    gains = (
        approx.join(truth, approx["neighbor_id"] == truth["t_nid"], "left")
        .join(F.broadcast(ilog), "pos")
        .select(F.coalesce(F.col("rel"), F.lit(0)).alias("rel"), "ilog_e9")
    )
    return gains.agg(
        F.sum(F.col("rel") * F.col("ilog_e9"))
        .cast("bigint")
        .alias("dcg_units"),
        F.lit(_NDCG_IDCG).cast("bigint").alias("idcg_units"),
        F.expr(f"sum(rel * ilog_e9) * 1000000 div {_NDCG_IDCG}")
        .cast("bigint")
        .alias("ndcg_ppm"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
    )


q_ann_ndcg_audit.__doc__ = (q_ann_ndcg_audit.__doc__ or "").format(
    k=_NDCG_K, np=_NDCG_NPROBE
)


# ---------------------------------------------------------------------------
# psi_drift_audit
# ---------------------------------------------------------------------------

_PSI_CUTOFF = "1998-01-01"
_PSI_BIN_CENTS = 5_000_000  # 50k-dollar fixed bins
_PSI_MAX_BIN = 10  # bins 0..10 (top bin open-ended)


@query(
    "psi_drift_audit",
    oracle=f"""
    WITH binned AS (
      SELECT least({_PSI_MAX_BIN},
                   CAST(round(o_totalprice * 100) AS BIGINT)
                     // {_PSI_BIN_CENTS}) AS bin,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_CUTOFF}'
                  THEN 1 ELSE 0 END AS pre
      FROM orders
    ),
    counts AS (
      SELECT bin,
             CAST(sum(pre) AS BIGINT) AS n_pre,
             CAST(sum(1 - pre) AS BIGINT) AS n_post
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT sum(n_pre) AS tp, sum(n_post) AS tq,
             count(*) AS nb
      FROM counts
    ),
    shares AS (
      SELECT c.bin, c.n_pre, c.n_post,
             CAST((c.n_pre + 1) * 1000000 // (t.tp + t.nb) AS BIGINT)
               AS p_ppm,
             CAST((c.n_post + 1) * 1000000 // (t.tq + t.nb) AS BIGINT)
               AS q_ppm
      FROM counts c CROSS JOIN tot t
    )
    SELECT bin, n_pre, n_post, p_ppm, q_ppm,
           CAST((p_ppm - q_ppm) * CAST(floor(1e6 * ln(
             CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE)
           )) AS BIGINT) AS BIGINT) AS psi_term_e12,
           CAST(sum((p_ppm - q_ppm) * CAST(floor(1e6 * ln(
             CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE)
           )) AS BIGINT)) OVER () AS BIGINT) AS psi_total_e12
    FROM shares
    """,
)
def q_psi_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX of the order-value distribution
    across a calendar cutoff ({cut}) — the standard model-monitoring
    score (PSI = Σ (p−q)·ln(p/q); rule of thumb: >0.1 investigate,
    >0.25 retrain).  Values bin into fixed {w}-cent-wide buckets
    (top bucket open-ended); shares are LAPLACE-SMOOTHED (+1 per bin)
    so an empty bin contributes a finite term instead of ±∞ — the
    production guard every PSI implementation needs.

    Exactness: smoothed shares are exact integer ppm; each ln runs on
    the bit-identical double ratio of those integers and is floored to
    micro-units PER TERM before the (p−q)-weighted sum (kaplan_meier
    device; term units: ppm × e6 = e12).  The total rides along every
    row via a window over the ≤{nb}-bin frame.

    Plan: one scan → one ≤{nb}-row hash aggregate; everything after is
    constant work.  The numeric-distribution counterpart of
    ``distribution_drift_audit`` (which TVDs the categorical event
    mix)."""
    o = read_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.lit(_PSI_MAX_BIN),
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT)"
                f" div {_PSI_BIN_CENTS}"
            ),
        ).alias("bin"),
        F.when(
            F.col("o_orderdate").cast("date")
            < F.lit(_PSI_CUTOFF).cast("date"),
            1,
        )
        .otherwise(0)
        .alias("pre"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("pre").cast("bigint").alias("n_pre"),
        F.sum(F.lit(1) - F.col("pre")).cast("bigint").alias("n_post"),
    )
    tot = counts.agg(
        F.sum("n_pre").alias("tp"),
        F.sum("n_post").alias("tq"),
        F.count(F.lit(1)).alias("nb"),
    )
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pre",
        "n_post",
        F.expr("(n_pre + 1) * 1000000 div (tp + nb)")
        .cast("bigint")
        .alias("p_ppm"),
        F.expr("(n_post + 1) * 1000000 div (tq + nb)")
        .cast("bigint")
        .alias("q_ppm"),
    )
    term = (
        (F.col("p_ppm") - F.col("q_ppm"))
        * F.floor(
            F.lit(1e6)
            * F.log(
                F.col("p_ppm").cast("double") / F.col("q_ppm").cast("double")
            )
        ).cast("bigint")
    ).cast("bigint")
    w_all = Window.partitionBy()  # ≤11-bin frame: sanctioned
    return shares.select(
        "bin",
        "n_pre",
        "n_post",
        "p_ppm",
        "q_ppm",
        term.alias("psi_term_e12"),
        F.sum(term).over(w_all).cast("bigint").alias("psi_total_e12"),
    )


q_psi_drift_audit.__doc__ = (q_psi_drift_audit.__doc__ or "").format(
    cut=_PSI_CUTOFF, w=_PSI_BIN_CENTS, nb=_PSI_MAX_BIN + 1
)


# ---------------------------------------------------------------------------
# equidepth_histogram
# ---------------------------------------------------------------------------

_EQD_BUCKETS = 16


@query(
    "equidepth_histogram",
    oracle=f"""
    WITH t AS (
      SELECT ntile({_EQD_BUCKETS}) OVER (
               ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                        l_orderkey, l_linenumber
             ) AS bucket,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents
    FROM t GROUP BY bucket
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{n}-bucket EQUI-DEPTH histogram of line revenue — per-bucket
    boundaries and exact counts, the statistic a cost-based optimizer
    keeps per column (equi-depth bounds selectivity error by 1/{n}
    regardless of skew, which equi-WIDTH cannot).

    The bucketing is ``ntile({n})`` over a TOTAL order (cents, then
    orderkey/linenumber tie-breaks) — but computed DISTRIBUTED via
    ``operators/order.global_ntile``: range-repartition + in-partition
    sort + a broadcast per-partition offset table reproduces the exact
    single-task ntile result (including its first-buckets-get-the-
    remainder rule) with no single-task global window anywhere; the
    oracle runs the genuine single-sort ntile, so the equivalence is
    re-proven on every corpus.

    At 100 TB: the range exchange is the same cost ANY global sort
    pays; everything else is map-side.  This is the build path for the
    stats a production ``ANALYZE TABLE`` collects."""
    li = read_table(spark, sf_dir, "lineitem").select(
        cents(F.col("l_extendedprice")).alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    t = global_ntile(
        li, _EQD_BUCKETS, ["cents", "l_orderkey", "l_linenumber"]
    )
    return t.groupBy(F.col("__ntile").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
    )


q_equidepth_histogram.__doc__ = (q_equidepth_histogram.__doc__ or "").format(
    n=_EQD_BUCKETS
)
