"""Round-7 catalog tier: production-shape contrastive mining + the
streaming sketch surface's batch twin —

* ``hard_negative_mining_ivf`` — the IVF cell-join variant that
  ``hard_negative_mining``'s docstring promises (VERDICT r6 item 4):
  the brute corpus × broadcast-query crossJoin is replaced by an
  equi-join on IVF cell ids, so the pair fan-out is bounded by
  nprobe × cell population instead of |corpus| × |queries|.  At 100×
  scale the 5% query side outgrows any broadcast; here it never
  broadcasts — queries carry their probed cell ids through a shuffle
  equi-join against the cell-assigned corpus.
* ``hard_negative_recall_audit`` — the mined (pos, neg, margin)
  triples of the IVF variant audited against the brute-exact truth,
  the same measured-recall discipline as ``dedup_eval`` /
  ``ann_ndcg_audit``: agreement counts + integer margin error, so the
  approximation's cost is a recorded number, not a hope.
* ``event_type_distinct_sketch`` — batch twin of the streaming HLL
  state (``streaming/sketches.py``): the SAME
  ``batch_type_sketches``/``sketch_estimates`` code path the
  ``foreachBatch`` sink uses, audited against the exact distinct with
  a boolean error-bound check (the ``hll_distinct_audit`` device —
  estimates are engine-specific, the bound is portable).

Reference parity: beyond-reference embedding / streaming tiers (the
reference, a petl→Postgres importer, has no vector or sketch surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_r6c import _HNM_QUERY_MOD
from .operators import similarity as SIM
from .sources.parquet import read_table, read_table_parallel

# ---------------------------------------------------------------------------
# hard_negative_mining_ivf
# ---------------------------------------------------------------------------

_HNM_CENT_MOD = 100  # vec_id % 100 == 0 → ~n/100 deterministic centroids
_HNM_NPROBE = 2      # cells probed per query (ivf_search's setting)

_DUCK_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


def _hnm_triples_sql(source: str) -> str:
    """Shared tail: (query_id, qlabel, neighbor_id, label, raw) rows in
    ``source`` → one (pos, neg, margin) triple per query — identical
    text to the brute ``hard_negative_mining`` oracle's tail so both
    engines and both variants floor at the same places."""
    return f"""
    ranked AS (
      SELECT query_id, qlabel, neighbor_id, label, raw,
             row_number() OVER (
               PARTITION BY query_id, (label = qlabel)
               ORDER BY raw DESC, neighbor_id) AS rn
      FROM {source}
    )
    SELECT query_id,
           CAST(max(CASE WHEN label = qlabel THEN neighbor_id END)
                AS BIGINT) AS pos_id,
           CAST(max(CASE WHEN label = qlabel
                         THEN CAST(floor(raw * 1e6) AS BIGINT) END)
                AS BIGINT) AS pos_sim_e6,
           CAST(max(CASE WHEN label <> qlabel THEN neighbor_id END)
                AS BIGINT) AS neg_id,
           CAST(max(CASE WHEN label <> qlabel
                         THEN CAST(floor(raw * 1e6) AS BIGINT) END)
                AS BIGINT) AS neg_sim_e6,
           CAST(max(CASE WHEN label = qlabel
                         THEN CAST(floor(raw * 1e6) AS BIGINT) END)
                - max(CASE WHEN label <> qlabel
                           THEN CAST(floor(raw * 1e6) AS BIGINT) END)
                AS BIGINT) AS margin_e6
    FROM ranked WHERE rn = 1
    GROUP BY query_id
    """


def _hnm_ivf_scored_ctes(nprobe_sql: str = str(_HNM_NPROBE)) -> str:
    """DuckDB CTE chain up to the IVF candidate scores: deterministic
    centroids (vec_id % {cent} = 0) → nearest-cell assignment →
    per-query top-{np} probe cells → cell-join candidates.  Same
    cosine association as ``ivf_search``'s oracle.

    ``nprobe_sql`` is the SQL expression bounding the probe rank —
    a literal for the fixed-count variant, or the exact-integer
    ratio form (``(4·nlist + 4) // 5``, nlist via scalar subquery)
    for the doctrine-scaled variant in catalog_r8."""
    cos_ec = _DUCK_COS.format(a="e.embedding", b="c.cvec")
    cos_qc = _DUCK_COS.format(a="q.qvec", b="c.cvec")
    cos_eq = _DUCK_COS.format(a="e.embedding", b="q.qvec")
    return f"""
    cent AS (SELECT vec_id AS cell_id, embedding AS cvec
             FROM embeddings WHERE vec_id % {_HNM_CENT_MOD} = 0),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_ec} DESC, c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) t WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
          FROM embeddings WHERE vec_id % {_HNM_QUERY_MOD} = 0),
    qprobe AS (
      SELECT query_id, cell_id FROM (
        SELECT q.query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {cos_qc} DESC, c.cell_id) AS rn
        FROM q CROSS JOIN cent c
      ) t WHERE rn <= {nprobe_sql}
    ),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
             {cos_eq} AS raw
      FROM q
      JOIN qprobe p ON p.query_id = q.query_id
      JOIN assign a ON a.cell_id = p.cell_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      WHERE e.vec_id <> q.query_id
    )"""


def _hnm_ivf_triples(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = _HNM_NPROBE,
    nprobe_ratio: tuple[int, int] | None = None,
) -> DataFrame:
    """Spark side of the IVF-mined triples (shared by the registered
    query and the recall audit).

    Plan shape, stage by stage:
      1. ``assign_cells`` — map-only packed-broadcast fold tags every
         corpus vector with its nearest cell (zero shuffle).
      2. Query probe cells — the same packed-broadcast device, but a
         sorted slice keeps the top-{np} cells per query instead of the
         argmax; still map-only, then one ``explode`` to {np} rows per
         query.  (-sim, cid) struct sort = sim DESC, cid ASC — IEEE
         negation is exact, so the order matches the oracle's
         row_number tie-break bitwise.
      3. Candidates — shuffle equi-join queries × corpus ON cell_id.
         This is the scale fix over the brute variant: nothing is
         broadcast on the query side, and the per-cell fan-out is
         bounded by the cell population (√n-scaled nlist doctrine,
         PERF.md "Scale probe: IVF nlist-scaling").
      4. Per-(query, same-label) top-1 via window — map-side partial
         top-k then one shuffle keyed on query_id.

    ``nprobe_ratio=(num, den)`` overrides the fixed count with
    nprobe = max(1, ceil(num·nlist/den)) computed as EXACT integer
    arithmetic ``(num·nlist + den − 1) div den`` — the PERF-doctrine
    fix for the fixed-capacity-parameter failure (a constant nprobe
    covers a shrinking fraction as nlist scales √n; a ratio holds the
    scanned fraction, hence the recall, at any corpus size).  Float
    ``ceil(0.8·nlist)`` is deliberately avoided: 0.8·20 =
    16.000000000000004 in IEEE, and ceil would silently read 17 on
    one engine and 16 on another.
    """
    e = read_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % _HNM_CENT_MOD == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    # __enrm: per-vector norm computed once before the candidate join —
    # the pair stage below then pays ONE fold per pair instead of three
    # (r11 round; dot/(na·nb) keeps SIM.cosine's exact operand order,
    # every double bit-identical).
    assigned = SIM.assign_cells(corpus, centroids).select(
        "vec_id", "embedding", "label", "cell_id"
    ).withColumn("__enrm", SIM.norm("embedding"))

    packed = F.broadcast(
        centroids.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cell_id").alias("cid"),
                        F.col("centroid").alias("cvec"),
                    )
                )
            ).alias("__cells")
        )
    )
    queries = e.filter(F.col("vec_id") % _HNM_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.col("label").alias("qlabel"),
        SIM.norm("embedding").alias("__qnrm"),
    )
    qcells = (
        queries.crossJoin(packed)
        .withColumn(
            "__scored",
            F.transform(
                F.col("__cells"),
                lambda c: F.struct(
                    (-SIM.cosine("__qvec", c["cvec"])).alias("negsim"),
                    c["cid"].alias("cid"),
                ),
            ),
        )
        .withColumn(
            "__probe",
            F.slice(
                F.array_sort("__scored"),
                F.lit(1),
                F.lit(nprobe)
                if nprobe_ratio is None
                else F.greatest(
                    F.lit(1),
                    F.expr(
                        f"(size(__scored) * {nprobe_ratio[0]}"
                        f" + {nprobe_ratio[1]} - 1)"
                        f" div {nprobe_ratio[1]}"
                    ),
                ).cast("int"),
            ),
        )
        .select(
            "query_id",
            "__qvec",
            "qlabel",
            "__qnrm",
            F.explode(F.transform("__probe", lambda s: s["cid"])).alias(
                "cell_id"
            ),
        )
    )

    scored = (
        qcells.join(assigned, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            (
                SIM.dot("embedding", "__qvec")
                / (F.col("__enrm") * F.col("__qnrm"))
            ).alias("__raw"),
        )
    )
    w = Window.partitionBy(
        "query_id", F.col("label") == F.col("qlabel")
    ).orderBy(F.col("__raw").desc(), "neighbor_id")
    top = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    sim_e6 = F.floor(F.col("__raw") * 1e6).cast("bigint")
    same = F.col("label") == F.col("qlabel")
    return top.groupBy("query_id").agg(
        F.max(F.when(same, F.col("neighbor_id")))
        .cast("bigint")
        .alias("pos_id"),
        F.max(F.when(same, sim_e6)).cast("bigint").alias("pos_sim_e6"),
        F.max(F.when(~same, F.col("neighbor_id")))
        .cast("bigint")
        .alias("neg_id"),
        F.max(F.when(~same, sim_e6)).cast("bigint").alias("neg_sim_e6"),
        (F.max(F.when(same, sim_e6)) - F.max(F.when(~same, sim_e6)))
        .cast("bigint")
        .alias("margin_e6"),
    )


@query(
    "hard_negative_mining_ivf",
    oracle="WITH " + _hnm_ivf_scored_ctes().strip()
    + ",\n" + _hnm_triples_sql("scored"),
)
def q_hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining, production shape: same (pos, neg,
    margin) triple per query as ``hard_negative_mining``, but the
    candidate set comes from an IVF cell equi-join instead of a brute
    corpus × broadcast-query crossJoin.  Nothing query-sided is
    broadcast (only the bounded centroid table is), so the shape
    survives a query side that outgrows broadcast — the exact failure
    VERDICT r6 flagged in the brute variant at 100× scale.  Candidates
    per query are bounded by nprobe × cell population; with √n-scaled
    nlist (PERF.md "Scale probe: IVF nlist-scaling") that bound is
    ~nprobe·√n.

    DEMO CONFIG — fixed nprobe=2 here measures 0.36/0.38 pos/neg
    agreement vs exact truth (PERF.md r8).  The PRODUCTION default is
    ``hard_negative_mining_ivf_scaled`` (catalog_r8.py), which holds
    nprobe as a RATIO of nlist and measures 0.96/0.96; this fixed-count
    form stays registered as the doctrine's counterexample.

    Misses relative to the exact truth (a true positive/negative living
    outside the probed cells) are the measured subject of
    ``hard_negative_recall_audit`` — approximation with a recorded
    price, not silent degradation.

    Reference parity: beyond-reference embedding tier."""
    return _hnm_ivf_triples(spark, sf_dir)


# ---------------------------------------------------------------------------
# hard_negative_recall_audit
# ---------------------------------------------------------------------------


@query(
    "hard_negative_recall_audit",
    oracle=f"""
    WITH {_hnm_ivf_scored_ctes().strip()},
    ivf AS (
      WITH {_hnm_triples_sql("scored")}
    ),
    bscored AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
             {_DUCK_COS.format(a="e.embedding", b="q.qvec")} AS raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    brute AS (
      WITH {_hnm_triples_sql("bscored").replace("ranked AS", "branked AS").replace("FROM ranked", "FROM branked")}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN i.pos_id IS NOT DISTINCT FROM b.pos_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS pos_agree,
           CAST(sum(CASE WHEN i.neg_id IS NOT DISTINCT FROM b.neg_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS neg_agree,
           CAST(count(i.margin_e6) AS BIGINT) AS n_margin_both,
           CAST(coalesce(sum(abs(i.margin_e6 - b.margin_e6)), 0)
                AS BIGINT) AS sum_abs_margin_err_e6
    FROM brute b JOIN ivf i USING (query_id)
    """,
)
def q_hard_negative_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Measured price of the IVF approximation: the IVF-mined triples
    joined to the brute-exact truth per query — how many positives and
    hard negatives agree exactly (null-safe: a missing side only counts
    as agreement when BOTH variants missed), and the integer sum of
    absolute margin errors where both produced a margin.  The
    ``dedup_eval`` / ``ann_ndcg_audit`` discipline applied to the mined
    training pairs themselves: the curriculum signal (margin) is what
    the fine-tune consumes, so its error is what must be audited.

    Both sides reuse the registered queries' own builders — the audit
    measures the shipped plans, not a reimplementation.

    Reference parity: beyond-reference embedding tier."""
    from .catalog_r6c import q_hard_negative_mining

    brute = q_hard_negative_mining(spark, sf_dir)
    ivf = _hnm_ivf_triples(spark, sf_dir).select(
        "query_id",
        F.col("pos_id").alias("i_pos_id"),
        F.col("neg_id").alias("i_neg_id"),
        F.col("margin_e6").alias("i_margin_e6"),
    )
    j = brute.join(ivf, "query_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(
            F.when(F.col("i_pos_id").eqNullSafe(F.col("pos_id")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("pos_agree"),
        F.sum(
            F.when(F.col("i_neg_id").eqNullSafe(F.col("neg_id")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("neg_agree"),
        F.count(F.col("i_margin_e6")).cast("bigint").alias("n_margin_both"),
        F.coalesce(
            F.sum(F.abs(F.col("i_margin_e6") - F.col("margin_e6"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_abs_margin_err_e6"),
    )


# ---------------------------------------------------------------------------
# event_type_distinct_sketch — batch twin of streaming/sketches.py
# ---------------------------------------------------------------------------


@query(
    "event_type_distinct_sketch",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           true AS est_within_10pct
    FROM events GROUP BY event_type
    """,
)
def q_event_type_distinct_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch twin of the streaming HLL state
    (``streaming/sketches.py``): per-event-type distinct users through
    the SAME ``batch_type_sketches`` → ``sketch_estimates`` code path
    the ``foreachBatch`` sink maintains incrementally — the
    streaming-vs-batch equality test
    (tests/test_streaming.py) proves the two produce
    identical estimates, and this registered twin gives that surface a
    driver CORRECTNESS row.  The estimate is audited as a boolean
    bound (|est − exact| ≤ 10%, >6× the lgK=12 rse of ~1.6%) next to
    the exact count — the ``hll_distinct_audit`` device, because no
    other engine reproduces DataSketches registers bit-for-bit.

    At 100 TB the sketch side is the product (KB of state per group,
    merge-associative, map-side partials); the exact side runs at
    audit scale only.  One shuffle each, both map-side combinable."""
    from .streaming.sketches import batch_type_sketches, sketch_estimates

    ev = read_table(spark, sf_dir, "events")
    est = sketch_estimates(batch_type_sketches(ev))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    rel_err = F.abs(F.col("n_distinct_est") - F.col("exact_distinct")) / F.col(
        "exact_distinct"
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_distinct",
        (rel_err <= 0.10).alias("est_within_10pct"),
    )
