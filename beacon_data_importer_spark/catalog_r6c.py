"""Round-6 catalog tier (c): probabilistic record linkage + targeted
data selection + contrastive pair mining —

* ``fellegi_sunter_em`` — the Fellegi-Sunter record-linkage model fit
  by EM over nation-blocked customer pairs: per-field match/unmatch
  rates (m, u) and match prevalence p estimated from the 8-row
  agreement-pattern table, 3 EM iterations in exact integer ppm.  The
  probabilistic counterpart of the deterministic ER tier (blocking /
  fuzzy pairs / golden records): it LEARNS the field weights the
  deterministic rules hard-code.
* ``dsir_importance_sample`` — Data Selection via Importance
  Resampling (Xie et al. 2023, arXiv:2302.03169): hashed-unigram
  bag-of-words models of a TARGET distribution (lang='en' docs) and
  the RAW pool, per-document log importance weight
  Σ_tokens ln p̂_target(bucket)/p̂_raw(bucket), top-k selection — the
  standard recipe for steering a 100 TB crawl toward a target domain.
  Laplace-smoothed bucket shares in exact ppm; each ln floored to
  micro-units per term (the psi_drift_audit device).
* ``hard_negative_mining`` — contrastive training-pair mining over the
  embeddings table: for each query vector, the nearest SAME-label
  neighbor (positive) and the nearest DIFFERENT-label neighbor (hard
  negative), with the margin between them — the batch job that feeds
  every contrastive/triplet fine-tune.  Broadcast query side, exact
  micro-unit cosine (cosine_topk device).

Reference parity: beyond-reference tiers (the reference has no ER
learning, corpus selection, or embedding surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# fellegi_sunter_em
# ---------------------------------------------------------------------------

_FS_ITERS = 3
#: EM init, ppm: per-field P(agree | match) / P(agree | unmatch), and
#: match prevalence.  Deterministic starting point; both engines run
#: the identical floored updates from it.
_FS_M0 = (900_000, 800_000, 700_000)
_FS_U0 = (300_000, 200_000, 100_000)
_FS_P0 = 50_000


def _fs_sql(dialect: Dialect) -> str:
    """Shared EM chain.  Pattern table: nation-blocked customer pairs
    (a < b) with three agreement bits — same market segment, same
    account-balance sign, same 2-char name suffix — grouped to ≤8 rows.
    Every E-step weight and M-step rate is an exact ppm integer with
    identical floor placement in both engines."""

    def prob(prefix: str, params: str) -> str:
        """Π_k (γ_k ? m_k : 1e6−m_k), floored to ppm stepwise."""
        f1 = f"(CASE WHEN pt.g1 = 1 THEN {params}1 ELSE 1000000 - {params}1 END)"
        f2 = f"(CASE WHEN pt.g2 = 1 THEN {params}2 ELSE 1000000 - {params}2 END)"
        f3 = f"(CASE WHEN pt.g3 = 1 THEN {params}3 ELSE 1000000 - {params}3 END)"
        return (
            f"((CAST({f1} AS {dialect.big}) * {f2} {dialect.div} 1000000)"
            f" * {f3} {dialect.div} 1000000)"
        )

    steps = []
    prev = "params0"
    for i in range(1, _FS_ITERS + 1):
        pm, pu = prob("m", "pp.m"), prob("u", "pp.u")
        steps.append(
            f"""
    w{i} AS (
      SELECT pt.g1, pt.g2, pt.g3, pt.n,
             CAST(CAST(a AS {dialect.big}) * 1000000 {dialect.div} (a + b) AS BIGINT) AS w
      FROM (
        SELECT pt.g1, pt.g2, pt.g3, pt.n,
               CAST(CAST(pp.p AS {dialect.big}) * {pm} {dialect.div} 1000000 AS BIGINT)
                 AS a,
               CAST(CAST(1000000 - pp.p AS {dialect.big}) * {pu} {dialect.div} 1000000
                    AS BIGINT) AS b
        FROM patterns pt CROSS JOIN {prev} pp
      ) pt
    ),
    params{i} AS (
      SELECT
        CAST(sum(CAST(n AS {dialect.big}) * w) * 1000000
             {dialect.div} sum(CAST(n AS {dialect.big}) * 1000000) AS BIGINT) AS p,
        CAST(sum(CASE WHEN g1 = 1 THEN CAST(n AS {dialect.big}) * w ELSE 0 END)
             * 1000000 {dialect.div} sum(CAST(n AS {dialect.big}) * w) AS BIGINT) AS m1,
        CAST(sum(CASE WHEN g2 = 1 THEN CAST(n AS {dialect.big}) * w ELSE 0 END)
             * 1000000 {dialect.div} sum(CAST(n AS {dialect.big}) * w) AS BIGINT) AS m2,
        CAST(sum(CASE WHEN g3 = 1 THEN CAST(n AS {dialect.big}) * w ELSE 0 END)
             * 1000000 {dialect.div} sum(CAST(n AS {dialect.big}) * w) AS BIGINT) AS m3,
        CAST(sum(CASE WHEN g1 = 1 THEN CAST(n AS {dialect.big}) * (1000000 - w)
                      ELSE 0 END) * 1000000
             {dialect.div} sum(CAST(n AS {dialect.big}) * (1000000 - w)) AS BIGINT) AS u1,
        CAST(sum(CASE WHEN g2 = 1 THEN CAST(n AS {dialect.big}) * (1000000 - w)
                      ELSE 0 END) * 1000000
             {dialect.div} sum(CAST(n AS {dialect.big}) * (1000000 - w)) AS BIGINT) AS u2,
        CAST(sum(CASE WHEN g3 = 1 THEN CAST(n AS {dialect.big}) * (1000000 - w)
                      ELSE 0 END) * 1000000
             {dialect.div} sum(CAST(n AS {dialect.big}) * (1000000 - w)) AS BIGINT) AS u3
      FROM w{i}
    )"""
        )
        prev = f"params{i}"
    chain = ",".join(steps)
    pm_f, pu_f = prob("m", "pp.m"), prob("u", "pp.u")
    return f"""
    WITH pairs AS (
      SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
               AS g1,
             CASE WHEN (a.c_acctbal >= 0) = (b.c_acctbal >= 0)
                  THEN 1 ELSE 0 END AS g2,
             CASE WHEN substring(a.c_name, 17, 2)
                       = substring(b.c_name, 17, 2) THEN 1 ELSE 0 END AS g3
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ),
    patterns AS (
      SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY g1, g2, g3
    ),
    params0 AS (
      SELECT CAST({_FS_P0} AS BIGINT) AS p,
             CAST({_FS_M0[0]} AS BIGINT) AS m1,
             CAST({_FS_M0[1]} AS BIGINT) AS m2,
             CAST({_FS_M0[2]} AS BIGINT) AS m3,
             CAST({_FS_U0[0]} AS BIGINT) AS u1,
             CAST({_FS_U0[1]} AS BIGINT) AS u2,
             CAST({_FS_U0[2]} AS BIGINT) AS u3
    ),{chain}
    SELECT pt.g1, pt.g2, pt.g3, pt.n AS n_pairs,
           CAST(CAST(CAST(pp.p AS {dialect.big}) * {pm_f} {dialect.div} 1000000 AS {dialect.big})
                * 1000000
                {dialect.div} (CAST(CAST(pp.p AS {dialect.big}) * {pm_f} {dialect.div} 1000000
                            AS {dialect.big})
                       + CAST(CAST(1000000 - pp.p AS {dialect.big}) * {pu_f}
                              {dialect.div} 1000000 AS {dialect.big}))
                AS BIGINT) AS w_ppm,
           pp.p AS p_ppm,
           pp.m1 AS m1_ppm, pp.m2 AS m2_ppm, pp.m3 AS m3_ppm,
           pp.u1 AS u1_ppm, pp.u2 AS u2_ppm, pp.u3 AS u3_ppm
    FROM patterns pt CROSS JOIN {prev} pp
    """


sql_query(
    "fellegi_sunter_em", _fs_sql, "customer",
    doc="""Fellegi-Sunter probabilistic record linkage fit by EM.

    Nation-blocked customer pairs are reduced to their 3-bit agreement
    pattern (segment / balance-sign / name-suffix) and COUNTED — from
    there the entire EM runs on a ≤8-row pattern table: E-step weight
    w(γ) = p·P(γ|M) / (p·P(γ|M) + (1−p)·P(γ|U)), M-step re-estimates
    (p, m_k, u_k) from pattern-count-weighted sums.  {it} iterations,
    every probability an exact ppm integer with stepwise floors —
    bit-identical across engines (DECIMAL(38,0) ↔ HUGEINT).

    TPC-H plants no true duplicate customers, so the fit is a
    STRUCTURE-DISCOVERY demo on honest data: EM converges to whatever
    latent 2-class split the three fields best support, and the output
    exposes the full parameter trace (final p, m, u per field) next to
    each pattern's match weight — the quantities a production linker
    thresholds on.  Tests re-run the integer EM in pure Python
    (value-exact third engine) and assert direction-aware weight
    monotonicity per field — on this data EM legitimately flips one
    field's sign (m3 < u3: name-suffix agreement argues AGAINST).

    Plan: the ONLY volume-bearing work is the blocked self-join and
    its 8-row aggregate (same bounded-block discipline as the ER tier,
    plans/er.py); the EM chain is constant work on 8 rows.  At 100 TB
    the blocked pair count is the knob (operators/blocking.py's
    cost-based composite keys), not the EM.

    Reference parity: beyond-reference — the reference links records
    by exact key only (contact_id joins, ``sql/calls.sql``).""".format(
        it=_FS_ITERS
    ),
)


# ---------------------------------------------------------------------------
# dsir_importance_sample
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TOPK = 100


def _dsir_hash(dialect: Dialect) -> str:
    if dialect.spark:
        return (
            "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
            f" % {_DSIR_BUCKETS}"
        )
    return (
        "CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)"
        f" % {_DSIR_BUCKETS}"
    )


def _dsir_sql(dialect: Dialect) -> str:
    h = _dsir_hash(dialect)
    split = (
        "explode(split(text, ' ')) AS tok"
        if dialect.spark
        else "unnest(string_split(text, ' ')) AS tok"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {split}
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, lang, source, {h} AS b
      FROM toks WHERE tok <> ''
    ),
    target AS (
      SELECT b, CAST(count(*) AS BIGINT) AS tc
      FROM bucketed WHERE lang = 'en' GROUP BY b
    ),
    raw AS (
      SELECT b, CAST(count(*) AS BIGINT) AS rc
      FROM bucketed GROUP BY b
    ),
    tot AS (
      SELECT (SELECT sum(tc) FROM target) AS tt,
             (SELECT sum(rc) FROM raw) AS rt
    ),
    lr AS (
      SELECT r.b,
             CAST(floor(1e6 * ln(
               CAST((coalesce(t.tc, 0) + 1) * 1000000
                    {dialect.div} (tot.tt + {_DSIR_BUCKETS}) AS DOUBLE)
               / CAST((r.rc + 1) * 1000000
                      {dialect.div} (tot.rt + {_DSIR_BUCKETS}) AS DOUBLE)
             )) AS BIGINT) AS llr_e6
      FROM raw r LEFT JOIN target t ON t.b = r.b CROSS JOIN tot
    ),
    doc_w AS (
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(l.llr_e6) AS BIGINT) AS dsir_w_e6
      FROM bucketed d JOIN lr l ON l.b = d.b
      GROUP BY d.doc_id
    )
    SELECT dw.doc_id, d.lang, d.source, dw.n_tokens, dw.dsir_w_e6
    FROM doc_w dw JOIN documents d ON d.doc_id = dw.doc_id
    ORDER BY dw.dsir_w_e6 DESC, dw.doc_id
    LIMIT {_DSIR_TOPK}
    """


@query(
    "dsir_importance_sample",
    oracle=_dsir_sql(DUCK),
)
def q_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): select raw-pool documents whose hashed-unigram likelihood
    ratio against a TARGET distribution is highest.

    Target = the English subcorpus; features = tokens hashed into
    {b} buckets (portable md5 hash, catalog.py device); both bucket
    distributions Laplace-smoothed to exact ppm; each bucket's
    log-likelihood-ratio ln(p̂_t/p̂_r) floored to micro-units once
    (psi_drift_audit device) so a document's weight is an exact
    integer sum over its tokens.  Top-{k} by weight with doc-id
    tie-break.  This is the standard cheap-proxy pipeline for steering
    a 100 TB crawl toward a target domain before expensive scoring.

    Plan: token explode → two {b}-row hash aggregates (map-side
    combined) → broadcastable {b}-row LLR table joined back — the
    per-token work never shuffles more than the bucket histograms; the
    final TopK is a TakeOrdered, never a global sort.

    Reference parity: beyond-reference corpus tier; the quality-
    classifier relative is ``quality_lr_score`` (catalog_r4), which
    scores against hand-labeled classes — DSIR needs only an example
    corpus of what you WANT."""
    d = read_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_dsir_sql(SPARK))


q_dsir_importance_sample.__doc__ = (
    q_dsir_importance_sample.__doc__ or ""
).format(b=_DSIR_BUCKETS, k=_DSIR_TOPK)


# ---------------------------------------------------------------------------
# hard_negative_mining
# ---------------------------------------------------------------------------

_HNM_QUERY_MOD = 20  # vec_id % 20 == 0 → 5% of vectors are queries


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
      FROM embeddings WHERE vec_id % {_HNM_QUERY_MOD} = 0
    ),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
             list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.qvec::DOUBLE[],
                                      q.qvec::DOUBLE[]))) AS raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, qlabel, neighbor_id, label, raw,
             row_number() OVER (
               PARTITION BY query_id, (label = qlabel)
               ORDER BY raw DESC, neighbor_id) AS rn
      FROM scored
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
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining: for each query vector (5% of the
    corpus), the nearest SAME-label neighbor (positive) and the
    nearest DIFFERENT-label neighbor (hard negative) by cosine, and
    the margin between them — the batch job that builds
    triplet/contrastive fine-tuning sets, and the per-query margin is
    the curriculum signal (small margin = hard example).

    Same distributed shape as ``similarity_topk`` (broadcast query
    side, corpus streamed once, per-(query, same-label) row_number
    keyed on the query — map-side partial top-k, no global sort);
    similarities surface as floor(sim·1e6) micro-units (engine
    round()-rule-proof).  A production run swaps the brute scan for
    the IVF cell join (``ivf_search``) unchanged above this layer.

    Reference parity: beyond-reference embedding tier."""
    from .operators.similarity import dot, norm

    # Per-vector norms are computed ONCE per row before the pair cross
    # join; each pair then pays a single interpreted fold instead of
    # three (r11 optimization round — same rewrite as catalog_r8e's
    # _cos_e6_pre; dot/(na·nb) keeps `cosine`'s exact operand order,
    # so every double is bit-identical).
    # explicit repartition: the local embeddings table is ONE input
    # split (single row group), which would run the Q×N fold CPU below
    # on a single core (r11 round; no-op shape at warehouse scale)
    e = (
        read_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("__enrm", norm("embedding"))
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") % _HNM_QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
            F.col("label").alias("qlabel"),
            F.col("__enrm").alias("__qnrm"),
        )
    )
    raw = dot("embedding", "__qvec") / (F.col("__enrm") * F.col("__qnrm"))
    scored = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            raw.alias("__raw"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(
        "query_id", F.col("label") == F.col("qlabel")
    ).orderBy(F.col("__raw").desc(), "neighbor_id")
    top = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    sim_e6 = F.floor(F.col("__raw") * 1e6).cast("bigint")
    same = F.col("label") == F.col("qlabel")
    return (
        top.groupBy("query_id")
        .agg(
            F.max(F.when(same, F.col("neighbor_id")))
            .cast("bigint")
            .alias("pos_id"),
            F.max(F.when(same, sim_e6)).cast("bigint").alias("pos_sim_e6"),
            F.max(F.when(~same, F.col("neighbor_id")))
            .cast("bigint")
            .alias("neg_id"),
            F.max(F.when(~same, sim_e6)).cast("bigint").alias("neg_sim_e6"),
            (
                F.max(F.when(same, sim_e6)) - F.max(F.when(~same, sim_e6))
            )
            .cast("bigint")
            .alias("margin_e6"),
        )
    )
