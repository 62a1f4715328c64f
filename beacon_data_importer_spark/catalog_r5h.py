"""Round-5h catalog tier: engine-native recursion and hybrid
retrieval —

* ``recursive_bom_rollup`` — the bill-of-materials rollup expressed as
  a TRUE ``WITH RECURSIVE`` CTE (Spark 4 recursive CTEs ↔ DuckDB
  recursive CTEs): the engine iterates the ancestor walk to fixpoint
  instead of the query unrolling a bounded round count.  Twin of the
  closed-form ``bom_rollup`` (catalog_r4) — the two are asserted equal
  row-for-row in tests, cross-validating Spark's newest iteration
  primitive against arithmetic that cannot be wrong.
* ``rrf_hybrid_search`` — Reciprocal-Rank-Fusion hybrid retrieval:
  one user query, two representations (keyword terms → BM25 postings;
  query embedding → cosine), two top-N rankings fused by
  RRF(d) = Σ 1/(60 + rank_d) — the standard RAG retrieval stack
  (lexical + semantic + fusion), with the fusion arithmetic in EXACT
  integers (1e9 // (60 + rank)).

Same parity discipline as catalog.py; extras marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_ext import _docs_parallel
from .catalog_r3c import _BM25_TERMS
from .catalog_r4 import _BOM_FANOUT
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# recursive_bom_rollup
# ---------------------------------------------------------------------------


@query(
    "recursive_bom_rollup",
    oracle=f"""
    WITH RECURSIVE walk(node, v) AS (
      SELECT p_partkey AS node,
             CAST(round(p_retailprice * 100) AS BIGINT) AS v
      FROM part
      UNION ALL
      SELECT node // {_BOM_FANOUT} AS node, v FROM walk WHERE node > 0
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS n_subtree_parts,
           CAST(sum(v) AS BIGINT) AS subtree_value_cents
    FROM walk GROUP BY node HAVING count(*) > 1
    """,
)
def q_recursive_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials rollup via a TRUE recursive CTE — Spark 4's
    ``WITH RECURSIVE`` (each part walks parent = key div {f} up to the
    root, the engine iterating the anchor ∪ step union to fixpoint)
    against DuckDB's native recursive CTE.  Semantically identical to
    ``bom_rollup`` (catalog_r4), which computes the same walk as a
    CLOSED-FORM ancestor array; tests assert the two agree row-for-row
    — engine-native recursion cross-validated by arithmetic.

    When to use which at 100 TB: the closed form wins when depth is a
    known constant (one explode, no iteration); the recursive CTE is
    the general tool when the hierarchy is data-defined (arbitrary
    parent pointers, unknown depth) — exactly the case the closed form
    cannot express.  Here depth ≈ log_{f}(max key) ≈ 6, so each
    recursion step is one narrow projection of the frontier; the
    rollup groupBy is the only exchange that carries volume.

    Reference parity: the reference's SQL dialect (Postgres) offers
    WITH RECURSIVE but the reference never uses it; this demonstrates
    the surface Spark 4 newly covers (SPARK-24497)."""
    part = read_table(spark, sf_dir, "part")
    part.select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("v"),
    ).createOrReplaceTempView("__r5h_bom_base")
    return spark.sql(
        f"""
        WITH RECURSIVE walk(node, v) AS (
          SELECT node, v FROM __r5h_bom_base
          UNION ALL
          SELECT node div {_BOM_FANOUT} AS node, v FROM walk WHERE node > 0
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(count(*) AS BIGINT) AS n_subtree_parts,
               CAST(sum(v) AS BIGINT) AS subtree_value_cents
        FROM walk GROUP BY node HAVING count(*) > 1
        """
    )


q_recursive_bom_rollup.__doc__ = (q_recursive_bom_rollup.__doc__ or "").format(
    f=_BOM_FANOUT
)


# ---------------------------------------------------------------------------
# rrf_hybrid_search
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF smoothing constant
_RRF_LIST_N = 50  # per-arm candidate list depth
_RRF_TOPK = 10
_RRF_QVEC = 0  # the stored embedding standing in for the query's


def _rrf_duck_bm25_ranked() -> str:
    # same scoring pipeline as bm25_search (catalog_r3c) — rational idf,
    # IEEE-exact ops — with a rank window appended
    return f"""
    toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk,
             len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n
      FROM documents WHERE trim(text) <> ''
    ),
    stats AS MATERIALIZED (SELECT count(*) AS nd, sum(n) AS s FROM toks),
    post AS MATERIALIZED (
      SELECT t.doc_id, u.tok, count(*) AS tf, max(t.n) AS dl
      FROM toks t, unnest(t.tk) AS u(tok)
      WHERE u.tok IN ({", ".join(repr(t) for t in _BM25_TERMS)})
      GROUP BY t.doc_id, u.tok
    ),
    dfreq AS MATERIALIZED (
      SELECT tok, count(*) AS df FROM post GROUP BY tok
    ),
    lex_contrib AS (
      SELECT p.doc_id,
        CAST(floor(
          ((CAST(s.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 5e-1)
             / (CAST(d.df AS DOUBLE) + 5e-1))
          * ((CAST(p.tf AS DOUBLE) * 2.2)
             / (CAST(p.tf AS DOUBLE)
                + 1.2 * (2.5e-1
                    + (7.5e-1 * CAST(p.dl AS DOUBLE))
                      / (CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)))))
          * 1e6) AS BIGINT) AS contrib_e6
      FROM post p JOIN dfreq d ON d.tok = p.tok CROSS JOIN stats s
    ),
    lex_scored AS (
      SELECT doc_id, CAST(sum(contrib_e6) AS BIGINT) AS lex_e6
      FROM lex_contrib GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY lex_e6 DESC, doc_id)
               AS lex_rank
      FROM lex_scored
      QUALIFY lex_rank <= {_RRF_LIST_N}
    )"""


@query(
    "rrf_hybrid_search",
    oracle=f"""
    WITH {_rrf_duck_bm25_ranked()},
    q AS (SELECT embedding AS qvec FROM embeddings
          WHERE vec_id = {_RRF_QVEC}),
    sem AS (
      SELECT neighbor_id AS doc_id,
             row_number() OVER (ORDER BY raw DESC, neighbor_id) AS sem_rank
      FROM (
        SELECT e.vec_id AS neighbor_id,
          list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[])))
            AS raw
        FROM embeddings e, q
        WHERE e.vec_id != {_RRF_QVEC}
      ) s
      QUALIFY sem_rank <= {_RRF_LIST_N}
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             coalesce(1000000000 // ({_RRF_K} + l.lex_rank), 0)
               + coalesce(1000000000 // ({_RRF_K} + s.sem_rank), 0)
               AS rrf_e9
      FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           CAST(rrf_e9 AS BIGINT) AS rrf_e9
    FROM fused
    ORDER BY rrf_e9 DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL with Reciprocal-Rank Fusion — the standard RAG
    stack: ONE user query in two representations (keyword terms
    {terms} → a BM25 lexical ranking over the posting index; the
    query's embedding, stored as vec {qv} — excluded from its own
    candidate list — → an exact-cosine semantic ranking), each arm
    truncated to its top-{n}, then fused per document as
    RRF = Σ_arms 1e9 // ({k} + rank) — a document missing from an
    arm's list contributes nothing (the full-outer union of the two
    lists is the candidate universe, standard RRF over truncated
    runs).  The corpus is only PARTIALLY embedded (embeddings cover a
    prefix of the doc-id space) — exactly the production situation
    hybrid search exists for: lexical recall where vectors are
    missing, semantic recall where wording differs.

    Exactness: both arms' scores are the established bit-identical
    pipelines (BM25's rational idf over IEEE-exact ops; the float-dot
    cosine); RANKS are integers, and the fusion is pure integer floor
    division — so the fused ordering carries no new float surface at
    all.

    Plan: the BM25 arm filters postings to the query terms BEFORE its
    exchange; the semantic arm is one broadcast map over embeddings;
    fusion joins two ≤{n}-row frames.  At 100 TB each arm is its
    catalog query's plan; fusion cost is constant."""
    # --- lexical arm: bm25 pipeline (catalog_r3c device) + rank ---
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toked = d.select("doc_id", _tokens("text").alias("__toks")).select(
        "doc_id", "__toks", _ntoks(F.col("__toks")).alias("__n")
    )
    stats = toked.agg(F.count(F.lit(1)).alias("nd"), F.sum("__n").alias("s"))
    post = (
        toked.select("doc_id", "__n", F.explode("__toks").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("__n").alias("dl"))
    )
    dfreq = post.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = F.col("nd").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("s").cast("double") / nd
    idf = (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    denom = tfd + F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * dld) / avgdl)
    contrib = F.floor(idf * ((tfd * F.lit(2.2)) / denom) * F.lit(1e6)).cast(
        "bigint"
    )
    lex_scored = (
        post.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("contrib_e6"))
        .groupBy("doc_id")
        .agg(F.sum("contrib_e6").cast("bigint").alias("lex_e6"))
    )
    w_lex = Window.orderBy(F.col("lex_e6").desc(), F.col("doc_id"))
    lex = (
        lex_scored.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= _RRF_LIST_N)
        .select("doc_id", "lex_rank")
    )

    # --- semantic arm: exact cosine vs the stored query vector ---
    from .operators.similarity import cosine

    e = read_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == _RRF_QVEC).select(
            F.col("embedding").alias("__qvec")
        )
    )
    raw = cosine("embedding", "__qvec")
    w_sem = Window.orderBy(F.col("__raw").desc(), F.col("doc_id"))
    sem = (
        e.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("doc_id"), raw.alias("__raw"))
        .withColumn("sem_rank", F.row_number().over(w_sem))
        .filter(F.col("sem_rank") <= _RRF_LIST_N)
        .select("doc_id", "sem_rank")
    )

    # --- fusion: exact integer RRF over the union of the two lists ---
    fused = lex.join(sem, "doc_id", "full_outer").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        (
            F.coalesce(
                F.expr(f"1000000000 div ({_RRF_K} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000 div ({_RRF_K} + sem_rank)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_e9"),
    )
    return fused.orderBy(F.col("rrf_e9").desc(), "doc_id").limit(_RRF_TOPK)


q_rrf_hybrid_search.__doc__ = (q_rrf_hybrid_search.__doc__ or "").format(
    terms="/".join(_BM25_TERMS), qv=_RRF_QVEC, n=_RRF_LIST_N, k=_RRF_K
)
