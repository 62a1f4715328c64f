"""Round-3 catalog, part C: the session-C breadth tiers.

Five capability families the earlier tiers did not cover, all under
the same oracle discipline (every query has a DuckDB twin; every
float-bearing score is either exact-integer arithmetic or an IEEE
expression tree identical on both engines):

  * corpus ops — passage_dedup (ExactSubstr at window boundaries),
    bm25_search (inverted-index retrieval), feature_hashing,
    dedup_eval (measured LSH precision/recall vs exact truth),
    dataset_split_grouped (leakage-safe), temperature_mixture_sample.
  * event analytics — cohort_retention, cohort_ltv, event_transitions,
    event_paths, event_debounce, conversion_hazard (right-censored
    survival), funnel-adjacent A/B ab_test_ztest, forward_fill_events,
    resample_interpolate, impute_group_mean.
  * graph — pagerank_parts (integer damped rank), triangle_count
    (sparse co-purchase projection), bfs_hops (min-plus rounds).
  * warehouse/BI — data_quality_report (Deequ-shape expectations),
    snapshot_diff (batch CDC), dim_date, region_share, wow_growth,
    ship_latency_histogram, rfm_segments, source_top_terms,
    token_cooccurrence, pareto_frontier, skew_report,
    skew_salted_join.
  * robust statistics — robust_outliers (MAD), winsorized_mean,
    quantile_normalize.

Original queries detailed below:

  * passage_dedup — EXACT SUBSTRING dedup at passage granularity
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", §3 ExactSubstr; approximated at fixed word-window
    boundaries the way CCNet/C4 dedup at line/paragraph boundaries).
    Document-level dedup (dedup_exact / minhash_near_dup) drops whole
    documents; this removes REPEATED SPANS from otherwise-unique
    documents and reconstructs the cleaned text — the stage that
    catches boilerplate/quoted-chunk repetition inside kept docs.
  * bm25_search — keyword retrieval over a relational inverted index:
    tokenize → postings (doc, term, tf) → document frequencies → BM25
    score → top-k.  The standard corpus-inspection query ("which docs
    match these probe terms") expressed as DataFrame ops; the postings
    build is the classic search-engine shape.
  * cohort_retention / event_transitions — the two standard
    event-analytics reports (retention triangle, first-order Markov
    transition matrix) over the events stream.
  * source_top_terms — class-based TF-IDF "characteristic terms" per
    source, all-integer scoring.
  * pagerank_parts — link-analysis centrality over the part↔supplier
    bipartite graph, in exact e6-scaled integer arithmetic so the
    oracle replays the iterations as chained CTEs.

Queries outside ``catalog.DRIVER_SLOTS`` are checked by the local
type-sensitive gate (tools/check_oracle.py via
tests/test_extra_queries.py) against the DuckDB oracles below.

Cross-engine determinism notes (module conventions, catalog.py):
  * BM25 uses the RATIONAL idf variant (N - df + 0.5)/(df + 0.5) —
    no ln() anywhere, because IEEE 754 specifies +,-,*,/ exactly but
    leaves log() rounding implementation-defined, so a log-based score
    could differ in the last ulp between engines and flip a floor().
    With identical double expression trees on both sides the score
    bits match exactly and floor(x*1e6) micro-units are stable.
  * avgdl is CAST(sum_tokens AS DOUBLE)/CAST(n_docs AS DOUBLE) — a
    division of two EXACT integers, not a double mean (double
    summation order differs between engines).
  * numeric literals in the oracle are written in e-notation (5e-1,
    2.2e0, ...) because a bare 0.5 is DECIMAL in DuckDB and would pull
    the whole expression into decimal arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_ext import _docs_parallel
from .operators.pairgen import posting_pair_counts
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# passage_dedup
# ---------------------------------------------------------------------------

_PASSAGE_W = 8  # words per passage (non-overlapping windows)

_DUCK_PASSAGES = f"""
    toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk,
             len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n
      FROM documents WHERE trim(text) <> ''
    ),
    pas AS (
      SELECT doc_id, unnest(range(0, n, {_PASSAGE_W})) AS st, tk, n
      FROM toks
    ),
    ph AS (
      SELECT doc_id, st,
             array_to_string(tk[st + 1 : least(st + {_PASSAGE_W}, n)], ' ')
               AS ptxt
      FROM pas
    )
"""


@query(
    "passage_dedup",
    oracle=f"""
    WITH {_DUCK_PASSAGES},
    mk AS MATERIALIZED (
      SELECT doc_id, st, ptxt,
             row_number() OVER (PARTITION BY md5(ptxt)
                                ORDER BY doc_id, st) AS rn
      FROM ph
    )
    SELECT doc_id,
           coalesce(string_agg(ptxt, ' ' ORDER BY st)
                      FILTER (WHERE rn = 1), '') AS clean_text,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_passages,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS removed_passages
    FROM mk GROUP BY doc_id
    """,
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level dedup with text reconstruction: split every
    document into non-overlapping {w}-word passages, keep only the
    globally FIRST occurrence of each distinct passage (order = doc_id,
    then position), and rebuild each document's text from its surviving
    passages.  A fully-duplicated document comes back with empty
    ``clean_text`` — subsuming exact doc-dedup — while partially-copied
    documents keep their unique spans (the span-granular stage of
    Lee et al. 2022's ExactSubstr, at window boundaries).

    Plan: map-only tokenize/window/hash, ONE shuffle on the passage
    hash (window rank picks the first copy; the key is md5 of the
    passage so cardinality ~ distinct passages — high, no skew beyond
    true boilerplate, which AQE skew-join handling splits), one shuffle
    back on doc_id to reassemble (collect_list bounded by document
    size, never corpus-sized).  At 100 TB both exchanges carry one row
    per passage — corpus tokens / {w} — with no quadratic term
    anywhere."""
    from .operators.dedup import passage_dedup

    d = _docs_parallel(spark, sf_dir)
    return passage_dedup(d, "text", "doc_id", window=_PASSAGE_W).select(
        F.col("id").alias("doc_id"),
        "clean_text",
        "kept_passages",
        "removed_passages",
    )


q_passage_dedup.__doc__ = (q_passage_dedup.__doc__ or "").format(w=_PASSAGE_W)


# ---------------------------------------------------------------------------
# bm25_search
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "hash", "window")
_BM25_K1 = "1.2e0"
_BM25_K1P1 = "2.2e0"  # k1 + 1
_BM25_1MB = "2.5e-1"  # 1 - b  (b = 0.75)
_BM25_B = "7.5e-1"
_BM25_TOPK = 10


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS MATERIALIZED (
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
    scored AS (
      SELECT p.doc_id,
        CAST(floor(
          ((CAST(s.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 5e-1)
             / (CAST(d.df AS DOUBLE) + 5e-1))
          * ((CAST(p.tf AS DOUBLE) * {_BM25_K1P1})
             / (CAST(p.tf AS DOUBLE)
                + {_BM25_K1} * ({_BM25_1MB}
                    + ({_BM25_B} * CAST(p.dl AS DOUBLE))
                      / (CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)))))
          * 1e6) AS BIGINT) AS contrib_e6
      FROM post p JOIN dfreq d ON d.tok = p.tok CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(contrib_e6) AS BIGINT) AS score_e6,
           CAST(count(*) AS BIGINT) AS terms_matched
    FROM scored GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (probe terms {terms}, k1=1.2, b=0.75,
    top-{k}) over a relational inverted index: explode tokens, keep
    only postings for the query terms (the filter lands BEFORE any
    shuffle, so the exchange carries matching postings only — at 100 TB
    that's ~docs-containing-a-term rows, not corpus tokens), aggregate
    (doc, term) → tf, broadcast the |terms|-row document-frequency
    table and the 1-row corpus stats, score per posting, sum per doc,
    TakeOrdered top-k.

    idf is the RATIONAL variant (N - df + 0.5)/(df + 0.5) — monotone in
    the classic log idf, so the RANKING is BM25's, while the arithmetic
    stays in IEEE-exact +,-,*,/ for bit-identical cross-engine floors
    (module docstring).  avgdl = exact-int token sum / exact-int doc
    count for the same reason."""
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toked = d.select(
        "doc_id", _tokens("text").alias("__toks")
    ).select("doc_id", "__toks", _ntoks(F.col("__toks")).alias("__n"))
    stats = toked.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("__n").alias("s")
    )
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
    denom = tfd + F.lit(1.2) * (
        F.lit(0.25) + (F.lit(0.75) * dld) / avgdl
    )
    contrib = F.floor(idf * ((tfd * F.lit(2.2)) / denom) * F.lit(1e6)).cast(
        "bigint"
    )
    scored = (
        post.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("contrib_e6"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("contrib_e6").cast("bigint").alias("score_e6"),
            F.count(F.lit(1)).cast("bigint").alias("terms_matched"),
        )
        .orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


q_bm25_search.__doc__ = (q_bm25_search.__doc__ or "").format(terms="/".join(_BM25_TERMS), k=_BM25_TOPK)


# ---------------------------------------------------------------------------
# cohort_retention
# ---------------------------------------------------------------------------


@query(
    "cohort_retention",
    oracle="""
    WITH weeks AS MATERIALIZED (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    cohort AS MATERIALIZED (
      SELECT user_id, min(wk) AS cw FROM weeks GROUP BY user_id
    )
    SELECT c.cw AS cohort_week,
           CAST(date_diff('day', c.cw, w.wk) / 7 AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM weeks w JOIN cohort c ON c.user_id = w.user_id
    GROUP BY c.cw, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-active ISO week
    (both engines truncate weeks to Monday), counted in every later week
    they return — the standard product-retention report.  week_offset is
    exact integer arithmetic (Monday-aligned dates differ by multiples
    of 7 days, so days/7 never rounds).

    Plan: one distinct on (user, week) — shuffle O(active user-weeks,
    not events, thanks to partial aggregation — then a user-keyed min
    and a join that REUSES the user_id hash partitioning from the
    distinct, then a final small agg.  At 100 TB every exchange carries
    user-week rows; nothing is event-cardinality after the first
    partial agg."""
    e = read_table(spark, sf_dir, "events")
    weeks = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("wk").alias("cw"))
    return (
        weeks.join(cohort, "user_id")
        .select(
            F.col("cw").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cw")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# event_transitions
# ---------------------------------------------------------------------------


@query(
    "event_transitions",
    oracle="""
    WITH seq AS MATERIALIZED (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS MATERIALIZED (
      SELECT prev_type AS from_type, event_type AS to_type,
             count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    totals AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY from_type)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           CAST((t.n * 1000000) // x.tot AS BIGINT) AS share_ppm
    FROM trans t JOIN totals x ON x.from_type = t.from_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each user's time-ordered events (event_id breaks timestamp ties —
    the total order the lag depends on), count (previous → next) event
    type pairs and each pair's share of its from-state, in exact
    integer ppm ((n*1e6) DIV total — truncating integer division on
    positives matches DuckDB's floor //).

    Plan: one shuffle on user_id for the sequence window (per-user
    frames sort locally — partitions are user-sized, never global),
    partial-aggregated counts on the |types|² transition key, and a
    broadcast of the |types|-row totals.  At 100 TB the only data-sized
    exchange is the user_id one; everything after is statistics-sized."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST((n * 1000000) DIV tot AS BIGINT)").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# source_top_terms (c-TF-IDF per source)
# ---------------------------------------------------------------------------

_TOPTERMS_K = 5


@query(
    "source_top_terms",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS MATERIALIZED (
      SELECT t.source, u.tok AS term, count(*) AS tf
      FROM toks t, unnest(t.tk) AS u(tok)
      GROUP BY t.source, u.tok
    ),
    ns AS (SELECT count(DISTINCT source) AS ns FROM tf),
    dfreq AS MATERIALIZED (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT f.source, f.term,
             (f.tf * 1000000 * (s.ns + 1)) // (d.df + 1) AS score_ppm
      FROM tf f JOIN dfreq d ON d.term = f.term CROSS JOIN ns s
    ),
    ranked AS (
      SELECT source, term, CAST(score_ppm AS BIGINT) AS score_ppm,
             row_number() OVER (PARTITION BY source
                                ORDER BY score_ppm DESC, term) AS rk
      FROM scored
    )
    SELECT source, term, score_ppm, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_TOPTERMS_K}
    """,
)
def q_source_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per source (class-based TF-IDF, the device
    behind topic labeling à la BERTopic's c-TF-IDF): term frequency
    within each source, weighted by an integer rational idf
    (ns+1)/(df+1) over SOURCE-level document frequency, top-{k} per
    source.  All-integer scoring — tf·1e6·(ns+1) DIV (df+1) — so the
    ranking is bit-identical cross-engine (no doubles anywhere).

    Plan: postings aggregate on (source, term) — partial agg makes the
    exchange vocabulary-sized — broadcast |vocab| document frequencies
    and the 1-row source count, then a per-source top-k window over
    vocabulary-sized data.  Nothing downstream of the first agg scales
    with corpus bytes."""
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    tf = (
        d.select("source", F.explode(_tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ns = tf.agg(F.countDistinct("source").alias("ns"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "term",
            F.expr(
                "CAST((tf * 1000000 * (ns + 1)) DIV (df + 1) AS BIGINT)"
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_ppm").desc(), "term"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _TOPTERMS_K)
        .select("source", "term", "score_ppm", "rk")
    )


q_source_top_terms.__doc__ = (q_source_top_terms.__doc__ or "").format(k=_TOPTERMS_K)


# ---------------------------------------------------------------------------
# pagerank_parts — integer PageRank over the part↔supplier co-supply graph
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_TOPK = 20


def _duck_pr_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS MATERIALIZED (
      SELECT n.node,
             150000 + (85 * coalesce(s.insum, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank // d.outdeg) AS insum
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""


@query(
    "pagerank_parts",
    oracle=f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
      FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT p AS src, s AS dst FROM raw
      UNION ALL
      SELECT s AS src, p AS dst FROM raw
    ),
    deg AS MATERIALIZED (
      SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
    ),
    nodes AS MATERIALIZED (SELECT node FROM deg),
    r0 AS MATERIALIZED (SELECT node, 1000000 AS rank FROM nodes),
    {",".join(_duck_pr_iter(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS))}
    SELECT CAST(node AS BIGINT) AS node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           CAST(node // 2 AS BIGINT) AS key,
           CAST(rank AS BIGINT) AS score_e6
    FROM r{_PR_ITERS}
    ORDER BY score_e6 DESC, node LIMIT {_PR_TOPK}
    """,
)
def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (damping 0.85, {it} unrolled iterations,
    top-{k}) over the bipartite part↔supplier graph induced by lineitem
    — "which parts/suppliers sit at the center of the supply network".
    ALL-INTEGER formulation: ranks are e6-scaled longs, per-edge
    contribution is rank DIV outdeg, and the damping update is
    150000 + (85·Σcontrib) DIV 100 — exact integer arithmetic, so the
    fixpoint trajectory is bit-identical across engines (a double
    PageRank would differ in summation order) and the oracle replays
    the same {it} iterations as chained CTEs.

    Plan: the edge list builds from a distinct projection of lineitem
    (pushdown reads 2 columns); each iteration is one join
    (edges ⋈ ranks ⋈ outdeg — all shuffle on the SAME node key, so AQE
    reuses the partitioning) plus a dst-keyed sum.  Iterations-as-plan
    works at fixed small depth; for iterate-to-convergence at cluster
    scale the per-round materialization device of operators/graph.py
    applies unchanged.  Top-k is a TakeOrdered — no global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    raw = li.select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    edges = raw.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionByName(
        raw.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    # the edge list feeds two joins per iteration — materialize the
    # distinct ONCE (same device as operators/graph.py's CC rounds)
    # instead of re-running the lineitem distinct 2×ITERS times
    edges = edges.localCheckpoint()
    # distinct column names per role (dnode/rnode/cnode) — the iterated
    # self-referential lineage otherwise makes bare "node" ambiguous
    deg = edges.groupBy(F.col("src").alias("dnode")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    nodes = deg.select(F.col("dnode").alias("node"))
    ranks = nodes.select("node", F.lit(1000000).cast("bigint").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("rnode"), F.col("rank")
                ),
                F.col("src") == F.col("rnode"),
            )
            .join(deg, F.col("src") == F.col("dnode"))
            .select(
                F.col("dst").alias("cnode"),
                F.expr("rank DIV outdeg").alias("c"),
            )
            .groupBy("cnode")
            .agg(F.sum("c").alias("insum"))
        )
        ranks = nodes.join(
            contrib, F.col("node") == F.col("cnode"), "left"
        ).select(
            "node",
            (
                F.lit(150000)
                + F.expr("85 * coalesce(insum, 0) DIV 100")
            ).cast("bigint").alias("rank"),
        )
    return (
        ranks.select(
            F.col("node").cast("bigint").alias("node"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("kind"),
            F.expr("node DIV 2").cast("bigint").alias("key"),
            F.col("rank").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "node")
        .limit(_PR_TOPK)
    )


q_pagerank_parts.__doc__ = (q_pagerank_parts.__doc__ or "").format(it=_PR_ITERS, k=_PR_TOPK)


# ---------------------------------------------------------------------------
# data_quality_report — declarative expectations over orders
# ---------------------------------------------------------------------------


@query(
    "data_quality_report",
    oracle="""
    SELECT 'custkey_complete' AS check_name,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
             AS violations,
           CAST(count(*) AS BIGINT) AS total,
           count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'orderdate_complete',
           CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) FILTER (WHERE o_orderdate IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'totalprice_nonnegative',
           CAST(count(*) FILTER (WHERE o_totalprice < 0) AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) FILTER (WHERE o_totalprice < 0) = 0
    FROM orders
    UNION ALL
    SELECT 'totalprice_below_400k',
           CAST(count(*) FILTER (WHERE o_totalprice > 400000) AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) FILTER (WHERE o_totalprice > 400000) = 0
    FROM orders
    UNION ALL
    SELECT 'orderstatus_domain',
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
                AS BIGINT),
           CAST(count(*) AS BIGINT),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) = 0
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           CAST(coalesce((SELECT sum(c - 1)
                          FROM (SELECT count(*) AS c FROM orders
                                GROUP BY o_orderkey) g
                          WHERE c > 1), 0) AS BIGINT),
           CAST(count(*) AS BIGINT),
           coalesce((SELECT sum(c - 1)
                     FROM (SELECT count(*) AS c FROM orders
                           GROUP BY o_orderkey) g
                     WHERE c > 1), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'custkey_in_customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST(count(*) AS BIGINT),
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    FROM orders
    """,
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over ``orders`` (the
    Deequ/Great-Expectations shape, operators/quality.py): five
    row-level expectations — completeness (custkey, orderdate), range
    (totalprice ≥ 0 and the deliberately-failing ≤ 400k threshold so
    the report exercises its violation branch), domain (orderstatus ∈
    {O,F,P}) — evaluated in ONE conditional-aggregation scan, plus a
    key-uniqueness rule (surplus copies of o_orderkey) and a
    referential rule (orphaned o_custkey vs the broadcast customer key
    set).  One scan + one key agg + one broadcast anti join at any
    scale; the report itself is checks-count rows."""
    from .operators.quality import (
        quality_report,
        referential_check,
        row_checks,
        unique_check,
    )

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    rows = row_checks(
        o,
        {
            "custkey_complete": F.col("o_custkey").isNull(),
            "orderdate_complete": F.col("o_orderdate").isNull(),
            "totalprice_nonnegative": F.col("o_totalprice") < 0,
            "totalprice_below_400k": F.col("o_totalprice") > 400000,
            "orderstatus_domain": ~F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    uniq = unique_check(o, ["o_orderkey"], "orderkey_unique")
    ref = referential_check(
        o, "o_custkey", c, "c_custkey", "custkey_in_customer"
    )
    return quality_report([rows, uniq, ref])


# ---------------------------------------------------------------------------
# forward_fill_events — per-key LOCF gap filling
# ---------------------------------------------------------------------------


@query(
    "forward_fill_events",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def q_forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward (LOCF) gap filling: every event
    row carries the user's most recent purchase amount (NULL until the
    first purchase) — the standard timeseries backfill, as an
    ignore-nulls running ``last`` over the per-user event order
    (event_id breaks timestamp ties).  The filled values pass through
    untouched from the scan, so cross-engine bits match by construction.

    Plan: ONE shuffle on user_id; the running last is a single
    sort-based window with no second pass (rowsBetween unbounded-
    preceding is the streaming-friendly frame — state is one value).
    At 100 TB this is the minimum possible: any per-key fill must
    co-locate the key once."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# temperature_mixture_sample — α=0.5 temperature sampling across sources
# ---------------------------------------------------------------------------

_TEMP_BUDGET = 200


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH counts AS MATERIALIZED (
      SELECT source, count(*) AS c FROM documents GROUP BY source
    ),
    wts AS MATERIALIZED (
      SELECT source, c,
             CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1e3) AS BIGINT) AS w
      FROM counts
    ),
    tot AS (SELECT sum(w) AS tw FROM wts),
    quota AS MATERIALIZED (
      SELECT wts.source, ({_TEMP_BUDGET} * w) // tw AS q
      FROM wts CROSS JOIN tot
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rk
      FROM documents d
    )
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN quota q ON q.source = r.source
    WHERE r.rk <= q.q
    """,
)
def q_temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (α = 0.5): per-source quotas
    proportional to count^α — the multilingual/multi-source rebalancing
    rule (XLM-R-style upsampling of small sources) — then a
    deterministic hash-ordered sample of each source up to its quota.

    α = 0.5 is deliberately sqrt: IEEE 754 specifies sqrt CORRECTLY
    ROUNDED (unlike pow/log), so floor(sqrt(c)·1e3) is bit-identical
    cross-engine; quotas then stay in exact integer arithmetic
    ((B·w) DIV Σw with an integer Σw — order-independent).

    Plan: a counts agg (statistics-sized), a broadcast quota table, and
    ONE window rank per source over the md5 sample order.  At 100 TB
    the rank window is the only data-sized operation — one shuffle on
    source (salting applies if one source dominates; the quota filter
    prunes everything past the per-source budget)."""
    d = read_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    wts = counts.select(
        "source",
        F.floor(F.sqrt(F.col("c").cast("double")) * 1e3)
        .cast("bigint")
        .alias("w"),
    )
    tot = wts.agg(F.sum("w").alias("tw"))
    quota = wts.crossJoin(F.broadcast(tot)).select(
        "source", F.expr(f"({_TEMP_BUDGET} * w) DIV tw").alias("q")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return ranked.join(F.broadcast(quota), "source").filter(
        F.col("rk") <= F.col("q")
    ).select("doc_id", "source", "rk")


# ---------------------------------------------------------------------------
# robust_outliers — median/MAD robust anomaly detection per group
# ---------------------------------------------------------------------------


@query(
    "robust_outliers",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT c_nationkey AS nationkey, o_totalprice AS price
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    med AS MATERIALIZED (
      SELECT nationkey, quantile_cont(price, 0.5) AS med
      FROM base GROUP BY nationkey
    ),
    mad AS MATERIALIZED (
      SELECT b.nationkey, quantile_cont(abs(b.price - m.med), 0.5) AS mad
      FROM base b JOIN med m USING (nationkey) GROUP BY b.nationkey
    )
    SELECT b.nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(floor(max(m.med) * 100) AS BIGINT) AS median_cents,
           CAST(floor(max(d.mad) * 100) AS BIGINT) AS mad_cents,
           CAST(count(*) FILTER (WHERE abs(b.price - m.med) > 3e0 * d.mad)
                AS BIGINT) AS n_outliers
    FROM base b
    JOIN med m USING (nationkey)
    JOIN mad d USING (nationkey)
    GROUP BY b.nationkey
    """,
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly detection: median + MAD (median absolute
    deviation) of order value per customer nation, and the count of
    orders beyond 3×MAD — the robust-statistics alternative to z-scores
    (grouped_zscore_pandas), immune to the outliers it is hunting.

    Cross-engine determinism: Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the linear-interpolation definition, and the
    outlier predicate compares |x − med| (exact IEEE subtract/abs of
    bit-identical doubles) against 3·mad — no epsilon anywhere; the
    displayed median/MAD integerize as floor-cents.

    Plan: three aggregations over the same nationkey partitioning (med →
    MAD → final), with the 25-row med/mad tables BROADCAST back — the
    exchanges after the first reuse the co-partitioning.  Exact medians
    sort within groups; at 100 TB swap in approx_percentile and keep
    the identical two-pass MAD structure."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("o_totalprice").alias("price"),
    )
    med = base.groupBy("nationkey").agg(
        F.expr("percentile(price, 0.5)").alias("med")
    )
    b2 = base.join(F.broadcast(med), "nationkey").withColumn(
        "adiff", F.abs(F.col("price") - F.col("med"))
    )
    mad = b2.groupBy("nationkey").agg(
        F.expr("percentile(adiff, 0.5)").alias("mad")
    )
    b3 = b2.join(F.broadcast(mad), "nationkey")
    return b3.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.floor(F.max("med") * 100).cast("bigint").alias("median_cents"),
        F.floor(F.max("mad") * 100).cast("bigint").alias("mad_cents"),
        F.sum(
            F.when(F.col("adiff") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# token_cooccurrence — GloVe-style co-document matrix with integer lift
# ---------------------------------------------------------------------------

_COOC_TOPK = 20


@query(
    "token_cooccurrence",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS dt
      FROM documents WHERE trim(text) <> ''
    ),
    nd AS (SELECT count(*) AS n FROM toks),
    dfreq AS MATERIALIZED (
      SELECT u.tok, count(*) AS df
      FROM toks, unnest(dt) AS u(tok) GROUP BY u.tok
    ),
    pairs AS MATERIALIZED (
      SELECT u1.a, u2.b, count(*) AS n_docs
      FROM toks, unnest(dt) AS u1(a), unnest(dt) AS u2(b)
      WHERE u1.a < u2.b
      GROUP BY u1.a, u2.b
    )
    SELECT p.a AS term_a, p.b AS term_b,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST((p.n_docs * s.n * 1000000) // (da.df * db.df) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN dfreq da ON da.tok = p.a
    JOIN dfreq db ON db.tok = p.b
    CROSS JOIN nd s
    ORDER BY n_docs DESC, term_a, term_b LIMIT {_COOC_TOPK}
    """,
)
def q_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence matrix (document granularity) with integer
    LIFT — the association-mining / GloVe-matrix build: for every
    unordered term pair, in how many documents do both appear, and how
    does that compare to independence (lift = P(a,b)/(P(a)·P(b)),
    surfaced as exact-integer ppm: (n_ab·N·1e6) DIV (df_a·df_b); at
    extreme N reorder the multiply/divide to stay in bigint).

    Plan: the per-document pair expansion is a doc_id-equijoined
    self-join of the DISTINCT-token postings — quadratic only in
    per-document distinct terms (bounded by doc length), never in the
    corpus.  Document frequencies and the 1-row doc count broadcast;
    top-k is a TakeOrdered.  This is the standard scalable shape for
    co-occurrence: shuffle O(postings), expand locally per doc."""
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toked = d.select(
        "doc_id", F.array_distinct(_tokens("text")).alias("dt")
    )
    ex = toked.select("doc_id", F.explode("dt").alias("tok"))
    nd = toked.agg(F.count(F.lit(1)).alias("n"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    l = ex.select(F.col("doc_id"), F.col("tok").alias("a"))
    r = ex.select(F.col("doc_id").alias("doc_id_r"), F.col("tok").alias("b"))
    pairs = (
        l.join(r, (l["doc_id"] == r["doc_id_r"]) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    da = dfreq.select(F.col("tok").alias("a"), F.col("df").alias("df_a"))
    db = dfreq.select(F.col("tok").alias("b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr(
                "CAST((n_docs * n * 1000000) DIV (df_a * df_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("n_docs").desc(), "term_a", "term_b")
        .limit(_COOC_TOPK)
    )


# ---------------------------------------------------------------------------
# snapshot_diff — batch change-data-capture between table versions
# ---------------------------------------------------------------------------


@query(
    "snapshot_diff",
    oracle="""
    WITH old AS MATERIALIZED (
      SELECT c_custkey AS k, c_name, c_acctbal FROM customer
    ),
    new AS MATERIALIZED (
      SELECT c_custkey AS k, c_name,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, c_name, c_acctbal
      FROM customer WHERE c_custkey % 101 = 0
    )
    SELECT coalesce(o.k, n.k) AS custkey,
           CASE WHEN o.k IS NULL THEN 'insert'
                WHEN n.k IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM old o FULL JOIN new n ON n.k = o.k
    WHERE o.k IS NULL OR n.k IS NULL
       OR o.c_name IS DISTINCT FROM n.c_name
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC: diff two snapshots of the customer table into the
    insert/update/delete row set a MERGE would apply (the complement of
    scd2_merge, which consumes such a diff).  The "new" snapshot is
    derived deterministically from the same scan — every 97th key
    deleted, every 13th acctbal bumped (+100 is IEEE-exact on doubles),
    every 101st re-keyed as an insert — so the oracle rebuilds both
    sides identically and the diff exercises all three change types.

    Plan: one FULL OUTER sort-merge join on the key — the minimal
    co-location any snapshot diff needs — with null-safe payload
    comparison (operators/upsert.py:snapshot_diff; for wide tables pass
    a single pre-hashed payload column instead)."""
    from .operators.upsert import snapshot_diff

    c = read_table(spark, sf_dir, "customer")
    old = c.select(
        F.col("c_custkey"), F.col("c_name"), F.col("c_acctbal")
    )
    new = (
        c.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 100
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 101 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                "c_name",
                "c_acctbal",
            )
        )
    )
    return snapshot_diff(
        old, new, "c_custkey", ["c_name", "c_acctbal"]
    ).select(F.col("c_custkey").alias("custkey"), "change_type")


# ---------------------------------------------------------------------------
# triangle_count — co-supply graph triangles
# ---------------------------------------------------------------------------

_TRI_MIN_SHARED = 3


@query(
    "triangle_count",
    oracle=f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= {_TRI_MIN_SHARED}
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    deg AS (
      SELECT count(*) AS n_edges FROM edges
    ),
    verts AS (
      SELECT count(*) AS n_nodes FROM (
        SELECT a AS v FROM edges UNION SELECT b FROM edges
      ) u
    )
    SELECT CAST(verts.n_nodes AS BIGINT) AS n_nodes,
           CAST(deg.n_edges AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM tri CROSS JOIN deg CROSS JOIN verts
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the customer co-purchase graph (edge between
    customers sharing ≥ {m} distinct parts — the supplier projections
    are near-complete cliques on this data, so customers give the
    sparse graph triangle counting is for): the standard graph-cohesion metric,
    counted under DEGREE orientation (operators/graph.py
    ``degree_oriented_triangles`` — the Suri-Vassilvitskii WWW'11
    formulation): each edge points from its lower-(degree, id) endpoint
    to the higher one and wedges expand only at the low endpoint, so
    per-vertex fan-out is bounded by ~sqrt(m) instead of max degree —
    the "last reducer" hot key the plain id-oriented edge iterator
    hits at 100 TB never forms.  Each triangle counts exactly once
    because its vertices are totally ordered by (degree, id).

    Plan: the per-part pair expansion is quadratic only in customers-
    per-part (bounded, like token_cooccurrence's per-doc expansion);
    the degree aggregation adds one vertex-keyed shuffle, then the
    wedge join + closing probe shuffle the oriented edge list on
    vertex keys exactly as the textbook iterator does.  The oracle
    keeps the simple id-oriented CTE — the count is algorithm-
    independent, which is itself part of what the gate checks."""
    from .operators.graph import degree_oriented_triangles
    from .plans.co_purchase import co_purchase_edges

    # shared staged edge list (plans/co_purchase.py) — the per-part
    # pair expansion is the dominant cost and bfs_hops needs the same
    # graph; each consumer pays only its algorithm's marginal cost
    edges = co_purchase_edges(spark, sf_dir)
    tri = degree_oriented_triangles(edges)
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    verts = (
        edges.select(F.col("a").alias("v"))
        .union(edges.select(F.col("b").alias("v")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        tri.crossJoin(n_edges)
        .crossJoin(verts)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
    )


q_triangle_count.__doc__ = (q_triangle_count.__doc__ or "").format(m=_TRI_MIN_SHARED)


# ---------------------------------------------------------------------------
# dataset_split_grouped — leakage-safe split by SOURCE hash
# ---------------------------------------------------------------------------


@query(
    "dataset_split_grouped",
    oracle="""
    WITH assigned AS (
      SELECT source, n_chars,
        CASE WHEN CAST('0x' || substring(md5('0|' || source), 1, 15)
                       AS BIGINT) % 100 < 90 THEN 'train'
             WHEN CAST('0x' || substring(md5('0|' || source), 1, 15)
                       AS BIGINT) % 100 < 95 THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY split
    """,
)
def q_dataset_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split: the split key is the SOURCE
    hash, so every document of a source lands in the same split — the
    leakage-safe variant of ``dataset_split`` (near-duplicates cluster
    within a source; an id-hash split would scatter them across train
    and test, inflating eval scores).  Same deterministic
    portable-hash bucketing, same no-reshuffle-on-append property, now
    at group granularity.  Map-only assignment; one statistics-sized
    agg."""
    from .operators.sampling import split_assign

    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(split_assign("source", 90, 5).alias("split"), "source", "n_chars")
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_eval — precision/recall of the LSH detector vs exact Jaccard truth
# ---------------------------------------------------------------------------


@query(
    "dedup_eval",
    oracle=None,  # assigned below — needs fragments from catalog_ext/r3b
)
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation: precision/recall of the production LSH
    near-dup detector against EXACT ground truth on a deterministic
    half-corpus sample (doc_id even).  Ground truth is every sample
    pair with 3-gram Jaccard ≥ 0.5 — computed via the inverted-index
    similarity join (postings join on shingle → shared-shingle counts →
    the INTEGER test 2·|A∩B| ≥ |A∪B|, no floats anywhere) — never an
    all-pairs cartesian.  Predictions are the corpus LSH candidate
    pairs restricted to the sample.  Output: one row of counts +
    integer-ppm precision/recall.

    100 TB posture: evaluation always runs on a hash sample (here 1/2;
    in production 1/10⁴) — the postings join is quadratic per hot
    shingle, which the sample bounds; the detector under test runs at
    full scale unchanged.  This is the QA loop every production dedup
    pipeline needs: a measured precision/recall, not a vibe."""
    from .operators.dedup import _shingles
    from .plans.corpus_lsh import corpus_candidate_pairs

    d = _docs_parallel(spark, sf_dir)
    samp = d.filter(F.col("doc_id") % 2 == 0)
    # localCheckpoint (r11 optimization round, third pass): exploding an
    # INLINE complex array expression drops Generate out of whole-stage
    # codegen — the shingle transform ran interpreted per doc in the
    # postings stage (measured 5.3 s vs 0.2 s exploding the same arrays
    # from a materialized column; a repartition barrier does NOT help,
    # the optimizer hoists the projection above the exchange).  The
    # checkpoint also serves the two consumers (sizes + postings) once.
    shd = samp.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(_shingles(F.col("text"))).alias("sh"),
    ).localCheckpoint()
    sizes = shd.select("id", F.size("sh").alias("ns"))
    post = shd.select("id", F.explode("sh").alias("g"))
    # Arrow pair-expansion kernel instead of the postings self-join
    # (r11 optimization round, second pass — operators/pairgen.py):
    # value-identical (a, b, i) counts, pair stream combined
    # batch-locally before the one aggregate exchange.
    from .operators.pairgen import posting_pair_counts

    inter = posting_pair_counts(post, "g", "id")
    sx = sizes.select(F.col("id").alias("a"), F.col("ns").alias("ns_a"))
    sy = sizes.select(F.col("id").alias("b"), F.col("ns").alias("ns_b"))
    # No broadcast hints on sx/sy: the per-doc size frames grow with the
    # corpus sample, so the hard hint would bypass AQE's size check at
    # production scale (VERDICT r3 "What's wrong" #3).  At sf0.1 AQE
    # still picks broadcast on its own (PLAN_AUDIT); at 100 TB it can
    # demote to a shuffle join when the sample outgrows the threshold.
    pred = (
        corpus_candidate_pairs(spark, sf_dir)
        .filter((F.col("id_a") % 2 == 0) & (F.col("id_b") % 2 == 0))
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    n_samp = samp.agg(F.count(F.lit(1)).alias("n_sample_docs"))
    # ONE full-outer join of the intersection counts with the LSH
    # predictions, sized once, judged once (r11 optimization round,
    # second pass; guide §1.2 "compute each subtree once"): the earlier
    # predj/truth formulation still evaluated the postings join and the
    # per-doc size frames TWICE (once under each full-outer side —
    # plan-verified, no ReuseExchange).  Value-identical:
    #   thr := 2·coalesce(i,0) ≥ ns_a + ns_b − coalesce(i,0)
    # is the old `good` for predicted pairs, and for a pair NOT in
    # `inter` (i = 0) it is always false (set sizes ≥ 1), so
    # sum(thr) == count(truth), sum(__p ∧ thr) == tp,
    # sum(__p ∧ ¬thr) == fp, sum(thr ∧ ¬__p) == fn (truth with no
    # prediction — the old left_anti).  Every pair id is a sample doc,
    # so the inner size joins keep all rows exactly as before.
    j = (
        inter.join(pred.withColumn("__p", F.lit(True)), ["a", "b"], "full_outer")
        .join(sx, "a")
        .join(sy, "b")
        .withColumn(
            "__thr",
            2 * F.coalesce(F.col("i"), F.lit(0))
            >= F.col("ns_a") + F.col("ns_b") - F.coalesce(F.col("i"), F.lit(0)),
        )
    )
    counts = j.agg(
        F.sum(F.when(F.col("__thr"), 1).otherwise(0)).alias("n_truth_pairs"),
        F.sum(F.when(F.col("__p"), 1).otherwise(0)).alias(
            "n_predicted_pairs"
        ),
        F.sum(F.when(F.col("__p") & F.col("__thr"), 1).otherwise(0)).alias(
            "tp"
        ),
        F.sum(F.when(F.col("__p") & ~F.col("__thr"), 1).otherwise(0)).alias(
            "fp"
        ),
        F.sum(
            F.when(F.col("__thr") & F.col("__p").isNull(), 1).otherwise(0)
        ).alias("fn"),
    )
    return (
        n_samp.crossJoin(counts)
        .select(
            F.col("n_sample_docs").cast("bigint").alias("n_sample_docs"),
            # coalesce(…, 0): the old per-branch count() aggregates
            # returned 0 on empty inputs; the fused sum() returns NULL
            F.coalesce(F.col("n_truth_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_truth_pairs"),
            F.coalesce(F.col("n_predicted_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_predicted_pairs"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.col("fp"), F.lit(0)).cast("bigint").alias("fp"),
            F.coalesce(F.col("fn"), F.lit(0)).cast("bigint").alias("fn"),
            F.expr(
                "CAST(coalesce(tp,0)*1000000 DIV NULLIF(coalesce(tp,0)+coalesce(fp,0),0) AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(coalesce(tp,0)*1000000 DIV NULLIF(coalesce(tp,0)+fn,0) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def _install_dedup_eval_oracle() -> None:
    """The oracle composes shared fragments from catalog_ext/catalog_r3b
    (minhash signature chain + banded LSH pairs) — assembled after both
    modules are importable to keep the fragment single-sourced."""
    from .catalog import ORACLES
    from .catalog_ext import _DUCK_SHINGLES, _duck_minhash_sig_cte
    from .catalog_r3b import _DUCK_LSH_PAIRS

    ORACLES["dedup_eval"] = f"""
    WITH samp AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    shx AS MATERIALIZED (
      SELECT doc_id AS id, list_distinct({_DUCK_SHINGLES}) AS sh FROM samp
    ),
    dsz AS MATERIALIZED (SELECT id, len(sh) AS ns FROM shx),
    post AS MATERIALIZED (SELECT id, u.g FROM shx, unnest(shx.sh) AS u(g)),
    inter AS MATERIALIZED (
      SELECT l.id AS ia, r.id AS ib, count(*) AS i
      FROM post l JOIN post r ON l.g = r.g AND l.id < r.id
      GROUP BY l.id, r.id
    ),
    truth AS MATERIALIZED (
      SELECT i.ia, i.ib
      FROM inter i JOIN dsz x ON x.id = i.ia JOIN dsz y ON y.id = i.ib
      WHERE 2 * i.i >= x.ns + y.ns - i.i
    ),
    {_duck_minhash_sig_cte()},
    {_DUCK_LSH_PAIRS},
    pred AS MATERIALIZED (
      SELECT a, b FROM pairs WHERE a % 2 = 0 AND b % 2 = 0
    ),
    predj AS MATERIALIZED (
      SELECT p.a, p.b,
             2 * coalesce(i.i, 0)
               >= x.ns + y.ns - coalesce(i.i, 0) AS good
      FROM pred p
      LEFT JOIN inter i ON i.ia = p.a AND i.ib = p.b
      JOIN dsz x ON x.id = p.a
      JOIN dsz y ON y.id = p.b
    ),
    m AS (
      SELECT
        (SELECT count(*) FROM samp) AS n_sample_docs,
        (SELECT count(*) FROM truth) AS n_truth_pairs,
        (SELECT count(*) FROM pred) AS n_predicted_pairs,
        (SELECT count(*) FROM predj WHERE good) AS tp,
        (SELECT count(*) FROM predj WHERE NOT good) AS fp,
        (SELECT count(*) FROM truth t
         WHERE NOT EXISTS (SELECT 1 FROM pred p
                           WHERE p.a = t.ia AND p.b = t.ib)) AS fn
    )
    SELECT CAST(n_sample_docs AS BIGINT) AS n_sample_docs,
           CAST(n_truth_pairs AS BIGINT) AS n_truth_pairs,
           CAST(n_predicted_pairs AS BIGINT) AS n_predicted_pairs,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT)
             AS precision_ppm,
           CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT) AS recall_ppm
    FROM m
    """


_install_dedup_eval_oracle()


# ---------------------------------------------------------------------------
# skew_salted_join — manual skew join (salt big side, replicate small side)
# ---------------------------------------------------------------------------


@query(
    "skew_salted_join",
    oracle="""
    WITH big AS (
      SELECT CASE WHEN l_suppkey % 3 = 0 THEN 0
                  ELSE l_suppkey % 50 END AS kk,
             CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
      FROM lineitem
    ),
    dim AS (
      SELECT DISTINCT s_suppkey % 50 AS kk, (s_suppkey % 50) * 2 + 1 AS factor
      FROM supplier
    )
    SELECT b.kk, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(b.qty_c * d.factor) AS BIGINT) AS weighted_qty_c
    FROM big b JOIN dim d ON d.kk = b.kk
    GROUP BY b.kk
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual skew join (operators/skew.py:salted_join): a deliberately
    skewed join key (every third supplier collapses to key 0 — ~1/3 of
    lineitem lands on ONE key) joined against a 50-row non-broadcast
    dim via salt-the-big-side / replicate-the-small-side.  The hot
    key's rows spread over 8 salted reducers instead of one; the
    result is salt-invariant, which the oracle (a plain unsalted join)
    proves.  Companion to skew_salted_agg, which fixes the same
    pathology for aggregations; AQE's runtime skew splitting is the
    zero-code alternative when enabled — this operator is for
    pre-bucketed layouts and known-hot keys."""
    from .operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    big = li.select(
        F.when(F.col("l_suppkey") % 3 == 0, 0)
        .otherwise(F.col("l_suppkey") % 50)
        .alias("kk"),
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("qty_c"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    ).withColumn(
        "__rid",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    dim = s.select(
        (F.col("s_suppkey") % 50).alias("kk"),
        ((F.col("s_suppkey") % 50) * 2 + 1).alias("factor"),
    ).distinct()
    # merge hint: at testdata scale Spark would broadcast the 50-row dim
    # (collapsing the exchange the salt exists to reshape); the hint
    # forces the shuffle-join plan the operator targets — a (kk, salt)
    # exchange on both sides, hot key spread across 8 reducers
    joined = salted_join(big, dim.hint("merge"), "kk", salt_col="__rid", salts=8)
    return joined.groupBy("kk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("qty_c") * F.col("factor"))
        .cast("bigint")
        .alias("weighted_qty_c"),
    )


# ---------------------------------------------------------------------------
# wow_growth — week-over-week revenue growth per nation
# ---------------------------------------------------------------------------


@query(
    "wow_growth",
    oracle="""
    WITH weekly AS MATERIALIZED (
      SELECT c.c_nationkey AS nationkey,
             CAST(date_trunc('week', o.o_orderdate) AS DATE) AS wk,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, date_trunc('week', o.o_orderdate)
    ),
    lagged AS (
      SELECT nationkey, wk, rev_c,
             lag(rev_c) OVER (PARTITION BY nationkey ORDER BY wk) AS prev_c
      FROM weekly
    )
    SELECT nationkey, wk, CAST(rev_c AS BIGINT) AS rev_c,
           CAST(floor((rev_c - prev_c) * 1e6 / prev_c) AS BIGINT)
             AS growth_ppm
    FROM lagged WHERE prev_c IS NOT NULL
    """,
)
def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth per customer nation: weekly
    cents-exact revenue, a per-nation lag, growth as
    floor((cur−prev)·1e6/prev) — the division runs in DOUBLES in both
    engines deliberately, because integer division disagrees on
    negatives (DuckDB ``//`` floors, Spark ``DIV`` truncates toward
    zero) while floor-of-an-identical-double does not; the products
    stay < 2^53 so the double arithmetic is exact.

    Plan: one agg shuffle on (nation, week) — partial-aggregated, so
    the exchange is report-sized — and a 25-partition lag window that
    reuses nothing data-sized.  The dimension join broadcasts."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    weekly = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.date_trunc("week", F.col("o_orderdate"))
            .cast("date")
            .alias("wk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .alias("rev_c")
        )
    )
    w = Window.partitionBy("nationkey").orderBy("wk")
    return (
        weekly.withColumn("prev_c", F.lag("rev_c").over(w))
        .filter(F.col("prev_c").isNotNull())
        .select(
            "nationkey",
            "wk",
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.floor(
                (F.col("rev_c") - F.col("prev_c")) * F.lit(1e6)
                / F.col("prev_c")
            )
            .cast("bigint")
            .alias("growth_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# ship_latency_histogram — order-to-ship latency distribution
# ---------------------------------------------------------------------------


@query(
    "ship_latency_histogram",
    oracle="""
    WITH lat AS MATERIALIZED (
      SELECT date_diff('day', o.o_orderdate, l.l_shipdate) // 7 AS bucket_wk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    tot AS (SELECT count(*) AS n FROM lat)
    SELECT CAST(bucket_wk AS BIGINT) AS bucket_wk,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) * 1000000 // max(t.n) AS BIGINT) AS share_ppm
    FROM lat CROSS JOIN tot t
    GROUP BY bucket_wk
    """,
)
def q_ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution in whole-week buckets (the
    operational-SLA histogram): days from order date to line ship date,
    integer-div by 7 (latencies are non-negative, so floor and truncate
    agree), with each bucket's exact-integer ppm share of all lines.

    Plan: the join shuffles on orderkey (or broadcasts orders' 2-column
    projection when it fits), then ONE statistics-sized agg on the
    bucket id; the 1-row total broadcasts.  Column pruning matters here:
    the scan reads 2 columns of lineitem, 2 of orders."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.expr("CAST(datediff(l_shipdate, o_orderdate) DIV 7 AS BIGINT)")
        .alias("bucket_wk")
    )
    tot = lat.agg(F.count(F.lit(1)).alias("n"))
    return (
        lat.crossJoin(F.broadcast(tot))
        .groupBy("bucket_wk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr("CAST(count(1) * 1000000 DIV max(n) AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# impute_group_mean — deterministic mean imputation for missing values
# ---------------------------------------------------------------------------


@query(
    "impute_group_mean",
    oracle="""
    WITH masked AS MATERIALIZED (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(round(value * 100) AS BIGINT) END AS v_c
      FROM events
    ),
    means AS MATERIALIZED (
      SELECT event_type, sum(v_c) // count(v_c) AS mean_c
      FROM masked WHERE v_c IS NOT NULL GROUP BY event_type
    )
    SELECT m.event_id,
           CAST(coalesce(m.v_c, x.mean_c) AS BIGINT) AS v_imputed_c,
           m.v_c IS NULL AS was_imputed
    FROM masked m JOIN means x ON x.event_type = m.event_type
    """,
)
def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation for missing numeric values, per group: every 7th
    event's value is deterministically masked to NULL, then refilled
    with its event type's mean over the NON-null rows — computed as
    exact integer cents (sum_c DIV n: a double mean would differ by
    summation order between engines; the integer mean never does, and
    the values are non-negative so DIV and // agree).  The companion to
    forward_fill_events: cross-sectional imputation vs temporal.

    Plan: one conditional projection, one statistics-sized group mean,
    one broadcast join back — the scan is read once per side and the
    mean table is |types| rows at any scale."""
    e = read_table(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.round(F.col("value") * 100, 0).cast("bigint"))
        .alias("v_c"),
    )
    means = (
        masked.filter(F.col("v_c").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("CAST(sum(v_c) DIV count(v_c) AS BIGINT)").alias("mean_c"))
    )
    return masked.join(F.broadcast(means), "event_type").select(
        "event_id",
        F.coalesce(F.col("v_c"), F.col("mean_c"))
        .cast("bigint")
        .alias("v_imputed_c"),
        F.col("v_c").isNull().alias("was_imputed"),
    )


# ---------------------------------------------------------------------------
# ab_test_ztest — two-proportion z-test over a hash-assigned experiment
# ---------------------------------------------------------------------------


@query(
    "ab_test_ztest",
    oracle="""
    WITH assign AS MATERIALIZED (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS grp,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT
        sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_a,
        sum(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS c_a,
        sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_b,
        sum(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS c_b
      FROM assign
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
           CAST(floor(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6)
                AS BIGINT) AS rate_a_ppm,
           CAST(floor(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e6)
                AS BIGINT) AS rate_b_ppm,
           CAST(floor(
             ((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
              - (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
             / sqrt(
                 (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                 * (1e0 - CAST(c_a + c_b AS DOUBLE)
                          / CAST(n_a + n_b AS DOUBLE))
                 * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE)))
             * 1e6) AS BIGINT) AS z_e6
    FROM agg
    """,
)
def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a hash-assigned A/B experiment: users
    split 50/50 by id parity (deterministic assignment — the
    experimentation-platform primitive), conversion = any purchase
    event, z = (p_b − p_a)/√(p̂(1−p̂)(1/n_a+1/n_b)) with the pooled
    rate p̂.  EVERY arithmetic step is IEEE-exact-or-correctly-rounded
    (+,−,×,÷ and sqrt — which IEEE 754 specifies correctly rounded,
    unlike pow/log), over exact integer counts — so z_e6 is
    bit-identical cross-engine with no tolerance anywhere.

    Plan: one user-level agg (partial-combined on user_id), then a
    single-row conditional aggregate — nothing after the first exchange
    scales with events."""
    e = read_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("grp"), "converted"
    )
    agg = assign.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0)).alias("c_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (cb / nb - ca / na) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("c_a").cast("bigint").alias("c_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_b").cast("bigint").alias("c_b"),
        F.floor(ca / na * 1e6).cast("bigint").alias("rate_a_ppm"),
        F.floor(cb / nb * 1e6).cast("bigint").alias("rate_b_ppm"),
        F.floor(z * 1e6).cast("bigint").alias("z_e6"),
    )


# ---------------------------------------------------------------------------
# rfm_segments — recency / frequency / monetary customer segmentation
# ---------------------------------------------------------------------------


@query(
    "rfm_segments",
    oracle="""
    WITH mx AS (SELECT max(o_orderdate) AS mxd FROM orders),
    rfm AS MATERIALIZED (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate), max(x.mxd)) AS recency_d,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
      FROM orders CROSS JOIN mx x GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey, recency_d, frequency, monetary_c,
        ntile(5) OVER (ORDER BY recency_d ASC, custkey) AS r,
        ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f,
        ntile(5) OVER (ORDER BY monetary_c DESC, custkey) AS m
      FROM rfm
    )
    SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_c) AS BIGINT) AS total_monetary_c
    FROM scored GROUP BY r * 100 + f * 10 + m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM model): per customer — days
    since last order (recency, vs the corpus max date), order count
    (frequency), lifetime cents (monetary) — each scored into quintiles
    by ``ntile``, concatenated into a 3-digit segment code, and
    aggregated to segment sizes.  Quintile boundaries are deterministic
    because every ntile ordering carries the custkey tie-break (the
    catalog's ordering rule); best segment = 111 (recent, frequent,
    big).

    Plan: one custkey agg (partial-combined), a 1-row max-date
    broadcast, three ntile windows over the CUSTOMER-level frame (15k
    rows at sf0.1 — statistics-sized next to orders; at 100 TB a
    single-partition ntile over customers is the known constraint, and
    approx-quantile bucketing replaces it), one final segment agg."""
    o = read_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    rfm = (
        o.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.max("mxd"), F.max("o_orderdate")).alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("monetary_c"),
        )
    )
    r = F.ntile(5).over(Window.orderBy(F.col("recency_d").asc(), "custkey"))
    f_ = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), "custkey"))
    m = F.ntile(5).over(Window.orderBy(F.col("monetary_c").desc(), "custkey"))
    scored = rfm.select(
        "monetary_c", (r * 100 + f_ * 10 + m).alias("segment")
    )
    return scored.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary_c").cast("bigint").alias("total_monetary_c"),
    ).select(F.col("segment").cast("bigint").alias("segment"),
             "n_customers", "total_monetary_c")


# ---------------------------------------------------------------------------
# pareto_frontier — 2-D skyline in one sort
# ---------------------------------------------------------------------------


@query(
    "pareto_frontier",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size, count(*) AS n_parts
      FROM part GROUP BY 1, 2
    ),
    flagged AS (
      SELECT price_c, size, n_parts,
             max(size) OVER (ORDER BY price_c ASC, size DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS best_prev
      FROM pts
    )
    SELECT price_c, size, CAST(n_parts AS BIGINT) AS n_parts
    FROM flagged
    WHERE best_prev IS NULL OR best_prev < size
    """,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (2-D skyline) of parts under minimize-price /
    maximize-size: the non-dominated (price, size) points, via the
    ONE-SORT skyline algorithm — order distinct points by (price asc,
    size desc); a point is dominated iff the running max of size over
    all PRECEDING points reaches it (any such predecessor has lower
    price, or equal price with strictly larger size — either way it
    dominates).  No pairwise comparison, no quadratic term: dominance
    resolves in a single window pass after a distinct.

    Plan: the distinct is a statistics-sized agg (price×size points ≪
    parts); the skyline window is a single global sort over those
    points — the inherently-sequential running max, applied to the
    REDUCED point set, never the raw table.  The classic multi-
    objective "best tradeoff" query (cost vs capability) every
    procurement/eval pipeline runs."""
    p = read_table(spark, sf_dir, "part")
    pts = p.groupBy(
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("bigint")
        .alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    w = (
        Window.orderBy(F.col("price_c").asc(), F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pts.withColumn("best_prev", F.max("size").over(w))
    return flagged.filter(
        F.col("best_prev").isNull() | (F.col("best_prev") < F.col("size"))
    ).select("price_c", "size", F.col("n_parts").cast("bigint").alias("n_parts"))


# ---------------------------------------------------------------------------
# event_paths — top user journeys (event-type 3-grams)
# ---------------------------------------------------------------------------

_PATHS_TOPK = 15


@query(
    "event_paths",
    oracle=f"""
    WITH seq AS MATERIALIZED (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path LIMIT {_PATHS_TOPK}
    """,
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sliding event-type 3-grams over each user's
    time-ordered stream (event_id breaks ts ties), counted corpus-wide
    — second-order path analysis on top of ``event_transitions``'
    first-order matrix (the "what do users actually do" product
    question).  One user_id window shuffle, then a |types|³-bounded
    agg and a TakeOrdered top-k."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    return (
        seq.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATHS_TOPK)
    )


# ---------------------------------------------------------------------------
# dim_date — generated calendar dimension
# ---------------------------------------------------------------------------


@query(
    "dim_date",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS lo, max(o_orderdate) AS hi FROM orders
    ),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS d
      FROM bounds
    )
    SELECT d,
           CAST(year(d) AS BIGINT) AS yr,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(month(d) AS BIGINT) AS mo,
           CAST(isodow(d) AS BIGINT) AS dow_iso,
           isodow(d) >= 6 AS is_weekend,
           CAST(date_trunc('week', d) AS DATE) AS week_start
    FROM days
    """,
)
def q_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension spanning the orders date range —
    the warehouse dim_date primitive (year/quarter/month/ISO
    day-of-week/weekend flag/Monday week start), built from a
    ``sequence`` + explode over the min-max bounds: no source table,
    no driver loop, one row per day.  ISO weekday numbering
    (Mon=1..Sun=7) is the cross-engine-stable choice — Spark's
    ``dayofweek`` is Sunday-first while both engines agree on
    ``weekday``/``isodow`` up to an additive shift handled here.

    Plan: a 1-row bounds agg, then a map-only explode — a ~2500-row
    dimension at any corpus scale; always broadcast-joined downstream."""
    o = read_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    # Spark weekday(): Monday=0..Sunday=6 → ISO dow = weekday+1
    dow_iso = F.weekday("d") + 1
    return days.select(
        "d",
        F.year("d").cast("bigint").alias("yr"),
        F.quarter("d").cast("bigint").alias("qtr"),
        F.month("d").cast("bigint").alias("mo"),
        dow_iso.cast("bigint").alias("dow_iso"),
        (dow_iso >= 6).alias("is_weekend"),
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start"),
    )


# ---------------------------------------------------------------------------
# cohort_ltv — cumulative lifetime value by cohort age
# ---------------------------------------------------------------------------


@query(
    "cohort_ltv",
    oracle="""
    WITH firsts AS MATERIALIZED (
      SELECT o_custkey AS ck,
             CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cm
      FROM orders GROUP BY o_custkey
    ),
    sized AS (SELECT cm, count(*) AS cohort_n FROM firsts GROUP BY cm),
    rev AS MATERIALIZED (
      SELECT f.cm,
             (year(o.o_orderdate) - year(f.cm)) * 12
               + (month(o.o_orderdate) - month(f.cm)) AS age_mo,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders o JOIN firsts f ON f.ck = o.o_custkey
      GROUP BY f.cm, age_mo
    )
    SELECT r.cm AS cohort_month, CAST(r.age_mo AS BIGINT) AS age_mo,
           CAST(sum(r2.rev_c) AS BIGINT) AS cum_rev_c,
           CAST(sum(r2.rev_c) // max(s.cohort_n) AS BIGINT)
             AS cum_rev_per_user_c
    FROM rev r
    JOIN rev r2 ON r2.cm = r.cm AND r2.age_mo <= r.age_mo
    JOIN sized s ON s.cm = r.cm
    GROUP BY r.cm, r.age_mo
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by first-order month, then
    cumulative cents revenue by cohort age in months — total and
    per-cohort-member (exact integer division) — the
    lifetime-value-over-time report behind every retention-economics
    decision.  The cumulative sum is a window over the
    (cohort, age) aggregate (the oracle replays it as a
    self-join ≤, the order-free formulation).

    Plan: a custkey min-agg, a (cohort, age) revenue agg (both
    partial-combined; the join reuses the custkey exchange), then a
    running-sum window over the report-sized frame — data-sized work
    ends at the second aggregation."""
    o = read_table(spark, sf_dir, "orders")
    firsts = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("cm")
    )
    sized = firsts.groupBy("cm").agg(F.count(F.lit(1)).alias("cohort_n"))
    rev = (
        o.join(firsts, o["o_custkey"] == firsts["ck"])
        .groupBy(
            "cm",
            (
                (F.year("o_orderdate") - F.year("cm")) * 12
                + (F.month("o_orderdate") - F.month("cm"))
            ).alias("age_mo"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("rev_c")
        )
    )
    w = (
        Window.partitionBy("cm")
        .orderBy("age_mo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.withColumn("cum_rev_c", F.sum("rev_c").over(w))
        .join(F.broadcast(sized), "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("age_mo").cast("bigint").alias("age_mo"),
            F.col("cum_rev_c").cast("bigint").alias("cum_rev_c"),
            F.expr("CAST(cum_rev_c DIV cohort_n AS BIGINT)").alias(
                "cum_rev_per_user_c"
            ),
        )
    )


# ---------------------------------------------------------------------------
# feature_hashing — the hashing trick (fixed-width sparse features)
# ---------------------------------------------------------------------------

_FHASH_BUCKETS = 16


@query(
    "feature_hashing",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    )
    SELECT doc_id,
           CAST(CAST('0x' || substring(md5('0|' || tok), 1, 15) AS BIGINT)
                % {_FHASH_BUCKETS} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM toks
    GROUP BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project an unbounded
    token vocabulary onto {b} fixed feature buckets via the portable
    hash — the standard way to featurize text for linear models without
    a vocabulary pass or a trained dictionary.  Sparse long-format
    output (doc, bucket, count); a dense array view is one groupBy
    pivot away.

    Plan: map-only tokenize+hash, one partial-combined agg on
    (doc, bucket) — the exchange carries at most {b} rows per document
    regardless of document size.  No vocabulary state anywhere, which
    is the point: the same expression featurizes a 100 TB corpus and a
    single streaming row identically."""
    from .functions.expressions import portable_hash64
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select("doc_id", F.explode(_tokens("text")).alias("tok"))
    return toks.groupBy(
        "doc_id",
        F.pmod(portable_hash64(F.col("tok")), F.lit(_FHASH_BUCKETS))
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


q_feature_hashing.__doc__ = (q_feature_hashing.__doc__ or "").format(b=_FHASH_BUCKETS)


# ---------------------------------------------------------------------------
# quantile_normalize — per-group percent-rank feature scaling
# ---------------------------------------------------------------------------


@query(
    "quantile_normalize",
    oracle="""
    SELECT o_orderkey,
           CAST(floor(
             percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(round(o_totalprice * 100)
                                                AS BIGINT), o_orderkey)
             * 1e6) AS BIGINT) AS pr_ppm
    FROM orders
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization within groups: each order's price
    mapped to its percent rank inside its priority class — the
    outlier-proof feature scaling (vs z-scores) and the per-group
    calibration step before cross-group comparison.  percent_rank =
    (rank−1)/(n−1) is a ratio of EXACT integers, so the double is
    bit-identical cross-engine and floor-ppm needs no tolerance; the
    ordering carries the orderkey tie-break on exact cents (raw double
    ordering would be stable too, but ranking on canonical integers is
    the catalog's determinism rule).

    Plan: one shuffle on the group key, one sort per group — the
    minimal cost of any exact ranking; approx-quantile bucketing is
    the sketch alternative at extreme group sizes."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint"),
        "o_orderkey",
    )
    return o.select(
        "o_orderkey",
        F.floor(F.percent_rank().over(w) * F.lit(1e6))
        .cast("bigint")
        .alias("pr_ppm"),
    )


# ---------------------------------------------------------------------------
# winsorized_mean — clamp-at-quantiles robust average
# ---------------------------------------------------------------------------


@query(
    "winsorized_mean",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT c_nationkey AS nationkey, o_totalprice AS price
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    q AS MATERIALIZED (
      SELECT nationkey,
             quantile_cont(price, 0.05) AS p05,
             quantile_cont(price, 0.95) AS p95
      FROM base GROUP BY nationkey
    )
    SELECT b.nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(least(greatest(b.price, q.p05), q.p95) * 100)
                         AS BIGINT))
                // count(*) AS BIGINT) AS winsorized_mean_c,
           CAST(sum(CAST(round(b.price * 100) AS BIGINT)) // count(*)
                AS BIGINT) AS raw_mean_c
    FROM base b JOIN q ON q.nationkey = b.nationkey
    GROUP BY b.nationkey
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value per customer nation: clamp each
    price into [p05, p95] (interpolated quantiles — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``), then the EXACT integer
    mean of the clamped cents (sum DIV count; a double mean would be
    summation-order-dependent) next to the raw mean for comparison —
    the third robust-statistics tool beside robust_outliers (MAD) and
    quantile_normalize (ranks): report averages that one whale order
    cannot move.

    Plan: same two-pass shape as robust_outliers — one nationkey agg
    for the 25-row quantile table, broadcast back, one final agg
    reusing the partitioning."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("o_totalprice").alias("price"),
    )
    q = base.groupBy("nationkey").agg(
        F.expr("percentile(price, 0.05)").alias("p05"),
        F.expr("percentile(price, 0.95)").alias("p95"),
    )
    clamped_c = F.round(
        F.least(F.greatest(F.col("price"), F.col("p05")), F.col("p95"))
        * 100,
        0,
    ).cast("bigint")
    raw_c = F.round(F.col("price") * 100, 0).cast("bigint")
    return (
        base.join(F.broadcast(q), "nationkey")
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(sum(CAST(round(least(greatest(price, p05), p95) * 100)"
                " AS BIGINT)) DIV count(1) AS BIGINT)"
            ).alias("winsorized_mean_c"),
            F.expr(
                "CAST(sum(CAST(round(price * 100) AS BIGINT))"
                " DIV count(1) AS BIGINT)"
            ).alias("raw_mean_c"),
        )
    )


# ---------------------------------------------------------------------------
# event_debounce — collapse bursts of repeated events
# ---------------------------------------------------------------------------

_DEBOUNCE_S = 300


@query(
    "event_debounce",
    oracle=f"""
    WITH gaps AS MATERIALIZED (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts)
                       > {_DEBOUNCE_S}
                  THEN 1 ELSE 0 END AS new_burst
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT *, sum(new_burst) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS burst_id
      FROM gaps
    )
    SELECT user_id, event_type, CAST(burst_id AS BIGINT) AS burst_id,
           CAST(min(event_id) AS BIGINT) AS kept_event_id,
           CAST(count(*) AS BIGINT) AS collapsed_n
    FROM isl GROUP BY user_id, event_type, burst_id
    """,
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/burst-collapse for telemetry: consecutive events of the
    same (user, type) within {s}s of the PREVIOUS event merge into one
    burst (gaps-and-islands: a new burst starts where the gap exceeds
    the window; burst id = running sum of starts), keeping the first
    event id and the collapsed count — the dedup every click/retry/
    heartbeat pipeline applies before counting anything.

    Plan: ONE shuffle on (user, type); the lag, the running sum and
    the final group-by all reuse that partitioning (Spark plans a
    single exchange + in-partition sorts).  Streaming twin: session
    windows with a {s}s gap (session_window_native)."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    prev = F.lag("ts").over(w)
    # events ship TIMESTAMP_NTZ; cast through timestamp (UTC session
    # keeps the instant) before epoch seconds — the funnel query's rule
    new_burst = F.when(
        prev.isNull()
        | (
            F.col("ts").cast("timestamp").cast("long")
            - prev.cast("timestamp").cast("long")
            > _DEBOUNCE_S
        ),
        1,
    ).otherwise(0)
    isl = e.select(
        "event_id", "user_id", "event_type", "ts",
        new_burst.alias("new_burst"),
    ).withColumn(
        "burst_id",
        F.sum("new_burst").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("user_id", "event_type", "burst_id").agg(
        F.min("event_id").cast("bigint").alias("kept_event_id"),
        F.count(F.lit(1)).cast("bigint").alias("collapsed_n"),
    ).select(
        "user_id", "event_type",
        F.col("burst_id").cast("bigint").alias("burst_id"),
        "kept_event_id", "collapsed_n",
    )


# ---------------------------------------------------------------------------
# region_share — percent-of-parent contribution in a hierarchy
# ---------------------------------------------------------------------------


@query(
    "region_share",
    oracle="""
    WITH rev AS MATERIALIZED (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    tot AS (SELECT sum(rev_c) AS world_c FROM rev)
    SELECT region, nation, CAST(rev_c AS BIGINT) AS rev_c,
           CAST(rev_c * 1000000 //
                sum(rev_c) OVER (PARTITION BY region) AS BIGINT)
             AS share_of_region_ppm,
           CAST(rev_c * 1000000 // max(t.world_c) OVER () AS BIGINT)
             AS share_of_world_ppm
    FROM rev CROSS JOIN tot t
    """,
)
def q_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent contribution through the region → nation
    hierarchy: each nation's cents revenue as an exact-integer ppm
    share of its region and of the world — the drill-down contribution
    report rollup_revenue's totals feed.  All shares are integer DIV
    over exact cents sums (order-independent; positive, so DIV ≡ //).

    Plan: dims broadcast onto the orders agg; the share windows run
    over the 25-row report frame.  Nothing after the first aggregation
    scales with data."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rev = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o["o_custkey"] == c["c_custkey"],
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("rev_c")
        )
    )
    tot = rev.agg(F.sum("rev_c").alias("world_c"))
    wr = Window.partitionBy("region")
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("rev_c").cast("bigint").alias("rev_c"),
            F.expr(
                "CAST(rev_c * 1000000 DIV sum(rev_c)"
                " OVER (PARTITION BY region) AS BIGINT)"
            ).alias("share_of_region_ppm"),
            F.expr(
                "CAST(rev_c * 1000000 DIV world_c AS BIGINT)"
            ).alias("share_of_world_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# conversion_hazard — discrete-time survival analysis of view→purchase
# ---------------------------------------------------------------------------


@query(
    "conversion_hazard",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS MATERIALIZED (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t0
      GROUP BY e.user_id
    ),
    mx AS (SELECT max(ts) AS horizon FROM events),
    dur AS MATERIALIZED (
      SELECT v.user_id,
             CASE WHEN p.tp IS NOT NULL
                  THEN date_diff('day', v.t0, p.tp)
                  ELSE date_diff('day', v.t0, x.horizon) END AS d,
             p.tp IS NOT NULL AS converted
      FROM v LEFT JOIN p ON p.user_id = v.user_id CROSS JOIN mx x
    ),
    byday AS MATERIALIZED (
      SELECT d, count(*) FILTER (WHERE converted) AS conv,
             count(*) AS ended
      FROM dur GROUP BY d
    ),
    tot AS (SELECT count(*) AS n FROM dur)
    SELECT CAST(b.d AS BIGINT) AS day,
           CAST(max(t.n) - coalesce(sum(b2.ended), 0) AS BIGINT) AS at_risk,
           CAST(b.conv AS BIGINT) AS conversions,
           CAST(b.conv * 1000000
                // NULLIF(max(t.n) - coalesce(sum(b2.ended), 0), 0)
                AS BIGINT) AS hazard_ppm
    FROM byday b
    LEFT JOIN byday b2 ON b2.d < b.d
    CROSS JOIN tot t
    GROUP BY b.d, b.conv
    """,
)
def q_conversion_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis of view→purchase conversion: per
    whole-day duration — days from first view to first purchase, or to
    the observation horizon for users who never convert (RIGHT
    CENSORING, the thing a naive conversion-rate query gets wrong) —
    the risk set (users still unconverted and uncensored at day d),
    the conversions at d, and the discrete hazard conv/at_risk in
    exact-integer ppm.  The Kaplan-Meier curve is the running product
    of (1 − hazard); the hazard TABLE is the engine primitive (a
    cross-engine float product would be order-dependent — the product
    is one array fold away for a consumer).

    Plan: two user-level min-aggs (the second joins only users with a
    first view), a 1-row horizon broadcast, a day-level agg, and the
    risk-set running sum — replayed in the oracle as an order-free
    self-join ≤, computed in Spark as a window cumsum over the
    day-level frame (report-sized; data-sized work ends at the
    user-level aggs)."""
    e = read_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    mx = e.agg(F.max("ts").alias("horizon"))
    dur = (
        v.join(p, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("tp").isNotNull(), F.datediff("tp", "t0")
            )
            .otherwise(F.datediff("horizon", "t0"))
            .alias("d"),
            F.col("tp").isNotNull().alias("converted"),
        )
    )
    byday = dur.groupBy("d").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("conv"),
        F.count(F.lit(1)).alias("ended"),
    )
    tot = dur.agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        byday.crossJoin(F.broadcast(tot))
        .withColumn(
            "at_risk",
            F.col("n") - F.coalesce(F.sum("ended").over(w), F.lit(0)),
        )
        .select(
            F.col("d").cast("bigint").alias("day"),
            F.col("at_risk").cast("bigint").alias("at_risk"),
            F.col("conv").cast("bigint").alias("conversions"),
            F.expr(
                "CAST(conv * 1000000 DIV NULLIF(at_risk, 0) AS BIGINT)"
            ).alias("hazard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# skew_report — join-key distribution diagnostics
# ---------------------------------------------------------------------------


@query(
    "skew_report",
    oracle="""
    WITH ck AS (
      SELECT 'orders.o_custkey' AS keyname, o_custkey AS k FROM orders
      UNION ALL
      SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
    ),
    per AS MATERIALIZED (
      SELECT keyname, k, count(*) AS c FROM ck GROUP BY keyname, k
    )
    SELECT keyname,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_key_share_ppm,
           CAST(max(c) * count(*) * 1000000 // sum(c) AS BIGINT)
             AS max_over_mean_ppm
    FROM per GROUP BY keyname
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report to run BEFORE picking a
    join strategy at 100 TB: per candidate key, distinct-key count,
    the hottest key's row count, its exact-ppm share of the table, and
    the max/mean ratio (1e6 = perfectly uniform; ≫1e6 = a hot key that
    will strand one reducer — the trigger for salting/skew-join,
    operators/skew.py).  All-integer arithmetic.

    Plan: one partial-combined count per (key column, key) — the same
    aggregation a shuffle would do, surfaced as statistics instead of
    suffered as a straggler — then a statistics-sized rollup."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    ck = (
        o.select(
            F.lit("orders.o_custkey").alias("keyname"),
            F.col("o_custkey").alias("k"),
        )
        .unionByName(
            li.select(
                F.lit("lineitem.l_suppkey").alias("keyname"),
                F.col("l_suppkey").alias("k"),
            )
        )
        .unionByName(
            li.select(
                F.lit("lineitem.l_partkey").alias("keyname"),
                F.col("l_partkey").alias("k"),
            )
        )
    )
    per = ck.groupBy("keyname", "k").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("keyname").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.expr("CAST(max(c) * 1000000 DIV sum(c) AS BIGINT)").alias(
            "top_key_share_ppm"
        ),
        F.expr(
            "CAST(max(c) * count(1) * 1000000 DIV sum(c) AS BIGINT)"
        ).alias("max_over_mean_ppm"),
    )


# ---------------------------------------------------------------------------
# resample_interpolate — per-key time grid with linear interpolation
# ---------------------------------------------------------------------------


@query(
    "resample_interpolate",
    oracle="""
    WITH obs AS MATERIALIZED (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'purchase'
    ),
    bounds AS MATERIALIZED (
      SELECT user_id,
             date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
      FROM bounds
    ),
    mixed AS MATERIALIZED (
      SELECT user_id, ts, CAST(0 AS INT) AS kind, value,
             epoch_us(ts) AS es, event_id AS eid
      FROM obs
      UNION ALL
      SELECT user_id, ts, 1, NULL, epoch_us(ts), -1 FROM grid
    ),
    filled AS (
      SELECT user_id, ts, kind,
             last_value(value IGNORE NULLS) OVER wp AS v0,
             last_value(CASE WHEN value IS NOT NULL THEN es END
                        IGNORE NULLS) OVER wp AS t0,
             first_value(value IGNORE NULLS) OVER wf AS v1,
             first_value(CASE WHEN value IS NOT NULL THEN es END
                         IGNORE NULLS) OVER wf AS t1,
             es
      FROM mixed
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts, kind, eid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY ts, kind, eid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts AS grid_ts,
           CAST(floor(
             (v0 + (v1 - v0) * (CAST(es - t0 AS DOUBLE)
                                / CAST(t1 - t0 AS DOUBLE))) * 1e4)
             AS BIGINT) AS v_interp_e4
    FROM filled
    WHERE kind = 1 AND v0 IS NOT NULL AND v1 IS NOT NULL AND t1 > t0
    """,
)
def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with linear interpolation: each user's
    purchase values resampled onto an hourly grid between their first
    and last observation, interior grid points interpolated between the
    surrounding observations — the gap-filling a metrics store does
    before aligning series.  Implemented with the UNION-then-fill
    device: observations and grid points interleave in ONE per-user
    ordered pass (obs sort before a same-instant grid point, so an
    exact hit interpolates to itself with frac = 0); a forward
    ignore-nulls ``last`` carries (t0, v0), a backward ``first``
    carries (t1, v1) — no as-of join, no cartesian.

    Determinism: the fraction is a ratio of exact epoch-second
    integers; v0 + (v1−v0)·frac is the same IEEE tree on both engines,
    so floor-e4 needs no tolerance.  Plan: two windows over the SAME
    (user, ts, kind, eid) sort — one exchange, one sort, both fills in
    a single stage pair."""
    e = read_table(spark, sf_dir, "events")
    obs = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    bounds = obs.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )
    # exact integer MICROSECONDS on both engines (DuckDB epoch() returns
    # fractional-second doubles; a seconds cast truncates) — the frac
    # ratio must divide the same exact integers
    es = F.unix_micros(F.col("ts").cast("timestamp"))
    mixed = obs.select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "value",
        es.alias("es"),
        F.col("event_id").alias("eid"),
    ).unionByName(
        grid.select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            F.lit(None).cast("double").alias("value"),
            es.alias("es"),
            F.lit(-1).cast("bigint").alias("eid"),
        )
    )
    # PIN the window's width: the grid explode emits millions of NARROW
    # rows (tens of MB for ~1M rows), so AQE's size-based coalescing
    # (parallelismFirst=false, session.py) would shrink the exchange to
    # ~1 partition and serialize the CPU-bound per-user sort — measured
    # 3x slower at sf0.1.  An explicit hash repartition on the window
    # key is exempt from AQE coalescing, satisfies the window's
    # required distribution (no second exchange), and keeps the sort
    # at full parallelism.
    width = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    mixed = mixed.repartition(width, "user_id")
    base = Window.partitionBy("user_id").orderBy("ts", "kind", "eid")
    wp = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    t_obs = F.when(F.col("value").isNotNull(), F.col("es"))
    filled = mixed.select(
        "user_id",
        "ts",
        "kind",
        "es",
        F.last("value", ignorenulls=True).over(wp).alias("v0"),
        F.last(t_obs, ignorenulls=True).over(wp).alias("t0"),
        F.first("value", ignorenulls=True).over(wf).alias("v1"),
        F.first(t_obs, ignorenulls=True).over(wf).alias("t1"),
    )
    frac = (F.col("es") - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    return filled.filter(
        (F.col("kind") == 1)
        & F.col("v0").isNotNull()
        & F.col("v1").isNotNull()
        & (F.col("t1") > F.col("t0"))
    ).select(
        "user_id",
        F.col("ts").alias("grid_ts"),
        F.floor(
            (F.col("v0") + (F.col("v1") - F.col("v0")) * frac) * F.lit(1e4)
        )
        .cast("bigint")
        .alias("v_interp_e4"),
    )


# ---------------------------------------------------------------------------
# bfs_hops — breadth-first hop distances on the co-purchase graph
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4


def _duck_bfs_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS MATERIALIZED (
      SELECT v, min(d) AS d FROM (
        SELECT v, d FROM {prev}
        UNION ALL
        SELECT e.b AS v, p.d + 1 FROM {prev} p JOIN edges e ON e.a = p.v
      ) u GROUP BY v
    )"""


@query(
    "bfs_hops",
    oracle=f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    und AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= 3
    ),
    edges AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    src AS (SELECT min(a) AS s FROM edges),
    d0 AS MATERIALIZED (SELECT s AS v, 0 AS d FROM src),
    {",".join(_duck_bfs_iter(f"d{i}", f"d{i + 1}") for i in range(_BFS_ROUNDS))}
    SELECT CAST(d AS BIGINT) AS hops, CAST(count(*) AS BIGINT) AS n_nodes
    FROM d{_BFS_ROUNDS} GROUP BY d
    """,
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distances from the minimum vertex of the
    customer co-purchase graph (≥3 shared parts — the sparse projection
    triangle_count established), {r} unrolled frontier expansions:
    dist' = min(dist, min over in-neighbors dist+1) — the min-plus
    relaxation whose fixpoint is single-source shortest hops; nodes
    beyond {r} hops stay unreported (the bounded-rounds contract, same
    device as pagerank_parts).  Output: nodes per hop count.

    Plan: the edge list materializes once (localCheckpoint) and each
    round is one join + one min-agg on the vertex key — the frontier
    table stays ≤ |reachable| rows; at cluster scale the per-round
    parquet materialization of operators/graph.py applies unchanged.
    The oracle replays the identical rounds as chained CTEs."""
    from .plans.co_purchase import co_purchase_edges

    und = co_purchase_edges(spark, sf_dir)  # shared staged edge list
    edges = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    src = edges.agg(F.min("a").alias("s"))
    dist = src.select(F.col("s").alias("v"), F.lit(0).alias("d"))
    for _ in range(_BFS_ROUNDS):
        expanded = dist.unionByName(
            dist.join(edges, dist["v"] == edges["a"]).select(
                F.col("b").alias("v"), (F.col("d") + 1).alias("d")
            )
        )
        dist = expanded.groupBy("v").agg(F.min("d").alias("d"))
    return dist.groupBy(F.col("d").cast("bigint").alias("hops")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


q_bfs_hops.__doc__ = (q_bfs_hops.__doc__ or "").format(r=_BFS_ROUNDS)


# ---------------------------------------------------------------------------
# basket_rules — association rule mining over order baskets
# ---------------------------------------------------------------------------

_RULES_TOPK = 20


@query(
    "basket_rules",
    oracle=f"""
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT o) AS n FROM items),
    freq AS MATERIALIZED (
      SELECT item, count(*) AS nf FROM items GROUP BY item
    ),
    pairs AS MATERIALIZED (
      SELECT x.item AS a, y.item AS b, count(*) AS nab
      FROM items x JOIN items y ON x.o = y.o AND x.item <> y.item
      GROUP BY x.item, y.item
    )
    SELECT p.a AS antecedent, p.b AS consequent,
           CAST(p.nab AS BIGINT) AS n_both,
           CAST(p.nab * 1000000 // fa.nf AS BIGINT) AS confidence_ppm,
           CAST(p.nab * s.n * 1000000 // (fa.nf * fb.nf) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN freq fa ON fa.item = p.a
    JOIN freq fb ON fb.item = p.b
    CROSS JOIN nb s
    ORDER BY n_both DESC, confidence_ppm DESC, antecedent, consequent
    LIMIT {_RULES_TOPK}
    """,
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (market-basket analysis):
    DIRECTIONAL a→b rules with exact-integer support (co-orders),
    confidence (n_ab/n_a) and lift (n_ab·N/(n_a·n_b)) in ppm — the
    complement of ``token_cooccurrence``'s symmetric matrix, because
    confidence is asymmetric (milk→bread ≠ bread→milk).

    Plan: the pair expansion is a basket-equijoined self-join of the
    distinct item postings — quadratic only in items-per-order
    (single digits here), never in the catalog; item frequencies and
    the 1-row basket count broadcast; top-k is a TakeOrdered with a
    fully deterministic (support, confidence, a, b) order."""
    li = read_table(spark, sf_dir, "lineitem")
    width = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    # ONE explicit basket-keyed exchange (r12, guide §2.3/§2.4): the
    # distinct, the basket count, and the pair kernel's collect_list
    # all cluster on the basket key, so they share this exchange (an
    # explicit count is AQE-exempt — keeps the CPU-heavy pair
    # expansion parallel, the r11 width-pin rationale).
    items = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("item")
        )
        .repartition(width, "o")
        .distinct()
    )
    nb = items.select("o").distinct().agg(F.count(F.lit(1)).alias("n"))
    freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("nf"))
    # per-basket pair expansion via the shared Arrow posting-pair
    # kernel (operators/pairgen.py, r12 — the self-join shipped the
    # raw ~9M-row pair stream into the (a, b) aggregate exchange;
    # the kernel emits batch-combined partial counts instead).  The
    # kernel yields undirected a < b counts; the directional rule
    # table is its symmetric closure — count(a→b) == count(b→a) ==
    # shared-basket count, exactly the self-join's multiset.
    und = posting_pair_counts(items, "o", "item", repartition=False)
    pairs = und.select(
        "a", "b", F.col("i").alias("nab")
    ).unionByName(
        und.select(
            F.col("b").alias("a"), F.col("a").alias("b"),
            F.col("i").alias("nab"),
        )
    )
    fa = freq.select(F.col("item").alias("a"), F.col("nf").alias("nf_a"))
    fb = freq.select(F.col("item").alias("b"), F.col("nf").alias("nf_b"))
    return (
        pairs.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("nab").cast("bigint").alias("n_both"),
            F.expr("CAST(nab * 1000000 DIV nf_a AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST(nab * n * 1000000 DIV (nf_a * nf_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(
            F.col("n_both").desc(),
            F.col("confidence_ppm").desc(),
            "antecedent",
            "consequent",
        )
        .limit(_RULES_TOPK)
    )


# ---------------------------------------------------------------------------
# cascade_delete_report — right-to-be-forgotten impact analysis
# ---------------------------------------------------------------------------


@query(
    "cascade_delete_report",
    oracle="""
    WITH victims AS MATERIALIZED (
      SELECT c_custkey AS ck FROM customer WHERE c_custkey % 53 = 0
    ),
    del_orders AS MATERIALIZED (
      SELECT o_orderkey FROM orders JOIN victims ON ck = o_custkey
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM victims) AS BIGINT) AS rows_deleted,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_total
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM del_orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem
                 JOIN del_orders ON del_orders.o_orderkey = lineitem.l_orderkey
                ) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
)
def q_cascade_delete_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact report: given a victim set of
    customers, count how many rows each table in the FK chain
    customer -> orders -> lineitem would lose, next to its total.

    Mirrors the reference's staged-cascade deletes
    (``sql/import_original_triage_needs_and_notes.sql:23-28`` deletes
    child rows through the FK chain before re-import); here the
    cascade is *measured*, not applied, which is the audit a GDPR
    erasure request needs before touching 100 TB.

    Scale notes: membership flags come from FK joins (not from
    re-evaluating the victim predicate downstream, which would be
    wrong for an arbitrary victim list).  Both joins are plain equi
    joins AQE can broadcast when the victim side is small; each
    per-table report row is a full-scan aggregate with map-side
    partial counts, so the whole plan is three scans + two joins and
    no driver-side action.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    victims = (
        customer.where((F.col("c_custkey") % 53) == 0)
        .select(F.col("c_custkey").alias("ck"))
    )
    # orders flagged via FK join (o_custkey is not unique; ck is, so
    # the left join cannot multiply order rows).
    orders_flagged = orders.join(
        victims, F.col("o_custkey") == F.col("ck"), "left"
    ).select("o_orderkey", F.col("ck").isNotNull().alias("is_del"))
    del_orders = orders_flagged.where("is_del").select(
        F.col("o_orderkey").alias("dk")
    )
    line_flagged = lineitem.join(
        del_orders, F.col("l_orderkey") == F.col("dk"), "left"
    ).select(F.col("dk").isNotNull().alias("is_del"))

    def _report(df: DataFrame, name: str, is_del: Column) -> DataFrame:
        return df.agg(
            F.count(F.when(is_del, F.lit(1))).alias("rows_deleted"),
            F.count(F.lit(1)).alias("rows_total"),
        ).select(F.lit(name).alias("tbl"), "rows_deleted", "rows_total")

    return (
        _report(customer, "customer", (F.col("c_custkey") % 53) == 0)
        .unionByName(_report(orders_flagged, "orders", F.col("is_del")))
        .unionByName(_report(line_flagged, "lineitem", F.col("is_del")))
    )
