"""Round-10 catalog, tier 4 — ANN index health (second wave), graph
structure, and data-layout planning:

* ``hdbscan_core_distances`` — per-point core distance (k-th NN
  cosine distance, k=4) computed WITHIN IVF cells: the density
  estimate HDBSCAN builds on, emitted per cell so sparse cells (high
  core distances → low density → candidate noise) are visible.  The
  cell scoping is the scale device: all-pairs kNN is quadratic in the
  corpus; within-cell it is quadratic only in the bounded cell
  population (the ``semantic_dedup`` doctrine).
* ``knn_reciprocity_audit`` — fraction of within-cell kNN edges whose
  reverse edge also exists.  Hubness (low reciprocity) is the known
  failure mode of high-dimensional kNN graphs — a hub absorbs
  everyone's edge lists and graph-based ANN quality collapses.
* ``centroid_drift_audit`` — stored IVF centroid vs the RECOMPUTED
  mean of its assigned vectors (cosine drift, ppm).  The index-
  maintenance trigger: drift grows as the corpus churns under a
  stale centroid map; this is the number that says "retrain".
* ``cosine_dot_topk_overlap`` — per query, overlap@10 between
  cosine-ranked and raw-dot-ranked shortlists.  If vector norms are
  uniform the two agree; divergence means norm skew is steering dot-
  product indexes toward long vectors (the classic MIPS-vs-cosine
  trap).  Brute by design — it audits the metric, not the index.
* ``ann_contrast_audit`` — relative contrast per query (mean corpus
  distance / nearest distance): the standard query-difficulty
  measure — RC → 1 means the nearest neighbor is barely closer than
  a random point and EVERY index will struggle (the honest "this
  workload is hard" number next to the recall audits).
* ``graph_degree_gini`` — Gini of the supplier-degree distribution
  over distinct supplier→part edges, via the tie-grouped histogram
  form.  The one-number skew read that decides salting for graph
  joins (``degree_assortativity``'s partner: assortativity reads
  WHO connects, Gini reads HOW UNEQUAL).
* ``range_partition_planner`` — 32 range-partition boundaries for
  orders on o_totalprice from the $10-bucket cumulative histogram,
  with each planned partition's expected rows and skew ratio: the
  layout-planning op behind repartitionByRange at 100 TB (histogram
  in, boundary table out — never a data-sized sort).
* ``doc_length_lognormal_fit`` — method-of-moments lognormal fit of
  document lengths (per-doc micro-nat ln floors, then exact integer
  moments) + the actual median: the length model behind packing and
  truncation-budget decisions for a training corpus.

Reference parity: beyond-reference embedding/graph/layout tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8e import _cos_e6_pre, _dot, _norm
from .catalog_r9e import _cent_assign_ctes

_CORE_K = 4
_KNN_K = 5
_OVERLAP_K = 10
_OVERLAP_QUERY_MOD = 50  # the catalog-wide 2% query-set rule
_PLAN_PARTS = 32


# ---------------------------------------------------------------------------
# hdbscan_core_distances
# ---------------------------------------------------------------------------


def _core_sql(dialect: Dialect) -> str:
    cos_ab = _cos_e6_pre(
        dialect, "ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm"
    )
    return f"""
    WITH {_cent_assign_ctes(dialect)},
    pairc AS (
      SELECT a.vec_id, a.cell_id, b.vec_id AS bid, {cos_ab} AS cos_e6
      FROM assign a
      JOIN embn ea ON ea.vec_id = a.vec_id
      JOIN assign b ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
      JOIN embn eb ON eb.vec_id = b.vec_id
    ),
    nn AS (
      SELECT vec_id, cell_id,
        1000000 - cos_e6 AS dist_e6,
        row_number() OVER (PARTITION BY vec_id
          ORDER BY cos_e6 DESC, bid) AS rn
      FROM pairc
    ),
    core AS (
      SELECT vec_id, cell_id, dist_e6 AS core_dist_e6
      FROM nn WHERE rn = {_CORE_K}
    ),
    pop AS (
      SELECT cell_id, CAST(count(*) AS BIGINT) AS n_pts
      FROM assign GROUP BY cell_id
    )
    SELECT p.cell_id, p.n_pts,
      CAST(count(c.vec_id) AS BIGINT) AS n_with_core,
      CAST(sum(c.core_dist_e6){dialect.div}count(c.vec_id) AS BIGINT)
        AS mean_core_dist_e6,
      CAST(max(c.core_dist_e6) AS BIGINT) AS max_core_dist_e6
    FROM pop p LEFT JOIN core c ON c.cell_id = p.cell_id
    GROUP BY p.cell_id, p.n_pts
    ORDER BY p.cell_id
    """


sql_query(
    "hdbscan_core_distances", _core_sql, "embeddings",
    doc="""HDBSCAN-style core distances over the IVF-celled corpus: for
    every vector, the distance to its {_CORE_K}-th nearest neighbor
    WITHIN its cell (cosine distance, one ppm floor per pair), rolled
    up per cell (count / mean / max).  Core distance is the inverse
    density estimate that seeds HDBSCAN's mutual-reachability graph;
    a cell whose mean core distance is large is a low-density region
    whose members are noise/outlier candidates for curation.  Points
    in cells smaller than k+1 have no core distance — n_with_core vs
    n_pts makes that visible instead of silent (ROADMAP r10 item).

    Scale: the kNN join is cell-scoped — quadratic in the CELL
    population, not the corpus (bounded by the capacity doctrine,
    PERF.md "Scale probe: semantic_dedup"); the rank window partitions per
    point.  Nothing global except the nlist-row rollup.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# knn_reciprocity_audit
# ---------------------------------------------------------------------------


def _recip_sql(dialect: Dialect) -> str:
    cos_ab = _cos_e6_pre(
        dialect, "ea.embedding", "eb.embedding", "ea.nrm", "eb.nrm"
    )
    return f"""
    WITH {_cent_assign_ctes(dialect)},
    pairc AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {cos_ab} AS cos_e6
      FROM assign a
      JOIN embn ea ON ea.vec_id = a.vec_id
      JOIN assign b ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
      JOIN embn eb ON eb.vec_id = b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
          row_number() OVER (PARTITION BY src
            ORDER BY cos_e6 DESC, dst) AS rn
        FROM pairc
      ) t WHERE rn <= {_KNN_K}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_edges,
      CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_reciprocal,
      CAST((sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000){dialect.div}count(*) AS BIGINT) AS reciprocity_ppm
    FROM knn k
    LEFT JOIN knn r ON r.src = k.dst AND r.dst = k.src
    """


sql_query(
    "knn_reciprocity_audit", _recip_sql, "embeddings",
    doc="""Reciprocity of the within-cell {_KNN_K}-NN digraph: the share
    of edges a→b with b→a also present.  High-dimensional kNN graphs
    degrade through HUBNESS — a few points appear in everyone's
    neighbor list while most appear in none — and reciprocity is its
    cheapest observable: hubs receive edges they do not return, so
    reciprocity falls.  Graph-ANN indexes (HNSW-family) and kNN
    classifiers both lose accuracy exactly in that regime; this audit
    prices the corpus before such an index is even built.

    Scale: same cell-scoped kNN device as ``hdbscan_core_distances``
    (quadratic only within bounded cells); the reciprocity probe is a
    self-equi-join on (dst, src) — shuffle on vector ids, no skew
    (out-degree is exactly k for every source).

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# centroid_drift_audit
# ---------------------------------------------------------------------------


def _drift_sql(dialect: Dialect) -> str:
    if dialect.spark:
        epos = """
      SELECT a.cell_id, pos,
        CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS v_e6
      FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
      LATERAL VIEW posexplode(e.embedding) t AS pos, val"""
        cpos = """
      SELECT cell_id, pos,
        CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS c_e6
      FROM cent LATERAL VIEW posexplode(cvec) t AS pos, val"""
    else:
        epos = """
      SELECT a.cell_id,
        unnest(range(1, len(e.embedding) + 1)) - 1 AS pos,
        CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000)
             AS BIGINT) AS v_e6
      FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id"""
        cpos = """
      SELECT cell_id,
        unnest(range(1, len(cvec) + 1)) - 1 AS pos,
        CAST(floor(CAST(unnest(cvec) AS DOUBLE) * 1000000)
             AS BIGINT) AS c_e6
      FROM cent"""
    return f"""
    WITH {_cent_assign_ctes(dialect)},
    epos AS ({epos}),
    mean AS (
      SELECT cell_id, pos,
        CAST(sum(v_e6){dialect.div}count(*) AS BIGINT) AS m_e6
      FROM epos GROUP BY cell_id, pos
    ),
    cpos AS ({cpos}),
    dots AS (
      SELECT m.cell_id,
        sum(m.m_e6 * c.c_e6) AS cm,
        sum(m.m_e6 * m.m_e6) AS mm,
        sum(c.c_e6 * c.c_e6) AS cc
      FROM mean m JOIN cpos c
        ON c.cell_id = m.cell_id AND c.pos = m.pos
      GROUP BY m.cell_id
    ),
    drift AS (
      SELECT cell_id,
        1000000 - CAST(floor(1000000 * CAST(cm AS DOUBLE)
          / (sqrt(CAST(mm AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))))
          AS BIGINT) AS drift_ppm
      FROM dots
    )
    SELECT d.cell_id, p.n_pts, d.drift_ppm
    FROM drift d
    JOIN (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_pts
          FROM assign GROUP BY cell_id) p ON p.cell_id = d.cell_id
    ORDER BY d.cell_id
    """


sql_query(
    "centroid_drift_audit", _drift_sql, "embeddings",
    doc="""IVF centroid staleness: per cell, the cosine drift (ppm)
    between the STORED centroid and the RECOMPUTED mean of the
    vectors currently assigned to it.  The deterministic hash-picked
    centroids every catalog IVF query uses are a stand-in for a
    trained codebook; as a corpus churns, assignment mass moves and
    the stored centroid stops representing its cell — recall decays
    SILENTLY (``ivf_nprobe_recall_curve`` would catch it after the
    fact; this audit catches it from the index alone, no queries
    needed).  Element-wise means are computed on per-element ppm
    FLOORS of the float embeddings, so the mean, both norms, and the
    dot product are exact integers — the only doubles are the final
    two sqrts (fixed op order, one floor).

    Scale: one position-exploded aggregation (64·n rows, map-side
    combined to nlist·64) and an nlist-row join — no quadratic step
    anywhere.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# cosine_dot_topk_overlap
# ---------------------------------------------------------------------------


def _overlap_sql(dialect: Dialect) -> str:
    # The test corpus is unit-norm (cosine == dot, overlap trivially
    # 1.0), so the instrument is CALIBRATED against an injected
    # deterministic norm profile: corpus vector e gets length factor
    # (4 + vec_id % 5)/4 ∈ {1.0 .. 2.0}.  On a production corpus the
    # injection is dropped and the raw dot is ranked.
    #
    # r11: the raw dot is computed ONCE per pair in ``pd`` and reused
    # by BOTH rankings (cosine = dot/(nrm·qnrm) with precomputed
    # norms, ranked-dot = factor·dot) — the pair stage previously
    # paid four interpreted folds per pair (dot + two self-dots for
    # the cosine, plus a second dot for the MIPS ranking); the values
    # are bit-identical (same ops, same order).
    return f"""
    WITH embn AS (
      SELECT vec_id, embedding, {_norm(dialect, "embedding")} AS nrm
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id, embedding, nrm FROM embn
      WHERE vec_id % {_OVERLAP_QUERY_MOD} = 0
    ),
    pd AS (
      SELECT q.vec_id AS query_id, e.vec_id,
        {_dot(dialect, "e.embedding", "q.embedding")} AS dot_d,
        e.nrm AS enrm, q.nrm AS qnrm
      FROM embn e JOIN qs q ON e.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id
          ORDER BY CAST(floor(1000000 * dot_d / (enrm * qnrm))
                        AS BIGINT) DESC, vec_id) AS rn_cos,
        row_number() OVER (PARTITION BY query_id
          ORDER BY CAST(floor(1000000 *
                   (CAST(4 + vec_id % 5 AS DOUBLE) / 4 * dot_d))
                        AS BIGINT) DESC,
                   vec_id) AS rn_dot
      FROM pd
    )
    SELECT query_id,
      CAST(sum(CASE WHEN rn_cos <= {_OVERLAP_K}
                     AND rn_dot <= {_OVERLAP_K}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      CAST((sum(CASE WHEN rn_cos <= {_OVERLAP_K}
                      AND rn_dot <= {_OVERLAP_K}
                THEN 1 ELSE 0 END) * 1000000){dialect.div}{_OVERLAP_K}
           AS BIGINT) AS overlap_ppm
    FROM scored
    GROUP BY query_id
    ORDER BY query_id
    """


sql_query(
    "cosine_dot_topk_overlap", _overlap_sql, "embeddings",
    doc="""Per query, the overlap@{_OVERLAP_K} between the cosine-ranked
    and the raw-inner-product-ranked top lists over the corpus.  The
    two metrics agree exactly on unit-norm vectors; any gap measures
    how much NORM SKEW is steering a dot-product (MIPS) index away
    from the cosine semantics a retrieval stack usually intends —
    the classic silent mismatch when an index built for dot is
    queried with cosine intent.  Brute per query BY DESIGN (the
    ``hard_negative_recall_audit`` class: the audit prices a metric,
    so it must not itself be approximated).

    CALIBRATION NOTE: the synthetic test corpus is unit-norm, where
    cosine ≡ dot and the overlap is trivially 1.0 — so the instrument
    runs against an INJECTED deterministic norm profile ((4 + vec_id
    mod 5)/4, the adversary-probe discipline of tools/*_skew_probe):
    a correct implementation must now measure partial overlap that
    varies per query.  On a production corpus the injection is
    dropped and the raw dot is ranked.

    Scale: the scored frame is queries × corpus with per-query
    PARTITIONED rank windows — the bounded-query-set audit shape;
    production sizing keeps the query sample fixed as the corpus
    grows.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# ann_contrast_audit
# ---------------------------------------------------------------------------


def _contrast_sql(dialect: Dialect) -> str:
    cos_eq = _cos_e6_pre(
        dialect, "e.embedding", "q.embedding", "e.nrm", "q.nrm"
    )
    return f"""
    WITH embn AS (
      SELECT vec_id, embedding, {_norm(dialect, "embedding")} AS nrm
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id, embedding, nrm FROM embn
      WHERE vec_id % {_OVERLAP_QUERY_MOD} = 0
    ),
    dists AS (
      SELECT q.vec_id AS query_id,
        1000000 - {cos_eq} AS dist_e6
      FROM embn e JOIN qs q ON e.vec_id <> q.vec_id
    )
    SELECT query_id,
      CAST(count(*) AS BIGINT) AS n_corpus,
      CAST(min(dist_e6) AS BIGINT) AS nn_dist_e6,
      CAST(sum(dist_e6){dialect.div}count(*) AS BIGINT) AS mean_dist_e6,
      CAST(((sum(dist_e6){dialect.div}count(*)) * 1000000)
           {dialect.div}min(dist_e6) AS BIGINT) AS relative_contrast_e6
    FROM dists
    GROUP BY query_id
    ORDER BY query_id
    """


sql_query(
    "ann_contrast_audit", _contrast_sql, "embeddings",
    doc="""Relative contrast per query: mean corpus cosine distance over
    nearest-neighbor distance (He et al.'s query-difficulty measure).
    RC → 1 is the curse-of-dimensionality regime — the true neighbor
    is barely closer than a random point, so EVERY ANN index needs
    high nprobe/ef to hold recall; RC ≫ 1 queries are easy at any
    setting.  Read next to ``ivf_nprobe_recall_curve``: the curve
    says what recall the index delivers, contrast says what the
    workload inherently costs.  Distances are the catalog's exact
    ppm floors; mean is a truncating integer division.

    Scale: queries × corpus aggregates, partitioned per query — the
    bounded-query-set audit shape (no window, pure partial
    aggregation, map-side combined).

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# graph_degree_gini
# ---------------------------------------------------------------------------


def _dgini_sql(dialect: Dialect) -> str:
    return f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    deg AS (
      SELECT s, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY s
    ),
    hist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS m FROM deg GROUP BY d
    ),
    cum AS (
      SELECT d, m,
        sum(m) OVER (ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m AS a
      FROM hist
    ),
    agg AS (
      SELECT CAST(sum(m) AS BIGINT) AS n,
        sum(CAST(d AS {dialect.big}) * m) AS t,
        sum(CAST(d AS {dialect.big}) * (2 * CAST(m AS {dialect.big}) * a
            + CAST(m AS {dialect.big}) * (m + 1))) AS s2
      FROM cum
    )
    SELECT n AS n_suppliers, CAST(t AS BIGINT) AS n_edges,
      CAST(((s2 - (n + 1) * t) * 1000000){dialect.div}(n * t) AS BIGINT)
        AS degree_gini_e6
    FROM agg
    """


sql_query(
    "graph_degree_gini", _dgini_sql, "lineitem",
    doc="""Gini coefficient of the supplier-degree distribution over the
    distinct supplier→part edge set: G = (2Σᵢi·x₍ᵢ₎ − (N+1)Σx)/(NΣx),
    evaluated in the TIE-GROUPED histogram form — a degree value d
    with multiplicity m starting after cumulative count a contributes
    d·(2ma + m(m+1)) to the doubled rank sum, so the whole statistic
    is exact integers over the DISTINCT-degree frame (never a
    data-sized sort; the ``gini_lorenz_audit`` device applied to
    graph structure).  High Gini = hub-dominated degree distribution
    = the regime where ``skew_salted_join``'s salting and
    ``degree_assortativity``'s mixing read become load-bearing.

    Scale: distinct-edge aggregate (map-side combined) → per-supplier
    counts → bounded distinct-degree histogram.

    Reference parity: beyond-reference graph tier.""",
)


# ---------------------------------------------------------------------------
# range_partition_planner
# ---------------------------------------------------------------------------


def _planner_sql(dialect: Dialect) -> str:
    pids = ", ".join(f"({i})" for i in range(1, _PLAN_PARTS + 1))
    pidtab = (
        f"SELECT CAST(pid AS BIGINT) AS pid FROM {dialect.values(pids, 't(pid)')}"
    )
    return f"""
    WITH h AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT){dialect.div}1000 AS v,
        CAST(count(*) AS BIGINT) AS m
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v, m,
        sum(m) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM h
    ),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM h),
    pids AS ({pidtab}),
    bounds AS (
      SELECT p.pid, min(cum.v) AS hi_v
      FROM pids p CROSS JOIN tot
      JOIN cum ON cum.c >= (p.pid * tot.n){dialect.div}{_PLAN_PARTS}
      GROUP BY p.pid
    ),
    parts AS (
      SELECT b.pid, b.hi_v,
        lag(b.hi_v) OVER (ORDER BY b.pid) AS lo_v
      FROM bounds b
    ),
    sized AS (
      SELECT p.pid, p.lo_v, p.hi_v,
        CAST((SELECT max(c.c) FROM cum c WHERE c.v <= p.hi_v)
          - coalesce((SELECT max(c.c) FROM cum c WHERE c.v <= p.lo_v),
                     0) AS BIGINT) AS rows_planned
      FROM parts p
    )
    SELECT s.pid, CAST(s.lo_v AS BIGINT) AS lo_bucket_excl,
      CAST(s.hi_v AS BIGINT) AS hi_bucket_incl,
      s.rows_planned,
      CAST((s.rows_planned * {_PLAN_PARTS} * 1000000){dialect.div}tot.n
           AS BIGINT) AS skew_ppm
    FROM sized s CROSS JOIN tot
    ORDER BY s.pid
    """


sql_query(
    "range_partition_planner", _planner_sql, "orders",
    doc="""Range-partition boundary plan for orders on o_totalprice:
    {_PLAN_PARTS} boundaries read off the $10-bucket cumulative
    histogram at the i·N/{_PLAN_PARTS} targets, emitted with each
    planned partition's row count and skew ratio (rows·P/N, ppm —
    1e6 = perfectly balanced).  This is ``repartitionByRange``'s
    sampling step made deterministic and auditable: at 100 TB you
    plan boundaries from a histogram (one map-side-combined
    aggregate), never from a global sort, and the skew column tells
    you BEFORE the shuffle whether value ties will fatten a
    partition (ties cannot be split by a range boundary — visible
    here as skew_ppm > 1e6 on the tied bucket's partition).

    Scale: everything after the histogram aggregate runs on the
    bounded distinct-$10-bucket frame; boundary lookups are
    histogram-join scalars, the {_PLAN_PARTS}-row lag is trivial.

    Reference parity: beyond-reference layout tier (the batched
    UPSERT staging in SURVEY §2 S7-S8 is where the reference touches
    physical layout; partition planning is its scale-up).

    Scale note (honest costing): the correlated max-subqueries are
    evaluated per partition row ({_PLAN_PARTS} of them) against the
    bounded histogram — constant work, chosen for oracle clarity.""",
)


# ---------------------------------------------------------------------------
# doc_length_lognormal_fit
# ---------------------------------------------------------------------------


def _loglen_sql(dialect: Dialect) -> str:
    return f"""
    WITH l AS (
      SELECT n_chars,
        CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
          AS ln_e6
      FROM documents WHERE n_chars > 0
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        sum(CAST(ln_e6 AS {dialect.big})) AS s1,
        sum(CAST(ln_e6 AS {dialect.big}) * ln_e6) AS s2
      FROM l
    ),
    hist AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS m
      FROM l GROUP BY n_chars
    ),
    med AS (
      SELECT min(v) AS median_chars FROM (
        SELECT v,
          sum(m) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM hist
      ) t CROSS JOIN mom WHERE t.c >= (mom.n + 1){dialect.div}2
    )
    SELECT mom.n AS n_docs,
      CAST(mom.s1{dialect.div}mom.n AS BIGINT) AS ln_mu_e6,
      CAST(((mom.s2 * mom.n - mom.s1 * mom.s1)
            {dialect.div}(CAST(mom.n AS {dialect.big}) * (mom.n - 1))){dialect.div}1000000
           AS BIGINT) AS ln_sigma2_e6,
      med.median_chars
    FROM mom CROSS JOIN med
    """


sql_query(
    "doc_length_lognormal_fit", _loglen_sql, "documents",
    doc="""Method-of-moments lognormal fit of document lengths: per-doc
    micro-nat floors of ln(n_chars) (the house floored-ln device —
    one deterministic IEEE ln per doc, integer-exact aggregation
    after), giving μ̂ and σ̂² of the log-length distribution, plus
    the ACTUAL median length from the distinct-length histogram.
    Token/char length is lognormal-ish in real corpora, and the fit
    drives packing policy: ``sequence_packing``'s bin efficiency and
    the truncation budget both follow from (μ, σ²) — a σ̂² jump
    between snapshots means the mix changed (e.g. a boilerplate
    source landed), which is exactly what a curation monitor wants
    cheap.  exp() is never taken, so no transcendental parity
    surface beyond the per-doc ln floor.

    Scale: one scan aggregate + a bounded distinct-length histogram
    cumulative.

    Reference parity: beyond-reference text tier.""",
)
