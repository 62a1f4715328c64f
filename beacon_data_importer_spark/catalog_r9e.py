"""Round-9 catalog, tier 5: ANN index health & graph-structure audits —

* ``ivf_cell_balance_audit`` — the IVF capacity doctrine as a
  registered measurement: cell-population skew (max/mean imbalance,
  largest-cell share) for the deterministic-centroid index every IVF
  query in the catalog probes.  A skewed cell map silently turns
  "nprobe/nlist of the corpus" into "most of the corpus" — this is
  the number that says whether the ``ivf_search`` cost model holds.
* ``ivf_nprobe_recall_curve`` — recall@10 as a FUNCTION of nprobe
  (1..5) for the ``ivf_search`` configuration, in one statement: the
  measured curve behind the PERF doctrine that nprobe must scale as
  a RATIO of nlist (the fixed-vs-scaled lesson of
  ``hard_negative_mining_ivf`` vs ``_scaled``).
* ``pq_distortion_audit`` — per-subspace quantization MSE of the PQ
  codebook (``pq_search``'s configuration): the training-free
  distortion meter that explains WHY ``pq_search_rerank`` needs its
  re-rank pass, per subspace, so a bad subspace split is visible.
* ``degree_assortativity`` — Pearson correlation of endpoint degrees
  over the distinct supplier→part edges: do high-degree suppliers
  ship high-degree parts?  The one-number mixing diagnosis that
  complements ``clustering_coefficient`` (local density) and
  ``pagerank_parts`` (centrality).

Reference parity: beyond-reference embedding/graph tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8e import _cos_e6_pre, _norm


_CENT_MOD = 100  # ivf_search's deterministic centroid rule


def _cent_assign_ctes(dialect: Dialect) -> str:
    """embn + cent + assign: the ``ivf_search``/``hard_negative_mining_ivf``
    CTE pair (nearest-centroid map over the corpus), with per-vector
    norms precomputed in ``embn`` (r11: one fold per pair instead of
    three — see catalog_r8e._cos_e6_pre; downstream pair stages join
    ``embn`` instead of ``embeddings`` to reuse ``nrm``)."""
    cos_ec = _cos_e6_pre(
        dialect, "e.embedding", "c.cvec", "e.nrm", "c.cnrm"
    )
    return f"""
    embn AS (SELECT vec_id, embedding,
                    {_norm(dialect, "embedding")} AS nrm
             FROM embeddings),
    cent AS (SELECT vec_id AS cell_id, embedding AS cvec, nrm AS cnrm
             FROM embn WHERE vec_id % {_CENT_MOD} = 0),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_ec} DESC, c.cell_id) AS rn
        FROM embn e CROSS JOIN cent c
      ) t WHERE rn = 1
    )"""


# ---------------------------------------------------------------------------
# ivf_cell_balance_audit
# ---------------------------------------------------------------------------


def _balance_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_cent_assign_ctes(dialect)},
    pop AS (
      SELECT cell_id, CAST(count(*) AS BIGINT) AS c
      FROM assign GROUP BY cell_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
      CAST(sum(c) AS BIGINT) AS n_vectors,
      CAST(max(c) AS BIGINT) AS max_cell,
      CAST(min(c) AS BIGINT) AS min_cell,
      CAST((max(c) * count(*) * 1000000){dialect.div}sum(c) AS BIGINT)
        AS imbalance_ppm,
      CAST((max(c) * 1000000){dialect.div}sum(c) AS BIGINT)
        AS largest_cell_share_ppm
    FROM pop
    """


sql_query(
    "ivf_cell_balance_audit", _balance_sql, "embeddings",
    doc="""Cell-population balance of the deterministic IVF index: max and
    min cell sizes, imbalance = max/mean (ppm), and the largest cell's
    corpus share.  The IVF cost model — "nprobe cells ≈ nprobe/nlist
    of the corpus" — is a UNIFORMITY assumption; with imbalance k, a
    probe that lands in the fat cell scans k× the budget.  Running
    this audit next to ``ivf_search``/``hard_negative_mining_ivf_scaled``
    makes the assumption a measured number (the capacity-doctrine
    probes of PERF.md, promoted to an oracle-checked query).

    Scale: the assignment is the one corpus-sized stage (map-only
    packed-broadcast in the production operator; the SQL twin here is
    the oracle-replayable window form); the audit aggregate sees
    nlist rows.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# ivf_nprobe_recall_curve
# ---------------------------------------------------------------------------

_CURVE_MAX_NPROBE = 5
_CURVE_K = 10


def _curve_sql(dialect: Dialect) -> str:
    cos_qc = _cos_e6_pre(dialect, "q.qvec", "c.cvec", "q.qnrm", "c.cnrm")
    cos_eq = _cos_e6_pre(
        dialect, "e.embedding", "q.qvec", "e.nrm", "q.qnrm"
    )
    nps = ", ".join(f"({i})" for i in range(1, _CURVE_MAX_NPROBE + 1))
    nptab = (
        f"SELECT CAST(np AS BIGINT) AS np FROM {dialect.values(nps, 't(np)')}"
    )
    return f"""
    WITH {_cent_assign_ctes(dialect)},
    q AS (SELECT embedding AS qvec, nrm AS qnrm FROM embn
          WHERE vec_id = 0),
    cellrank AS (
      SELECT c.cell_id,
        CAST(row_number() OVER (ORDER BY {cos_qc} DESC, c.cell_id)
             AS BIGINT) AS rk
      FROM cent c CROSS JOIN q
    ),
    scored AS (
      SELECT e.vec_id, cr.rk, {cos_eq} AS sim_e6
      FROM embn e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN cellrank cr ON cr.cell_id = a.cell_id
      CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    exact AS (
      SELECT vec_id FROM scored
      ORDER BY sim_e6 DESC, vec_id LIMIT {_CURVE_K}
    ),
    curve AS (
      SELECT np.np, s.vec_id, s.sim_e6,
        row_number() OVER (PARTITION BY np.np
          ORDER BY s.sim_e6 DESC, s.vec_id) AS rn,
        count(*) OVER (PARTITION BY np.np) AS n_cand
      FROM ({nptab}) np
      JOIN scored s ON s.rk <= np.np
    ),
    approx AS (
      SELECT np, vec_id, n_cand FROM curve WHERE rn <= {_CURVE_K}
    )
    SELECT a.np AS nprobe,
      CAST(min(a.n_cand) AS BIGINT) AS n_candidates,
      CAST(count(e.vec_id) AS BIGINT) AS n_hits,
      CAST((count(e.vec_id) * 1000000){dialect.div}{_CURVE_K} AS BIGINT)
        AS recall_ppm
    FROM approx a LEFT JOIN exact e ON e.vec_id = a.vec_id
    GROUP BY a.np
    """


sql_query(
    "ivf_nprobe_recall_curve", _curve_sql, "embeddings",
    doc="""Recall@10 vs nprobe for the ``ivf_search`` configuration, one
    statement, 5 rows: candidates at nprobe=k are the vectors whose
    cells rank ≤ k by query-centroid cosine; each curve point's top-10
    (floored micro-cosine, (sim, id) total order) is scored against
    the full-index truth (nprobe = nlist would reproduce it — here the
    'exact' side is the all-cells scan of the same frame).  This is
    the measured curve behind the catalog's nprobe-as-RATIO doctrine:
    a fixed nprobe's recall DECAYS as nlist grows √n, and this query
    is the per-corpus instrument that shows where the knee is.

    Scale: the audit deliberately scans candidates×5 (bounded: ≤5×
    corpus) — it's a measurement, not a serving path; per-np top-k via
    partitioned windows.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# pq_distortion_audit
# ---------------------------------------------------------------------------

_PQ_M = 8
_PQ_K = 16
_PQ_DSUB = 8


def _pq_dist_sql(dialect: Dialect) -> str:
    if dialect.spark:
        sub = (
            f"slice(CAST(e.ev AS ARRAY<DOUBLE>),"
            f" cw.s * {_PQ_DSUB} + 1, {_PQ_DSUB})"
        )
        rng = (
            f"SELECT explode(sequence(0, {_PQ_M - 1})) AS i"
        )

        def d2(a_expr: str, b_expr: str) -> str:
            diff = f"zip_with({a_expr}, {b_expr}, (x, y) -> x - y)"
            return (
                f"aggregate({diff}, CAST(0 AS DOUBLE),"
                " (acc, x) -> acc + x * x)"
            )

        cw_sub = (
            f"slice(CAST(e.ev AS ARRAY<DOUBLE>),"
            f" s.i * {_PQ_DSUB} + 1, {_PQ_DSUB})"
        )
        emb = "SELECT vec_id, embedding AS ev FROM embeddings"
    else:
        sub = f"e.ev[cw.s*{_PQ_DSUB}+1 : cw.s*{_PQ_DSUB}+{_PQ_DSUB}]"
        rng = f"SELECT i FROM range({_PQ_M}) t(i)"

        def d2(a_expr: str, b_expr: str) -> str:
            diff = (
                f"list_transform(range({_PQ_DSUB}), "
                f"j -> ({a_expr})[j+1] - ({b_expr})[j+1])"
            )
            return f"list_dot_product({diff}, {diff})"

        cw_sub = f"e.ev[s.i*{_PQ_DSUB}+1 : s.i*{_PQ_DSUB}+{_PQ_DSUB}]"
        emb = (
            "SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings"
        )
    return f"""
    WITH emb AS ({emb}),
    cw AS (
      SELECT CAST(s.i AS BIGINT) AS s, e.vec_id AS c, {cw_sub} AS w
      FROM emb e CROSS JOIN ({rng}) s
      WHERE e.vec_id < {_PQ_K}
    ),
    mind AS (
      {'''SELECT vec_id, s, min(struct(d2, c)).d2 AS d2 FROM (
        SELECT e.vec_id, cw.s, cw.c, ''' + d2(sub, "cw.w") + ''' AS d2
        FROM emb e CROSS JOIN cw
      ) t GROUP BY vec_id, s''' if dialect.spark else '''SELECT vec_id, s, d2 FROM (
        SELECT e.vec_id, cw.s, ''' + d2(sub, "cw.w") + ''' AS d2,
               row_number() OVER (PARTITION BY e.vec_id, cw.s
                 ORDER BY ''' + d2(sub, "cw.w") + ''', cw.c) AS rn
        FROM emb e CROSS JOIN cw
      ) t WHERE rn = 1'''}
    ),
    fl AS (
      SELECT s, CAST(floor(1000000 * d2) AS BIGINT) AS d2_e6 FROM mind
    )
    SELECT s AS subspace,
      CAST(count(*) AS BIGINT) AS n_vectors,
      CAST(sum(d2_e6){dialect.div}count(*) AS BIGINT) AS mean_sq_err_e6,
      CAST(max(d2_e6) AS BIGINT) AS max_sq_err_e6
    FROM fl GROUP BY s
    """


sql_query(
    "pq_distortion_audit", _pq_dist_sql, "embeddings",
    doc="""Per-subspace quantization distortion of the ``pq_search``
    codebook (M=8 subspaces × K=16 deterministic codewords): for each
    (vector, subspace), the squared L2 to the NEAREST codeword — the
    exact quantity PQ's ADC approximation replaces true distance with
    — floored to e6 per row (fold order identical both engines), then
    mean and max per subspace.  A subspace with outsized MSE is where
    ``pq_search``'s ranking error comes from; the k-means-trained
    codebook (``pq_kmeans_search_rerank``) should show lower rows
    here, and this audit is how you'd prove it per corpus.

    Scale: corpus × (M·K bounded codebook) argmin — the same map-only
    shape as the production ``pq_encode`` (packed broadcast, no
    shuffle); the audit aggregate sees M rows.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# degree_assortativity
# ---------------------------------------------------------------------------


def _assort_sql(dialect: Dialect) -> str:
    return f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY s),
    dp AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY p),
    ed AS (
      SELECT ds.d AS u, dp.d AS v
      FROM edges e JOIN ds ON ds.s = e.s JOIN dp ON dp.p = e.p
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(u) AS BIGINT) AS s_u, CAST(sum(v) AS BIGINT) AS s_v,
        CAST(sum(CAST(u AS {dialect.big}) * u) AS {dialect.big}) AS s_uu,
        CAST(sum(CAST(v AS {dialect.big}) * v) AS {dialect.big}) AS s_vv,
        CAST(sum(CAST(u AS {dialect.big}) * v) AS {dialect.big}) AS s_uv
      FROM ed
    )
    SELECT n AS n_edges,
      CAST(floor(1000000 * CAST(n * s_uv
             - CAST(s_u AS {dialect.big}) * s_v AS DOUBLE)
           / (sqrt(CAST(n * s_uu - CAST(s_u AS {dialect.big}) * s_u AS DOUBLE))
              * sqrt(CAST(n * s_vv - CAST(s_v AS {dialect.big}) * s_v
                          AS DOUBLE)))) AS BIGINT) AS assortativity_ppm,
      floor(1000000 * CAST(n * s_uv
             - CAST(s_u AS {dialect.big}) * s_v AS DOUBLE)
           / (sqrt(CAST(n * s_uu - CAST(s_u AS {dialect.big}) * s_u AS DOUBLE))
              * sqrt(CAST(n * s_vv - CAST(s_v AS {dialect.big}) * s_v
                          AS DOUBLE)))) > 0 AS assortative
    FROM st
    """


sql_query(
    "degree_assortativity", _assort_sql, "lineitem",
    doc="""Degree assortativity of the supplier→part shipment graph:
    Pearson correlation, over the DISTINCT edges, of the two
    endpoints' degrees — positive means hub suppliers concentrate on
    hub parts (a core-periphery supply web), negative means hubs fan
    out to leaves (the typical bipartite commerce shape).  Exact
    integer moment sums; one floored ppm correlation (the
    ``partial_correlation_triples`` device).  Reads next to
    ``clustering_coefficient`` / ``kcore_decomposition`` as the
    mixing-pattern axis of the graph-health battery.

    Scale: one distinct-edge projection (shuffle on the edge key),
    two degree aggregations joined back edge-wise, one moment
    aggregate; 1 row out.

    Reference parity: beyond-reference graph tier.""",
)
