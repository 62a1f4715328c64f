"""Round-11 catalog, tier 4 — ranking quality, shared-richness, and
tail-risk second wave.

* ``rbo_ranking_overlap`` — Rank-Biased Overlap (Webber-Moffat-Zobel
  2010, p = 0.9, depth 20) between the exact-cosine and raw
  dot-product rankings of the corpus against query vector 0: the
  top-weighted list-similarity measure that fixes what
  ``cosine_dot_topk_overlap``'s set-Jaccard cannot see — WHERE in the
  lists the agreement lives.  The per-depth geometric weights fold
  into ≤20 build-time literals, so the whole statistic is one join +
  integer sum.
* ``map_mrr_ann_audit`` — MRR and MAP@10 of the dot-product ranking
  against exact-cosine top-10 relevance over 8 query vectors — the
  IR-standard graded diagnostics completing the ANN audit family
  (recall@k `ivf_nprobe_recall_curve`, NDCG `ann_ndcg_audit`):
  MRR reads "how deep is the first correct hit", MAP averages
  precision at every correct hit.
* ``ace_richness_estimate`` — the ACE (abundance-based coverage)
  unseen-vocabulary estimator, the companion ``chao1_unseen_vocab``'s
  doubleton form: uses the WHOLE rare spectrum (counts ≤ 10) with the
  coverage estimate C = 1 − F₁/n_rare and the rare-CV correction.
* ``chao_shared_species`` — the Chao1-type lower bound for SHARED
  vocabulary between the two largest sources: observed shared types
  plus the f₁₊·f₊₁/(2f₁₁) correction from types rare on each side —
  the principled version of ``source_vocab_overlap``'s raw Jaccard
  (observed overlap UNDERSTATES true overlap exactly when sampling is
  shallow).
* ``quantile_treatment_effects`` — the decile-by-decile quantile
  difference (BUILDING − MACHINERY order values): the
  DISTRIBUTIONAL treatment-effect read — a mean shift
  (``welch_t_test``) can hide opposite-signed tail effects that the
  QTE profile exposes; exact low-rank order statistics from the
  $10-bucket device, 9 rows.
* ``expected_shortfall_cvar`` — VaR(5%) and CVaR/expected shortfall
  of DAILY revenue (the low tail: bad days): CVaR = mean revenue of
  the worst ⌈5%⌉ days — the coherent tail-risk measure (subadditive
  where VaR is not), complementing ``pot_mean_excess``'s
  threshold-excess read and ``max_drawdown``'s path read.  Exact
  integer order statistics and tail mean.

Every query ships with an independent numpy replay in
``tools/stat_audit.py`` (round-11 audit-first discipline).

Reference parity: beyond-reference statistics / ANN-audit tiers (the
reference ships no analytics; SURVEY §2 X-series is in catalog.py).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r9a import _two_group_hist_sql
from .catalog_r8d import _day_sql

#: RBO persistence and evaluation depth.
_RBO_P = 0.9
_RBO_DEPTH = 20
#: tail weights S(m) = sum_{d=m..D} p^(d-1)/d as e9 literals — the
#: per-item contribution of an item whose max(rank_A, rank_B) = m.
_RBO_TAIL_E9 = [
    (
        m,
        int(
            sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_DEPTH + 1))
            * 1_000_000_000
        ),
    )
    for m in range(1, _RBO_DEPTH + 1)
]
_RBO_TAIL_SQL = ", ".join(f"({m}, {w})" for m, w in _RBO_TAIL_E9)

#: ACE rare-species cutoff (standard convention).
_ACE_CUT = 10

#: number of ANN audit query vectors.
_MAP_Q = 8


# ---------------------------------------------------------------------------
# rbo_ranking_overlap
# ---------------------------------------------------------------------------


def _rank_pair_cte(dialect: Dialect) -> str:
    """Exact-cosine and raw-dot rankings of every non-query vector
    against vec_id 0, with deterministic (score desc, vec_id) order."""
    if dialect.spark:
        dot = (
            "aggregate(zip_with(e.embedding, q.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        nrm = (
            "sqrt(aggregate(zip_with(e.embedding, e.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v))"
        )
        qn = (
            "sqrt(aggregate(zip_with(q.embedding, q.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v))"
        )
    else:
        dot = "list_dot_product(e.ev, q.ev)"
        nrm = "sqrt(list_dot_product(e.ev, e.ev))"
        qn = "sqrt(list_dot_product(q.ev, q.ev))"
    src = (
        "embeddings e"
        if dialect.spark
        else "(SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) e"
    )
    qsrc = (
        "(SELECT embedding FROM embeddings WHERE vec_id = 0) q"
        if dialect.spark
        else "(SELECT embedding::DOUBLE[] AS ev FROM embeddings"
        " WHERE vec_id = 0) q"
    )
    return f"""
    scored AS (
      SELECT e.vec_id, {dot} AS dot, {dot} / ({nrm} * {qn}) AS cos
      FROM {src} CROSS JOIN {qsrc}
      WHERE e.vec_id != 0
    ),
    -- depth-{{d}} prefixes via ORDER BY + LIMIT (TakeOrdered in Spark:
    -- per-partition partial top-k + driver merge — no global sort task;
    -- only ranks <= depth matter to RBO, so the full corpus rank never
    -- needs to exist)
    top_cos AS (
      SELECT vec_id, cos FROM scored
      ORDER BY cos DESC, vec_id LIMIT {_RBO_DEPTH}
    ),
    top_dot AS (
      SELECT vec_id, dot FROM scored
      ORDER BY dot DESC, vec_id LIMIT {_RBO_DEPTH}
    ),
    ranked AS (
      SELECT c.vec_id,
        CAST(c.ra AS BIGINT) AS ra, CAST(d.rb AS BIGINT) AS rb
      FROM (SELECT vec_id,
              row_number() OVER (ORDER BY cos DESC, vec_id) AS ra
            FROM top_cos) c
      JOIN (SELECT vec_id,
              row_number() OVER (ORDER BY dot DESC, vec_id) AS rb
            FROM top_dot) d ON d.vec_id = c.vec_id
    )"""


def _rbo_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_rank_pair_cte(dialect)},
    contrib AS (
      SELECT r.vec_id, greatest(r.ra, r.rb) AS m, w.w_e9
      FROM ranked r
      JOIN (VALUES {_RBO_TAIL_SQL}) AS w(m, w_e9)
        ON w.m = greatest(r.ra, r.rb)
      WHERE greatest(r.ra, r.rb) <= {_RBO_DEPTH}
    ),
    depth AS (
      SELECT CAST(count(*) AS BIGINT) AS n_agree,
        CAST(coalesce(sum(w_e9), 0) AS {dialect.big}) AS s_e9
      FROM contrib
    ),
    ov AS (
      SELECT CAST(count(*) AS BIGINT) AS overlap_at_depth FROM ranked
    )
    SELECT d.n_agree AS n_items_in_both_prefixes,
      o.overlap_at_depth,
      CAST((CAST({int((1 - _RBO_P) * 1e6)} AS {dialect.big}) * d.s_e9)
           {dialect.div}1000000000 AS BIGINT) AS rbo_base_e6,
      CAST((o.overlap_at_depth * 1000000){dialect.div}{_RBO_DEPTH} AS BIGINT)
        AS jaccard_style_overlap_e6
    FROM depth d CROSS JOIN ov o
    """


sql_query(
    "rbo_ranking_overlap", _rbo_sql, "embeddings",
    doc="""Rank-Biased Overlap (p = {p}, depth {d}) between the
    exact-cosine and raw-dot rankings against query vector 0:
    RBO_base = (1−p)·Σ_{{d=1..D}} p^(d−1)·|A_d ∩ B_d|/d.  The item-
    centric identity — an item with ranks (r_A, r_B) joins every
    prefix intersection from depth max(r_A, r_B) on — turns the
    per-depth sum into ONE join against the {d} build-time tail
    literals S(m) = Σ_{{d≥m}} p^(d−1)/d, so no per-depth pass exists.
    Top-weighted where the set-Jaccard ``cosine_dot_topk_overlap`` is
    uniform: rank-1 disagreement (a norm-inflated vector hijacking
    the top slot — the classic un-normalized-index failure) costs
    ~10× a rank-20 disagreement.  Emitted alongside the plain
    overlap@{d} so the two reads can disagree instructively.

    Scale: one linear scoring pass (JVM fold, no UDF), two
    TakeOrdered depth-{d} prefixes (per-partition partial top-k +
    driver merge — the full corpus ranking never materializes), a
    {d}-row equi-join against the literal tail table.  1 row out.

    Reference parity: beyond-reference ANN-audit tier.""".format(
        p=_RBO_P, d=_RBO_DEPTH
    ),
)


# ---------------------------------------------------------------------------
# map_mrr_ann_audit
# ---------------------------------------------------------------------------


def _map_sql(dialect: Dialect) -> str:
    if dialect.spark:
        dot = (
            "aggregate(zip_with(e.embedding, q.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v)"
        )
        nrm = (
            "sqrt(aggregate(zip_with(e.embedding, e.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v))"
        )
        qn = (
            "sqrt(aggregate(zip_with(q.embedding, q.embedding,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v))"
        )
        src, qsrc = (
            "embeddings e",
            f"(SELECT vec_id AS qid, embedding FROM embeddings"
            f" WHERE vec_id < {_MAP_Q}) q",
        )
        qemb = "q.embedding"
    else:
        dot = "list_dot_product(e.ev, q.ev)"
        nrm = "sqrt(list_dot_product(e.ev, e.ev))"
        qn = "sqrt(list_dot_product(q.ev, q.ev))"
        src = "(SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) e"
        qsrc = (
            f"(SELECT vec_id AS qid, embedding::DOUBLE[] AS ev"
            f" FROM embeddings WHERE vec_id < {_MAP_Q}) q"
        )
        qemb = "q.ev"
    return f"""
    WITH scored AS (
      SELECT q.qid, e.vec_id, {dot} AS dot,
        {dot} / ({nrm} * {qn}) AS cos
      FROM {src} CROSS JOIN {qsrc}
      WHERE e.vec_id != q.qid
    ),
    ranked AS (
      SELECT qid, vec_id,
        row_number() OVER (PARTITION BY qid
                           ORDER BY cos DESC, vec_id) AS ra,
        row_number() OVER (PARTITION BY qid
                           ORDER BY dot DESC, vec_id) AS rb
      FROM scored
    ),
    hits AS (
      -- system (dot) list positions of relevant (cosine top-10) items
      SELECT qid, rb,
        row_number() OVER (PARTITION BY qid ORDER BY rb) AS hit_idx
      FROM ranked WHERE ra <= 10 AND rb <= 10
    ),
    perq AS (
      SELECT r.qid,
        CAST(coalesce(min(h.rb), 0) AS BIGINT) AS first_hit_rank,
        CAST(coalesce(sum((h.hit_idx * 1000000){dialect.div}h.rb), 0)
             AS BIGINT) AS ap_num_e6,
        CAST(count(h.rb) AS BIGINT) AS n_hits
      FROM (SELECT DISTINCT qid FROM ranked) r
      LEFT JOIN hits h ON h.qid = r.qid
      GROUP BY r.qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
      CAST(sum(CASE WHEN first_hit_rank > 0
               THEN 1000000{dialect.div}first_hit_rank ELSE 0 END)
           {dialect.div}count(*) AS BIGINT) AS mrr_e6,
      CAST(sum(ap_num_e6{dialect.div}10){dialect.div}count(*) AS BIGINT) AS map_at_10_e6,
      CAST(sum(n_hits * 1000000){dialect.div}(count(*) * 10) AS BIGINT)
        AS recall_at_10_e6
    FROM perq
    """


sql_query(
    "map_mrr_ann_audit", _map_sql, "embeddings",
    doc="""MRR and MAP@10 of the raw dot-product ranking against
    exact-cosine top-10 relevance, averaged over {q} query vectors:
    MRR = mean(1/rank of the first relevant hit), AP@10 =
    (1/10)·Σ_hits precision@(hit rank) — the IR-standard graded pair
    that completes the ANN audit battery (recall@k counts hits,
    ``ann_ndcg_audit`` grades by position with log discounts, MRR/MAP
    grade by position with rank-reciprocal discounts; a system can
    hold recall while MRR collapses, which is exactly the
    norm-skew failure mode this audit prices).  Reciprocal ranks and
    precision terms are exact ppm integer divisions (hit_idx/rb is
    precision@rb because hits are numbered in rb order).

    Scale: one {q}-way broadcast of query vectors over a linear
    scoring pass; per-query rank windows are PARTITIONED (distribute
    across executors).  1 row out.

    Reference parity: beyond-reference ANN-audit tier.""".format(q=_MAP_Q),
)


# ---------------------------------------------------------------------------
# ace_richness_estimate
# ---------------------------------------------------------------------------


def _ace_sql(dialect: Dialect) -> str:
    # word 4-gram spectrum: the corpus' word unigrams saturate (a
    # bounded synthetic vocabulary), but the 4-gram CONTEXT space is
    # ~vocab^4, so the frequency spectrum keeps a genuine rare tail at
    # every SF — and 4-gram-context coverage is precisely what an LM
    # smoothing / dedup-shingle pipeline wants estimated.
    if dialect.spark:
        grams = r"""
    g4 AS (
      SELECT concat_ws(' ', element_at(d.tk, s.i),
        element_at(d.tk, s.i + 1), element_at(d.tk, s.i + 2),
        element_at(d.tk, s.i + 3)) AS g
      FROM (SELECT split(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      LATERAL VIEW explode(sequence(1, size(d.tk) - 3)) s AS i
      WHERE size(d.tk) >= 4
    )"""
    else:
        grams = r"""
    g4 AS (
      SELECT unnest([d.tk[i] || ' ' || d.tk[i + 1] || ' '
                     || d.tk[i + 2] || ' ' || d.tk[i + 3]
                     FOR i IN range(1, len(d.tk) - 2)]) AS g
      FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      WHERE len(d.tk) >= 4
    )"""
    return f"""
    WITH {grams},
    tf AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM g4 GROUP BY g),
    spec AS (
      SELECT c AS r, CAST(count(*) AS BIGINT) AS nr FROM tf GROUP BY c
    ),
    rare AS (
      SELECT
        CAST(sum(CASE WHEN r <= {_ACE_CUT} THEN nr ELSE 0 END)
             AS BIGINT) AS s_rare,
        CAST(sum(CASE WHEN r > {_ACE_CUT} THEN nr ELSE 0 END)
             AS BIGINT) AS s_abund,
        CAST(sum(CASE WHEN r <= {_ACE_CUT} THEN r * nr ELSE 0 END)
             AS BIGINT) AS n_rare,
        CAST(coalesce(sum(CASE WHEN r = 1 THEN nr END), 0) AS BIGINT)
          AS f1,
        CAST(sum(CASE WHEN r <= {_ACE_CUT} THEN r * (r - 1) * nr
                 ELSE 0 END) AS {dialect.big}) AS sum_ii1
      FROM spec
    ),
    est AS (
      SELECT s_rare, s_abund, n_rare, f1, sum_ii1,
        1.0 - CAST(f1 AS DOUBLE) / n_rare AS c_ace
      FROM rare
    ),
    g AS (
      SELECT s_rare, s_abund, n_rare, f1, c_ace,
        greatest(0.0,
          (CAST(s_rare AS DOUBLE) / c_ace)
          * CAST(sum_ii1 AS DOUBLE)
          / (CAST(n_rare AS DOUBLE) * (n_rare - 1)) - 1.0) AS gamma2
      FROM est
    )
    SELECT s_abund AS abundant_types, s_rare AS rare_types,
      n_rare AS rare_tokens, f1 AS singletons,
      CAST(floor(c_ace * 1e6) AS BIGINT) AS coverage_e6,
      CAST(floor(gamma2 * 1e6) AS BIGINT) AS rare_cv2_e6,
      CAST(floor(CAST(s_abund AS DOUBLE) + CAST(s_rare AS DOUBLE) / c_ace
                 + CAST(f1 AS DOUBLE) / c_ace * gamma2) AS BIGINT)
        AS ace_estimate
    FROM g
    """


sql_query(
    "ace_richness_estimate", _ace_sql, "documents",
    doc="""ACE (Abundance-based Coverage Estimator) of total vocabulary
    size: S_ACE = S_abund + S_rare/C + (F₁/C)·γ², with C = 1 −
    F₁/n_rare the Good-Turing sample coverage of the rare group
    (counts ≤ {cut}) and γ² the rare-group CV correction
    max(0, (S_rare/C)·Σr(r−1)F_r/(n_rare(n_rare−1)) − 1).
    ``chao1_unseen_vocab`` extrapolates from singletons/doubletons
    ALONE (a lower bound, unstable when F₂ is small); ACE spends the
    whole rare spectrum and is the other standard biodiversity
    estimator — run both, and the gap between them is itself the
    undersampling signal.  The substrate is word 4-GRAM contexts, not
    unigrams: the synthetic corpus' word vocabulary saturates (no
    rare tail at any SF — the estimator would be degenerate, caught
    by the audit-first replay), while the ~vocab⁴ context space keeps
    a genuine rare spectrum everywhere, and 4-gram-context coverage
    is the quantity LM smoothing and shingle-dedup planning actually
    consume.  Spectrum sums are exact integers; C, γ² and the
    estimate take scalar float steps floored once each.

    Scale: positional 4-gram explode (linear, no join) → spectrum
    reduction (context-vocab-sized, map-side combinable).  1 row out.

    Reference parity: beyond-reference text tier.""".format(cut=_ACE_CUT),
)


# ---------------------------------------------------------------------------
# chao_shared_species
# ---------------------------------------------------------------------------


def _chao_shared_sql(dialect: Dialect) -> str:
    from .catalog_r10e import _tok_cte

    return f"""
    WITH {_tok_cte(dialect)},
    top2 AS (
      SELECT source, row_number() OVER (ORDER BY count(*) DESC, source)
        AS rk
      FROM tok GROUP BY source
    ),
    ab AS (
      SELECT t.w,
        CAST(sum(CASE WHEN s2.rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS ca,
        CAST(sum(CASE WHEN s2.rk = 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS cb
      FROM tok t JOIN top2 s2 ON s2.source = t.source
      WHERE s2.rk <= 2
      GROUP BY t.w
    ),
    shared AS (
      SELECT
        CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS d12,
        CAST(sum(CASE WHEN ca = 1 AND cb > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS f1p,
        CAST(sum(CASE WHEN cb = 1 AND ca > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS fp1,
        CAST(sum(CASE WHEN ca = 1 AND cb = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS f11,
        CAST(sum(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS only_a,
        CAST(sum(CASE WHEN cb > 0 AND ca = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS only_b
      FROM ab
    )
    SELECT d12 AS shared_observed, only_a, only_b,
      f1p AS rare_in_a, fp1 AS rare_in_b, f11 AS rare_in_both,
      d12 + (f1p * fp1 * 1000000){dialect.div}(2 * (f11 + 1) * 1000000)
        AS chao_shared_estimate,
      CAST(((f1p * fp1 * 1000000){dialect.div}(2 * (f11 + 1))) AS BIGINT)
        AS unseen_shared_e6
    FROM shared
    """


sql_query(
    "chao_shared_species", _chao_shared_sql, "documents",
    doc="""Chao1-type lower bound for the SHARED vocabulary of the two
    largest sources: S₁₂ = D₁₂ + f₁₊·f₊₁/(2(f₁₁+1)) — D₁₂ the
    observed shared types, f₁₊ shared types seen exactly ONCE in
    source A, f₊₁ once in B, f₁₁ once in both (the +1 bias guard for
    the empty-f₁₁ case, the standard small-sample convention).  The
    principled correction to ``source_vocab_overlap``'s raw Jaccard:
    observed overlap is biased LOW exactly when either sample is
    shallow, and the rare-rare mass estimates the unseen shared
    types the way Chao1 estimates unseen singletons.  Counts are
    exact integers; the correction is one truncating division.

    Scale: token explode (linear), (w) conditional aggregate
    (vocab-sized, combinable), a 1-row reduction.  1 row out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# quantile_treatment_effects
# ---------------------------------------------------------------------------


def _qte_sql(dialect: Dialect) -> str:
    seq = f"SELECT {dialect.series(1, 9)} AS d"
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    dec AS (SELECT CAST(d AS BIGINT) AS d FROM ({seq}) t),
    q1 AS (
      SELECT dec.d, min(c.v) AS q
      FROM dec CROSS JOIN tot t
      JOIN cum c ON c.lt1 + c.c1 >= (dec.d * t.n1 + 9){dialect.div}10
      GROUP BY dec.d
    ),
    q2 AS (
      SELECT dec.d, min(c.v) AS q
      FROM dec CROSS JOIN tot t
      JOIN cum c ON c.lt2 + c.c2 >= (dec.d * t.n2 + 9){dialect.div}10
      GROUP BY dec.d
    )
    SELECT q1.d AS decile,
      CAST(q1.q AS BIGINT) AS q_building,
      CAST(q2.q AS BIGINT) AS q_machinery,
      CAST(q1.q - q2.q AS BIGINT) AS qte
    FROM q1 JOIN q2 ON q2.d = q1.d
    ORDER BY q1.d
    """


sql_query(
    "quantile_treatment_effects", _qte_sql, "orders", "customer",
    doc="""Decile-by-decile quantile differences between BUILDING and
    MACHINERY order values ($10 buckets): QTE(τ) = Q₁(τ) − Q₂(τ) for
    τ = 0.1 … 0.9, the distributional treatment-effect profile.  A
    mean comparison collapses the whole story to one number — two
    groups can share a mean while one dominates below the median and
    trails above it; the QTE curve shows the crossing.  Quantiles use
    the ceiling-rank order statistic (first bucket whose inclusive
    cumulative reaches ⌈τ·n⌉ — exact, engine-identical), so every row
    is integer.

    Scale: the $10-bucket cumulative device (price-range-bounded)
    joined against a 9-row decile grid.  9 rows out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# expected_shortfall_cvar
# ---------------------------------------------------------------------------


def _cvar_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    k AS (SELECT n, (n * 5 + 99){dialect.div}100 AS k FROM n),
    rk AS (
      SELECT y, row_number() OVER (ORDER BY y, t) AS r FROM day
    ),
    tail AS (
      SELECT k.n, k.k,
        CAST(max(CASE WHEN rk.r = k.k THEN rk.y END) AS BIGINT)
          AS var_y,
        CAST(sum(CASE WHEN rk.r <= k.k THEN CAST(rk.y AS {dialect.big})
                 ELSE 0 END) AS {dialect.big}) AS tail_sum
      FROM rk CROSS JOIN k
      GROUP BY k.n, k.k
    )
    SELECT n AS n_days, k AS n_tail_days,
      var_y AS var5_revenue_k,
      CAST((tail_sum * 100){dialect.div}k AS BIGINT) AS cvar5_revenue_k_e2,
      CAST((tail_sum * 100 * 1000000)
           {dialect.div}(CAST(k AS {dialect.big}) * var_y * 100) AS BIGINT)
        AS cvar_over_var_e6
    FROM tail
    """


sql_query(
    "expected_shortfall_cvar", _cvar_sql, "orders",
    doc="""Value-at-Risk and Expected Shortfall of daily revenue (the LOW
    tail — worst trading days): with k = ⌈0.05·n⌉, VaR₅% is the k-th
    smallest daily revenue (exact order statistic, (y, t) tie-break)
    and CVaR₅% the mean of those k worst days.  CVaR is the COHERENT
    risk measure (subadditive — a portfolio/union of pipelines can't
    look safer than its parts, which VaR violates), and CVaR/VaR < 1
    quantifies how heavy the bad-day tail is below the cutoff.
    Completes the tail family: ``pot_mean_excess`` reads the HIGH
    tail's excess function, ``gumbel_block_maxima`` its extremes,
    ``max_drawdown`` the path; this is the canonical low-tail
    summary.  Integer-exact: order statistic, tail sum, two
    truncating divisions (e2 mean; ppm ratio).

    Scale: one bounded global rank window over the calendar-day
    frame (BOUNDED_FRAME_AUDITED), one conditional aggregate.  1 row
    out.

    Reference parity: beyond-reference statistics tier.""",
)
