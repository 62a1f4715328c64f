"""Round-8 catalog, tier 5: compressed-vector retrieval, projection
sketching, Bayesian experimentation, and local-privacy aggregation —

* ``binary_quantize_search`` — 1-bit vector quantization: each
  64-dim embedding collapses to 64 sign bits packed into two BIGINT
  words; neighbor search is XOR + popcount (Hamming).  The cheapest
  point on the quantization curve the catalog already walks
  (sq8 → pq → ivfpq): 32× smaller than float32, distance evaluation is
  two CPU instructions, and the scan stays JVM-integer end to end.
* ``binary_rerank_recall_audit`` — the production shape: Hamming
  shortlist (4k) → exact-cosine re-rank → top-k, with measured recall
  against the full-precision brute truth (the honest-audit doctrine of
  ``hard_negative_recall_audit``).
* ``jl_projection_recall_audit`` — Johnson-Lindenstrauss sketch: 16
  deterministic ±1 hyperplanes (md5 parity — engine-shared literals)
  project 64-dim vectors to 16 real dims; brute top-k in the sketch
  space, recall vs full-dim truth.  Distinct from
  ``matryoshka_recall_audit`` (PREFIX dims of the same vector) and
  ``vector_lsh_near_dup`` (sign BUCKETS): JL keeps real-valued
  projections, so ranking survives where bucket equality can't.
* ``bayes_ab_prob_superiority`` — exact P(p_B > p_A) for two
  Beta-Binomial posteriors via the closed-form finite sum, computed
  with two SCALAR multiplicative folds over generated index arrays
  (term₀ as a product fold; the sum Horner-rearranged as
  1 + r₀(1 + r₁(1 + …)) over the reversed ratio list): every
  operation after the integer counts is IEEE-754 double ×/÷/+ in a
  FIXED fold order, so both engines produce bit-identical doubles and
  one final floor crosses to ppm.  No lgamma, no quantile function,
  no sampling.
* ``rappor_freq_estimate`` — randomized-response frequency estimation
  (local DP): each (user, event_type) presence bit is reported
  flipped with probability 1/4 (deterministic md5 coin — both engines
  flip the SAME coins), and the unbiased estimator
  (p̂ = (mean − f)/(1 − 2f)) is recovered next to the ground truth.

Scale notes: packing/projection are scan-side map work; searches are
query-broadcast × corpus-stream with per-query partitioned top-k
windows (the ``cosine_topk`` posture); the Bayesian sum is a single
row folding a bounded generated array; RAPPOR is one grid join
(users × 5 types) plus one aggregation.

Reference parity: beyond-reference retrieval/experimentation tier.
"""

from __future__ import annotations

import hashlib

from .catalog import Dialect, sql_query

DIM = 64
_JL_DIMS = 16
_QUERY_MOD = 50  # vec_id % 50 = 0 → sf-proportional query set
_TOPK = 10
_SHORTLIST = 40  # 4k Hamming shortlist before exact re-rank


# ---------------------------------------------------------------------------
# shared vector SQL fragments
# ---------------------------------------------------------------------------


def _pack_word(dialect: Dialect, lo: int) -> str:
    """Sign bits of embedding[lo..lo+31] packed into one BIGINT
    (bit j ← dimension lo+j; 32-bit words so no BIGINT sign bit is
    ever touched)."""
    if dialect.spark:
        return (
            f"aggregate(sequence({lo}, {lo + 31}), CAST(0 AS BIGINT),"
            " (acc, i) -> acc + (CASE WHEN element_at(embedding, i) > 0"
            f" THEN shiftleft(CAST(1 AS BIGINT), i - {lo})"
            " ELSE CAST(0 AS BIGINT) END))"
        )
    return (
        f"CAST(list_sum(list_transform(range({lo}, {lo + 32}),"
        " i -> CASE WHEN embedding[CAST(i AS BIGINT)] > 0"
        f" THEN (1::BIGINT << CAST(i - {lo} AS INTEGER))"
        " ELSE 0::BIGINT END)) AS BIGINT)"
    )


def _hamming(dialect: Dialect, a0: str, a1: str, b0: str, b1: str) -> str:
    if dialect.spark:
        return (
            f"CAST(bit_count({a0} ^ {b0}) + bit_count({a1} ^ {b1})"
            " AS BIGINT)"
        )
    return (
        f"CAST(bit_count(xor({a0}, {b0})) + bit_count(xor({a1}, {b1}))"
        " AS BIGINT)"
    )


def _dot(dialect: Dialect, a: str, b: str) -> str:
    """Left-to-right sequential dot product (operators/similarity.py
    ordering, so both engines agree bitwise on the double)."""
    if dialect.spark:
        return (
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def _cos_e6(dialect: Dialect, a: str, b: str) -> str:
    return (
        f"CAST(floor(1000000 * {_dot(dialect, a, b)}"
        f" / (sqrt({_dot(dialect, a, a)}) * sqrt({_dot(dialect, b, b)})))"
        " AS BIGINT)"
    )


def _norm(dialect: Dialect, v: str) -> str:
    """sqrt of the self-dot — the per-VECTOR factor of _cos_e6's
    denominator, precomputable once per vector instead of once per
    pair (r11 optimization round; guide §1.2 step 2)."""
    return f"sqrt({_dot(dialect, v, v)})"


def _cos_e6_pre(dialect: Dialect, a: str, b: str, na: str, nb: str) -> str:
    """_cos_e6 with precomputed norms: floor(1e6·dot/(na·nb)).

    Bit-identical to _cos_e6 — sqrt(dot(v,v)) is the same double
    wherever it is evaluated, and the denominator multiplication and
    division keep the same operand order — but the pair stage pays ONE
    interpreted array fold instead of three (the zip_with/aggregate
    higher-order functions are CodegenFallback, so every fold is
    interpreted at ~µs/element; in the pair-quadratic ANN audits the
    two self-dot folds were ~2/3 of all task time)."""
    return (
        f"CAST(floor(1000000 * {_dot(dialect, a, b)}"
        f" / ({na} * {nb})) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# binary_quantize_search
# ---------------------------------------------------------------------------


def _bq_packed(dialect: Dialect) -> str:
    return f"""packed AS (
      SELECT vec_id, embedding,
        {_pack_word(dialect, 1)} AS w0,
        {_pack_word(dialect, 33)} AS w1
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qvec, w0 AS q0, w1 AS q1
      FROM packed WHERE vec_id % {_QUERY_MOD} = 0
    )"""


def _bq_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("q")
    ham = _hamming(dialect, "p.w0", "p.w1", "q.q0", "q.q1")
    return f"""
    WITH {_bq_packed(dialect)},
    d AS (
      SELECT {hint}q.query_id, p.vec_id, {ham} AS hamming
      FROM packed p CROSS JOIN qs q
      WHERE p.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, vec_id, hamming,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY hamming, vec_id) AS rn
      FROM d
    )
    SELECT query_id, vec_id AS neighbor_id, hamming,
      CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= {_TOPK}
    """


sql_query(
    "binary_quantize_search", _bq_sql, "embeddings",
    doc="""Top-10 Hamming neighbors per query over 1-bit-quantized
    embeddings: sign bits packed into two 32-bit BIGINT words at scan
    time, distance = popcount(xor) — integer-only, no float ever
    crosses the join.  Queries (vec_id % 50) broadcast; the corpus
    streams; per-query rank is a window PARTITIONED by query_id with
    (hamming, vec_id) total order.

    Scale: the packed corpus is 16 B/vector (vs 256 B float32) — the
    brute scan this replaces gets 16× cheaper in bandwidth and the
    distance kernel drops to two popcounts; the shuffle carries only
    shortlist-sized (query_id, vec_id, hamming) triples.""",
)


# ---------------------------------------------------------------------------
# binary_rerank_recall_audit
# ---------------------------------------------------------------------------


def _bqr_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("q")
    ham = _hamming(dialect, "p.w0", "p.w1", "q.q0", "q.q1")
    cos = _cos_e6(dialect, "emb", "qvec")
    if dialect.spark:
        # spark side: per-vector norm computed once in packedn/qsn, the
        # rerank and brute-truth pair stages then pay ONE fold per pair
        # instead of three (r11 round; bit-identical — see _cos_e6_pre).
        # The DuckDB twin below keeps the plain form.
        cosp = _cos_e6_pre(dialect, "emb", "qvec", "nrm", "qnrm")
        return f"""
    WITH {_bq_packed(dialect)},
    packedn AS (
      SELECT vec_id, embedding, w0, w1,
        {_norm(dialect, "embedding")} AS nrm
      FROM packed
    ),
    qsn AS (
      SELECT query_id, qvec, q0, q1,
        {_norm(dialect, "qvec")} AS qnrm
      FROM qs
    ),
    d AS (
      SELECT {hint}q.query_id, p.vec_id, q.qvec, q.qnrm,
        p.embedding AS emb, p.nrm, {ham} AS hamming
      FROM packedn p CROSS JOIN qsn q
      WHERE p.vec_id <> q.query_id
    ),
    short AS (
      SELECT query_id, vec_id, qvec, qnrm, emb, nrm FROM (
        SELECT query_id, vec_id, qvec, qnrm, emb, nrm,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY hamming, vec_id) AS rn
        FROM d
      ) s WHERE rn <= {_SHORTLIST}
    ),
    rerank AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {cosp} DESC, vec_id) AS rn
        FROM short
      ) s WHERE rn <= {_TOPK}
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {cosp} DESC, vec_id) AS rn
        FROM (
          SELECT {hint}q.query_id, p.vec_id, q.qvec, q.qnrm,
            p.embedding AS emb, p.nrm
          FROM packedn p CROSS JOIN qsn q
          WHERE p.vec_id <> q.query_id
        ) a
      ) s WHERE rn <= {_TOPK}
    )
    SELECT t.query_id,
      CAST(count(r.vec_id) AS BIGINT) AS n_matched,
      CAST((count(r.vec_id) * 1000000){dialect.div}{_TOPK} AS BIGINT) AS recall_ppm
    FROM truth t
    LEFT JOIN rerank r ON r.query_id = t.query_id AND r.vec_id = t.vec_id
    GROUP BY t.query_id
    """
    return f"""
    WITH {_bq_packed(dialect)},
    d AS (
      SELECT {hint}q.query_id, p.vec_id, q.qvec,
        p.embedding AS emb, {ham} AS hamming
      FROM packed p CROSS JOIN qs q
      WHERE p.vec_id <> q.query_id
    ),
    short AS (
      SELECT query_id, vec_id, qvec, emb FROM (
        SELECT query_id, vec_id, qvec, emb,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY hamming, vec_id) AS rn
        FROM d
      ) s WHERE rn <= {_SHORTLIST}
    ),
    rerank AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {cos} DESC, vec_id) AS rn
        FROM short
      ) s WHERE rn <= {_TOPK}
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {cos} DESC, vec_id) AS rn
        FROM (
          SELECT {hint}q.query_id, p.vec_id, q.qvec, p.embedding AS emb
          FROM packed p CROSS JOIN qs q
          WHERE p.vec_id <> q.query_id
        ) a
      ) s WHERE rn <= {_TOPK}
    )
    SELECT t.query_id,
      CAST(count(r.vec_id) AS BIGINT) AS n_matched,
      CAST((count(r.vec_id) * 1000000){dialect.div}{_TOPK} AS BIGINT) AS recall_ppm
    FROM truth t
    LEFT JOIN rerank r ON r.query_id = t.query_id AND r.vec_id = t.vec_id
    GROUP BY t.query_id
    """


sql_query(
    "binary_rerank_recall_audit", _bqr_sql, "embeddings",
    doc="""The production binary-quantization pipeline with its honesty
    meter: Hamming shortlist (4k = 40) → exact-cosine re-rank → top-10,
    measured per query against the full-precision brute top-10 (the
    audit deliberately pays for both paths — the
    ``hard_negative_recall_audit`` doctrine).  Ties break on floored
    micro-cosine then vec_id in BOTH stages and BOTH engines.

    Scale: the expensive float kernel runs on 4k rows per query
    instead of the corpus; the corpus-wide stage is popcount-only.""",
)


# ---------------------------------------------------------------------------
# jl_projection_recall_audit
# ---------------------------------------------------------------------------


def _jl_plane(p: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 parity (catalog_more
    ``_plane`` device, 'jl' salt) — identical literals in both
    engines."""
    return [
        1.0
        if int(hashlib.md5(f"jl|{p}|{i}".encode()).hexdigest(), 16) % 2
        else -1.0
        for i in range(DIM)
    ]


_JL_PLANES = [_jl_plane(p) for p in range(_JL_DIMS)]


def _jl_proj(dialect: Dialect) -> str:
    """16-element DOUBLE array of plane dot products."""
    terms = []
    for p in range(_JL_DIMS):
        lit = "[" + ",".join(str(x) for x in _JL_PLANES[p]) + "]"
        arr = f"array({lit[1:-1]})" if dialect.spark else f"{lit}::DOUBLE[]"
        terms.append(_dot(dialect, "embedding", arr))
    if dialect.spark:
        return "array(" + ", ".join(terms) + ")"
    return "[" + ", ".join(terms) + "]"


def _jl_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("q")
    if dialect.spark:
        # spark side: per-vector norms (full-dim AND 16-dim sketch)
        # computed once in proj/qs; both pair rankings then pay ONE
        # fold per pair instead of three (r11 round; bit-identical —
        # see _cos_e6_pre).  DuckDB twin keeps the plain form.
        pcos = _cos_e6_pre(dialect, "pv", "qp", "pn", "qpn")
        tcos = _cos_e6_pre(dialect, "emb", "qv", "tn", "qtn")
        return f"""
    WITH proj0 AS (
      SELECT vec_id, embedding, {_jl_proj(dialect)} AS pv
      FROM embeddings
    ),
    proj AS (
      SELECT vec_id, embedding, pv,
        {_norm(dialect, "embedding")} AS tn,
        {_norm(dialect, "pv")} AS pn
      FROM proj0
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv, pv AS qp,
        tn AS qtn, pn AS qpn
      FROM proj WHERE vec_id % {_QUERY_MOD} = 0
    ),
    pairs AS (
      SELECT {hint}q.query_id, p.vec_id, p.pv, q.qp, p.pn, q.qpn,
        p.embedding AS emb, q.qv, p.tn, q.qtn
      FROM proj p CROSS JOIN qs q
      WHERE p.vec_id <> q.query_id
    ),
    sketch AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {pcos} DESC, vec_id) AS rn
        FROM pairs
      ) s WHERE rn <= {_TOPK}
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {tcos} DESC, vec_id) AS rn
        FROM pairs
      ) s WHERE rn <= {_TOPK}
    )
    SELECT t.query_id,
      CAST(count(r.vec_id) AS BIGINT) AS n_matched,
      CAST((count(r.vec_id) * 1000000){dialect.div}{_TOPK} AS BIGINT) AS recall_ppm
    FROM truth t
    LEFT JOIN sketch r ON r.query_id = t.query_id AND r.vec_id = t.vec_id
    GROUP BY t.query_id
    """
    pcos = _cos_e6(dialect, "pv", "qp")
    tcos = _cos_e6(dialect, "emb", "qv")
    return f"""
    WITH proj AS (
      SELECT vec_id, embedding, {_jl_proj(dialect)} AS pv
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv, pv AS qp
      FROM proj WHERE vec_id % {_QUERY_MOD} = 0
    ),
    pairs AS (
      SELECT {hint}q.query_id, p.vec_id, p.pv, q.qp,
        p.embedding AS emb, q.qv
      FROM proj p CROSS JOIN qs q
      WHERE p.vec_id <> q.query_id
    ),
    sketch AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {pcos} DESC, vec_id) AS rn
        FROM pairs
      ) s WHERE rn <= {_TOPK}
    ),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY {tcos} DESC, vec_id) AS rn
        FROM pairs
      ) s WHERE rn <= {_TOPK}
    )
    SELECT t.query_id,
      CAST(count(r.vec_id) AS BIGINT) AS n_matched,
      CAST((count(r.vec_id) * 1000000){dialect.div}{_TOPK} AS BIGINT) AS recall_ppm
    FROM truth t
    LEFT JOIN sketch r ON r.query_id = t.query_id AND r.vec_id = t.vec_id
    GROUP BY t.query_id
    """


sql_query(
    "jl_projection_recall_audit", _jl_sql, "embeddings",
    doc="""Johnson-Lindenstrauss sketch audit: 64-dim embeddings projected
    onto 16 deterministic ±1 hyperplanes at scan time, brute top-10 by
    SKETCH cosine, recall measured against full-dim truth per query.
    The projection is computed ONCE per vector in the scan projection
    (16 sequential-fold dot products, JVM codegen), so the pair stage
    touches only 16-double arrays — the 100 TB story is a 4× (here)
    to 64× (1024-dim production vectors) bandwidth cut on the
    all-pairs stage while keeping real-valued ranking.

    Scale: same broadcast-query / streaming-corpus / partitioned
    window posture as the quantization twins above.""",
)


# ---------------------------------------------------------------------------
# bayes_ab_prob_superiority
# ---------------------------------------------------------------------------

_BAYES_CONV_MIN = 14  # ≥14 purchase events ≈ median user → p near 0.5


def _bayes_sql(dialect: Dialect) -> str:

    def seq(n_expr: str) -> str:
        # duck range is half-open; spark sequence is inclusive
        return (
            f"sequence(0, {n_expr} - 1)" if dialect.spark else f"range(0, {n_expr})"
        )

    # Two SCALAR left folds only: DuckDB's list_reduce mis-evaluates
    # struct accumulators (the second field sees the first field's
    # already-updated value from step 2 on — probed, see the tier-5
    # test), so the sum is Horner-rearranged to need just one carried
    # double: Σᵢ Π_{l<i} r_l = 1 + r₀(1 + r₁(1 + …)), a left fold over
    # the REVERSED ratio list.
    if dialect.spark:
        t0 = (
            "aggregate(transform({s}, j ->"
            " (CAST(bb_a + j AS DOUBLE)) / CAST(aa_a + bb_a + j AS DOUBLE)),"
            " CAST(1 AS DOUBLE), (acc, x) -> acc * x)"
        ).format(s=seq("bb_b"))
        ratios = (
            "transform(filter({s}, l -> l < aa_b - 1), l ->"
            " CAST(aa_a + l AS DOUBLE) * CAST(bb_b + l AS DOUBLE)"
            " / (CAST(aa_a + bb_a + bb_b + l AS DOUBLE)"
            " * CAST(1 + l AS DOUBLE)))"
        ).format(s=seq("aa_b"))
        fold = (
            f"t0 * aggregate(reverse({ratios}), CAST(1 AS DOUBLE),"
            " (acc, r) -> CAST(1 AS DOUBLE) + r * acc)"
        )
    else:
        t0 = (
            "list_reduce(list_prepend(1.0::DOUBLE, list_transform({s},"
            " j -> (bb_a + j)::DOUBLE / (aa_a + bb_a + j)::DOUBLE)),"
            " (acc, x) -> acc * x)"
        ).format(s=seq("bb_b"))
        ratios = (
            "list_transform(list_filter({s}, l -> l < aa_b - 1), l ->"
            " (aa_a + l)::DOUBLE * (bb_b + l)::DOUBLE"
            " / ((aa_a + bb_a + bb_b + l)::DOUBLE * (1 + l)::DOUBLE))"
        ).format(s=seq("aa_b"))
        fold = (
            f"t0 * list_reduce(list_prepend(1.0::DOUBLE,"
            f" list_reverse({ratios})),"
            " (acc, r) -> 1.0::DOUBLE + r * acc)"
        )

    return f"""
    WITH conv AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
        CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             >= {_BAYES_CONV_MIN} THEN 1 ELSE 0 END AS c
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT
        CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN variant = 0 THEN c ELSE 0 END) AS BIGINT) AS c_a,
        CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN variant = 1 THEN c ELSE 0 END) AS BIGINT) AS c_b
      FROM conv
    ),
    pars AS (
      SELECT n_a, c_a, n_b, c_b,
        1 + c_a AS aa_a, 1 + n_a - c_a AS bb_a,
        1 + c_b AS aa_b, 1 + n_b - c_b AS bb_b
      FROM st
    ),
    w0 AS (SELECT *, {t0} AS t0 FROM pars),
    p AS (SELECT *, {fold} AS prob FROM w0)
    SELECT n_a, c_a, n_b, c_b,
      CAST(floor(1000000 * prob) AS BIGINT) AS prob_b_beats_a_e6,
      prob > 0.95 AS ship_b,
      prob < 0.05 AS ship_a
    FROM p
    """


sql_query(
    "bayes_ab_prob_superiority", _bayes_sql, "events",
    doc="""Exact Bayesian A/B: P(p_B > p_A) under independent Beta(1,1)
    posteriors for the heavy-purchaser rate by user-id-parity variant.
    The closed-form finite sum Σᵢ B(α_A+i, β_A+β_B)/((β_B+i)·
    B(1+i,β_B)·B(α_A,β_A)) is evaluated by TWO SCALAR folds —
    term₀ = Π (β_A+j)/(α_A+β_A+j), and the sum Horner-rearranged to
    1 + r₀(1 + r₁(1 + …)) over the reversed ratio list with
    rᵢ = (α_A+i)(β_B+i)/((α_A+β_A+β_B+i)(1+i)): the only
    floating-point ops are IEEE ×/÷/+ in a fixed fold order, so Spark
    and DuckDB agree BITWISE and floor(1e6·P) is engine-exact.  (A
    struct-accumulator single fold would be natural, but DuckDB's
    list_reduce mis-evaluates struct accumulators — probed in
    tests/test_r8e_vectors.py — hence the scalar Horner form.)  The
    complementary frequentist gate is ``ab_test_ztest``.

    Scale: everything after the per-user groupBy is ONE row folding a
    conversions-sized array — O(successes), not O(samples), and no
    recursion, no UDF, no RNG.""",
)


# ---------------------------------------------------------------------------
# rappor_freq_estimate
# ---------------------------------------------------------------------------

_RAPPOR_F_PPM = 250_000  # flip probability 1/4 → est = (p̂−f)/(1−2f)


def _rappor_sql(dialect: Dialect) -> str:
    hint = dialect.broadcast("t")
    coin = (
        "substring(md5(CAST(g.user_id AS STRING) || '|' || g.event_type),"
        " 1, 1) IN ('0', '1', '2', '3')"
        if dialect.spark
        else "substring(md5(CAST(g.user_id AS VARCHAR) || '|' ||"
        " g.event_type), 1, 1) IN ('0', '1', '2', '3')"
    )
    return f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    typ AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT {hint}u.user_id, t.event_type FROM u CROSS JOIN typ t),
    tru AS (SELECT user_id, event_type, 1 AS b FROM events
            GROUP BY user_id, event_type),
    bits AS (
      SELECT g.user_id, g.event_type, coalesce(tr.b, 0) AS b,
        CASE WHEN {coin} THEN 1 ELSE 0 END AS f
      FROM grid g LEFT JOIN tru tr
        ON tr.user_id = g.user_id AND tr.event_type = g.event_type
    ),
    rep AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(CASE WHEN f = 1 THEN 1 - b ELSE b END) AS BIGINT)
          AS reported,
        CAST(sum(b) AS BIGINT) AS true_cnt
      FROM bits GROUP BY event_type
    )
    SELECT event_type, n_users, reported,
      ((reported * 1000000){dialect.div}n_users - {_RAPPOR_F_PPM}) * 2 AS est_ppm,
      (true_cnt * 1000000){dialect.div}n_users AS true_ppm,
      ((reported * 1000000){dialect.div}n_users - {_RAPPOR_F_PPM}) * 2
        - (true_cnt * 1000000){dialect.div}n_users AS err_ppm
    FROM rep
    """


sql_query(
    "rappor_freq_estimate", _rappor_sql, "events",
    doc="""Randomized-response (RAPPOR-style, basic one-time) frequency
    estimation over event participation: each (user, type) presence
    bit is flipped with probability f = 1/4 by a deterministic md5
    coin — both engines flip the SAME coins, so the 'noisy' channel is
    replayable — and the collector recovers the unbiased estimate
    p̂_true = (p̂_reported − f)/(1 − 2f) in ppm next to ground truth
    and the realized estimator error.  The k-anonymity/l-diversity/
    t-closeness tier audits the DATA; this audits the MECHANISM.

    Scale: one users×5-types broadcast grid, one groupBy; the md5
    coin is scan-side JVM work.  The per-type error shrinks as
    1/√users — visible across the sf ladder.""",
)
