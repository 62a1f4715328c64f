"""Round-10 catalog, tier 10 — collocation mining, corpus entropy
rate, embedding-geometry health, and the mergeable-sketch union audit.

Four reads an LLM-data pipeline wants that nothing in the first 492
queries covers:

* ``pmi_collocations`` — pointwise mutual information + logDice over
  the within-document word bigrams: the corpus-linguistics standard
  for multi-word expressions.  logDice (Rychlý 2008) is the
  frequency-stable ranking (raw PMI overweights rare pairs even after
  a frequency floor); both are reported.
* ``char_entropy_rate`` — character unigram entropy H₁, bigram
  entropy H₂, and the conditional (first-order entropy-rate) read
  H₂ − H₁ with its branching factor exp(H₂ − H₁): the
  language-agnostic compressibility gauge (natural text sits near
  3-4 bits/char; id-soup and templated corpora fall far outside).
* ``embedding_anisotropy_audit`` — Ethayarajh-style anisotropy: the
  average cosine between each vector and the corpus centroid, plus
  norm statistics.  A healthy embedding table has cosines spread
  around 0; "embedding collapse" (a failed encoder, a truncated
  export) shows up as avg-cos → 1.  The health read that belongs next
  to ``ivf_cell_balance_audit`` in the index-monitoring battery.
* ``kmv_merge_audit`` — the KMV sketch's DISTRIBUTED story: one k-min
  sketch PER ORDER-MONTH shard over customer keys, the
  union-of-sketches merge (exactly what partition-local sketches ship
  to the driver at 100 TB), the merged estimate priced against the
  exact distinct-customer count, and the Σ per-shard estimates /
  merged estimate duplication factor — the cross-shard overlap read
  the per-table ``kmv_distinct_audit`` cannot see.

Reference parity: beyond-reference text/embedding tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py)."""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r10e import _tok_cte

#: Collocation frequency floor (bigrams rarer than this are skipped —
#: PMI on hapax pairs is pure noise).
_PMI_MIN_FREQ = 10
#: Per-shard KMV sketch size (see catalog_r10h._KMV_K for the k-vs-
#: universe sizing rationale).  64: at sf0.001 single months hold
#: FEWER than 64 distinct customers (exercising the small-set exact
#: path) while the merged universe holds more (exercising the
#: estimator); both paths grow correct at larger SFs.
_KMV_SHARD_K = 64
#: 2^60 — the hash-space size of portable_hash64 (15 hex digits).
_HASH_SPACE = 1 << 60


def _bigram_pair_cte(dialect: Dialect) -> str:
    """Within-document word bigrams as (doc_id, w1, w2) pairs — the
    positional-index device of ``repetition_ngram_ratio`` (r10i), kept
    as PAIRS so collocation statistics can join unigram counts."""
    if dialect.spark:
        return r"""
    bgp AS (
      SELECT d.doc_id, element_at(d.tk, s.i) AS w1,
        element_at(d.tk, s.i + 1) AS w2
      FROM (SELECT doc_id,
              split(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      LATERAL VIEW explode(sequence(1, size(d.tk) - 1)) s AS i
      WHERE size(d.tk) >= 2
    )"""
    return r"""
    bgp AS (
      SELECT d.doc_id, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d,
           unnest([[d.tk[i], d.tk[i + 1]]
                   FOR i IN range(1, len(d.tk))]) AS u(p)
      WHERE len(d.tk) >= 2
    )"""


# ---------------------------------------------------------------------------
# pmi_collocations
# ---------------------------------------------------------------------------


def _pmi_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    {_bigram_pair_cte(dialect).lstrip()},
    big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
      FROM bgp GROUP BY w1, w2
      HAVING count(*) >= {_PMI_MIN_FREQ}
    ),
    nb AS (
      SELECT CAST(count(*) AS BIGINT) AS nb FROM bgp
    ),
    scored AS (
      SELECT b.w1, b.w2, b.cxy, u1.c AS cx, u2.c AS cy,
        CAST(floor(1000000 * ln(
          CAST(b.cxy AS DOUBLE) * n.n * n.n
          / (CAST(nb.nb AS DOUBLE) * u1.c * u2.c))) AS BIGINT)
          AS pmi_e6,
        CAST(floor(1000000 * (14.0
          + ln(2.0 * CAST(b.cxy AS DOUBLE) / (u1.c + u2.c))
            / ln(2.0))) AS BIGINT) AS logdice_e6
      FROM big b
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN n CROSS JOIN nb
    )
    SELECT w1, w2, cxy AS pair_count, cx AS count_w1, cy AS count_w2,
      pmi_e6, logdice_e6
    FROM scored
    ORDER BY logdice_e6 DESC, w1, w2
    LIMIT 20
    """


sql_query(
    "pmi_collocations", _pmi_sql, "documents",
    doc="""Collocation mining over within-document word bigrams: PMI =
    ln(p(xy)/(p(x)p(y))) and logDice = 14 + log₂(2·c_xy/(c_x+c_y)) per
    pair, frequency-floored at {_PMI_MIN_FREQ}, top-20 by logDice
    (the Sketch Engine standard — bounded in (−∞, 14], stable under
    corpus-size changes, immune to PMI's rare-pair explosion; PMI
    rides along for the information-theoretic read).  Multi-word
    expressions, template echoes, and tokenizer-merge candidates all
    surface here.  Both scores floor per ROW from scalar doubles — no
    float accumulation.

    Scale: bigram explode is linear (positional index, no self-join);
    the (w1, w2) aggregate is pair-vocab-sized and map-side
    combinable; unigram joins are vocab-sized; top-20 via TakeOrdered
    with deterministic (score, w1, w2) tiebreak — no global window.
    20 rows out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# char_entropy_rate
# ---------------------------------------------------------------------------


def _entropy_sql(dialect: Dialect) -> str:
    if dialect.spark:
        chars = """
    ch AS (
      SELECT substring(d.text, s.i, 1) AS g
      FROM (SELECT text FROM documents WHERE length(text) >= 1) d
      LATERAL VIEW explode(sequence(1, length(d.text))) s AS i
    ),
    ch2 AS (
      SELECT substring(d.text, s.i, 2) AS g
      FROM (SELECT text FROM documents WHERE length(text) >= 2) d
      LATERAL VIEW explode(sequence(1, length(d.text) - 1)) s AS i
    )"""
    else:
        chars = """
    ch AS (
      SELECT unnest([d.text[i:i] FOR i IN range(1, length(d.text) + 1)])
        AS g
      FROM (SELECT text FROM documents WHERE length(text) >= 1) d
    ),
    ch2 AS (
      SELECT unnest([d.text[i:i + 1] FOR i IN range(1, length(d.text))])
        AS g
      FROM (SELECT text FROM documents WHERE length(text) >= 2) d
    )"""
    ent = """
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS v,
        CAST(sum(c * CAST(floor(1000000 * ln(CAST(c AS DOUBLE)))
                          AS BIGINT)) AS {big}) AS sclog_e6
      FROM"""
    ent = ent.replace("{big}", dialect.big)
    return f"""
    WITH {chars},
    u1 AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM ch GROUP BY g),
    u2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM ch2 GROUP BY g),
    e1 AS ({ent} u1),
    e2 AS ({ent} u2),
    hh AS (
      SELECT e1.n AS n_chars, e1.v AS alphabet,
        e2.v AS bigram_types,
        CAST(floor(1000000 * ln(CAST(e1.n AS DOUBLE))
                   - CAST(e1.sclog_e6 AS DOUBLE) / e1.n) AS BIGINT)
          AS h1_e6,
        CAST(floor(1000000 * ln(CAST(e2.n AS DOUBLE))
                   - CAST(e2.sclog_e6 AS DOUBLE) / e2.n) AS BIGINT)
          AS h2_e6
      FROM e1 CROSS JOIN e2
    )
    SELECT n_chars, alphabet, bigram_types, h1_e6, h2_e6,
      h2_e6 - h1_e6 AS cond_h_e6,
      CAST(floor(1000000
        * exp(CAST(h2_e6 - h1_e6 AS DOUBLE) / 1000000)) AS BIGINT)
        AS branching_factor_e6
    FROM hh
    """


sql_query(
    "char_entropy_rate", _entropy_sql, "documents",
    doc="""Character-level entropy rate of the corpus: unigram entropy H₁,
    bigram entropy H₂ (both in nats, e6-scaled), the first-order
    conditional entropy H₂ − H₁ — Shannon's entropy-rate
    approximation, i.e. how predictable the next character is — and
    its branching factor e^(H₂−H₁) (the effective next-char alphabet).
    Natural language sits near 2-3 nats/char unigram with a strongly
    compressive conditional; random ids show H₂ − H₁ ≈ H₁ (no
    sequential structure), and templated text collapses toward 0.
    Complements the TOKEN-level reads (``bigram_lm_perplexity`` is a
    trained LM's held-out perplexity; this is the model-free corpus
    constant).  House entropy device throughout: ln floors per
    DISTINCT character/bigram type (bounded groups, independent
    roundings), integer weighted sums, two scalar float finishes.
    cond_h_e6 is the exact integer difference of the two floors.

    Scale: the char explode is linear in corpus bytes (positional
    index — no join); both aggregates collapse to alphabet-bounded
    frames map-side.  No window.  1 row out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# embedding_anisotropy_audit
# ---------------------------------------------------------------------------


def _aniso_sql(dialect: Dialect) -> str:
    if dialect.spark:
        epos = """
      SELECT e.vec_id, pos,
        CAST(floor(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS v_e6
      FROM embeddings e
      LATERAL VIEW posexplode(e.embedding) t AS pos, val"""
    else:
        epos = """
      SELECT e.vec_id,
        unnest(range(1, len(e.embedding) + 1)) - 1 AS pos,
        CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1000000)
             AS BIGINT) AS v_e6
      FROM embeddings e"""
    return f"""
    WITH epos AS ({epos}),
    nv AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM epos),
    mean AS (
      SELECT pos, CAST(sum(v_e6) AS BIGINT) AS s_e6
      FROM epos GROUP BY pos
    ),
    mm AS (
      SELECT CAST(sum(CAST(m.s_e6 AS {dialect.big}) * m.s_e6) AS {dialect.big}) AS mm,
        CAST(count(*) AS BIGINT) AS dim
      FROM mean m
    ),
    pervec AS (
      SELECT e.vec_id,
        CAST(sum(CAST(e.v_e6 AS {dialect.big}) * m.s_e6) AS {dialect.big}) AS vm,
        CAST(sum(CAST(e.v_e6 AS {dialect.big}) * e.v_e6) AS {dialect.big}) AS vv
      FROM epos e JOIN mean m ON m.pos = e.pos
      GROUP BY e.vec_id
    ),
    percos AS (
      SELECT vec_id,
        CAST(floor(1000000 * CAST(vm AS DOUBLE)
          / (sqrt(CAST(vv AS DOUBLE)) * sqrt(CAST(mm.mm AS DOUBLE))))
          AS BIGINT) AS cos_e6,
        CAST(floor(sqrt(CAST(vv AS DOUBLE))) AS BIGINT) AS norm_e6
      FROM pervec CROSS JOIN mm
    )
    SELECT nv.n AS n_vectors, mm.dim AS dim,
      CAST(CAST(floor(sqrt(CAST(mm.mm AS DOUBLE))) AS BIGINT)
           {dialect.div}nv.n AS BIGINT) AS centroid_norm_e6,
      CAST(sum(p.norm_e6){dialect.div}nv.n AS BIGINT) AS avg_vec_norm_e6,
      CAST(sum(p.cos_e6){dialect.div}nv.n AS BIGINT) AS avg_cos_centroid_e6,
      CAST(max(p.cos_e6) AS BIGINT) AS max_cos_centroid_e6,
      CAST(min(p.cos_e6) AS BIGINT) AS min_cos_centroid_e6
    FROM percos p CROSS JOIN nv CROSS JOIN mm
    GROUP BY nv.n, mm.dim, mm.mm
    """


sql_query(
    "embedding_anisotropy_audit", _aniso_sql, "embeddings",
    doc="""Embedding-geometry health: the average/min/max cosine between
    each vector and the corpus centroid (Ethayarajh's anisotropy
    probe), the centroid's norm (per vector — the SUM vector's norm
    divided by n, so the e6 fixed-point mean needs no per-dimension
    division), and the average vector norm.  A healthy table spreads
    cosines around a small positive value; avg-cos → 1 is embedding
    COLLAPSE (failed encoder, truncated export, all-same rows) and a
    near-zero centroid with wild norm spread flags mixed/corrupt
    scales — the silent failures that poison every downstream ANN
    query while ``ivf_cell_balance_audit`` still looks fine.  Fixed
    point throughout: components floor to e6 per row, per-vector dot
    products are exact integer folds, ONE float cosine floors per
    vector (bounded scalars), and the final averages are integer
    divisions of integer sums.

    Scale: the component explode is linear (dim-bounded per row); the
    per-dimension sum and per-vector fold are both map-side
    combinable; the dim-row mean table broadcasts.  No window.  1 row
    out.

    Reference parity: beyond-reference embedding tier.""",
)


# ---------------------------------------------------------------------------
# kmv_merge_audit
# ---------------------------------------------------------------------------


def _kmv_merge_sql(dialect: Dialect) -> str:
    h = (
        "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT)"
        if dialect.spark
        else "CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),"
        " 1, 15) AS BIGINT)"
    )
    k = _KMV_SHARD_K
    return f"""
    WITH keys AS (
      SELECT DISTINCT substring(CAST(o_orderdate AS {'STRING' if dialect.spark
        else 'VARCHAR'}), 1, 7) AS shard, {h} AS hv
      FROM orders
    ),
    ranked AS (
      SELECT shard, hv,
        row_number() OVER (PARTITION BY shard ORDER BY hv) AS r
      FROM keys
    ),
    sketches AS (
      SELECT shard, hv, r FROM ranked WHERE r <= {k}
    ),
    pershard AS (
      SELECT shard, CAST(max(r) AS BIGINT) AS kf,
        CAST(max(hv) AS BIGINT) AS hk
      FROM sketches GROUP BY shard
    ),
    shardest AS (
      SELECT CAST(count(*) AS BIGINT) AS n_shards,
        CAST(sum(CASE WHEN kf < {k} THEN CAST(kf AS {dialect.big})
             ELSE (CAST({k} - 1 AS {dialect.big}) * {_HASH_SPACE})
                  {dialect.div}hk END) AS {dialect.big}) AS sum_est
      FROM pershard
    ),
    merged AS (
      SELECT hv FROM (SELECT DISTINCT hv FROM sketches) u
      ORDER BY hv LIMIT {k}
    ),
    mk AS (
      SELECT CAST(max(hv) AS BIGINT) AS hk,
        CAST(count(*) AS BIGINT) AS kf
      FROM merged
    ),
    mest AS (
      SELECT CAST(CASE WHEN mk.kf < {k} THEN CAST(mk.kf AS {dialect.big})
        ELSE (CAST({k} - 1 AS {dialect.big}) * {_HASH_SPACE}){dialect.div}mk.hk END
        AS BIGINT) AS est, mk.hk AS hk
      FROM mk
    ),
    exact AS (
      SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd
      FROM orders
    )
    SELECT shardest.n_shards, mest.hk AS merged_kth_hash,
      mest.est AS merged_estimate,
      exact.nd AS exact_distinct,
      CAST((mest.est - exact.nd) * 1000000{dialect.div}exact.nd AS BIGINT)
        AS rel_err_e6,
      CAST(shardest.sum_est AS BIGINT) AS sum_shard_estimates,
      CAST((shardest.sum_est * 1000000){dialect.div}mest.est AS BIGINT)
        AS duplication_factor_e6
    FROM shardest CROSS JOIN mest CROSS JOIN exact
    """


sql_query(
    "kmv_merge_audit", _kmv_merge_sql, "orders",
    doc="""KMV sketch MERGEABILITY audit over calendar shards: each order
    MONTH keeps its own k-minimum-hash sketch of the customer keys it
    saw (the per-partition state at 100 TB — a daily/monthly ingest
    writes one tiny sketch per partition), the sketches union-merge by
    distinct-k-min (provably identical to sketching the union
    directly, which is WHY KMV distributes), and the merged estimate
    is priced against the exact distinct-customer count.  The extra
    read the single-table ``kmv_distinct_audit`` cannot give:
    Σ per-shard estimates over the merged estimate — the cross-month
    customer-RETENTION/duplication factor (≈1 means every month saw
    new customers; ≈n_shards means the same cohort returns monthly).
    Underfilled sketches (< k distinct) report their exact count at
    BOTH levels — the standard KMV small-set convention, exercised at
    sf0.001 where single months hold fewer than k keys.
    portable_hash64 (md5 15-hex) so the oracle replays hashes
    bit-identically.

    Scale: the (month, custkey) distinct is the only volume-bearing
    shuffle; the per-shard rank window PARTITIONS by month (never
    global); the merge frame is n_months × k rows, and the k-bounded
    merged TopK is a TakeOrdered.  At true scale the per-partition
    sketches persist with the partition and merging is metadata-sized
    work — the audit prices exactly that path.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
