"""Round-10 catalog, tier 9 — vocabulary-statistics and keyness second
wave over the documents corpus.

The first text waves measured growth and shape (``heaps_law_fit``,
``zipf_slope_audit``, ``trigram_novelty_curve``) and per-source drift
(``kl_source_divergence``, ``stopword_chi2_drift``,
``hapax_ratio_by_source``).  This tier adds the classical
vocabulary-richness constants, frequency-spectrum smoothing, corpus
comparison, and the repetition gate an LLM-data pipeline runs per
document:

* ``yule_k_vocabulary`` — Yule's characteristic K = 10⁴(Σc² − N)/N²
  and Simpson's repeat rate Σc(c−1)/(N(N−1)): the probability two
  random tokens coincide — the vocabulary-concentration constants that
  are (unlike TTR) text-length invariant.
* ``honore_sichel_richness`` — Honoré's R = 100·ln N/(1 − V₁/V) and
  Sichel's S = V₂/V from the frequency spectrum's first two slots —
  the hapax/dis-legomena richness reads.
* ``good_turing_smoothing`` — the Good-Turing frequency-spectrum
  re-estimates r* = (r+1)·n_{r+1}/n_r for r = 1..5 plus the r = 0
  missing-mass row p₀ = n₁/N — the smoothing every n-gram LM applies
  to unseen events, computed exactly from the spectrum.
* ``log_likelihood_keyness`` — Dunning's G² keyness of the English
  sub-corpus against the rest: the log-likelihood-ratio test per term,
  the corpus-linguistics standard for "which words characterize this
  slice" (and the statistically sound replacement for raw frequency
  ratios).  Top-20 by G², deterministic tiebreak.
* ``gries_dp_dispersion`` — Gries' Deviation of Proportions per term:
  DP = ½Σ_s|obs_share − exp_share| across the 20 sources, the
  dispersion measure that catches terms whose mass sits in ONE shard
  (df-floored, top-20 most concentrated).  Exact rational arithmetic
  including the absent-source terms.
* ``repetition_ngram_ratio`` — per-document top-bigram share (the
  Gopher-style repetition gate: max bigram count / total bigrams),
  rolled up to the corpus micro-average and the share of documents
  over the 20% repetition line.

Reference parity: beyond-reference text tier (the reference ships no
analytics; SURVEY §2 X-series is covered by catalog.py)."""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r10e import _tok_cte

#: Gries DP document-frequency floor: terms with fewer total
#: occurrences than this are skipped (every rare term is trivially
#: "concentrated"; the dispersion read is about REAL vocabulary).
_DP_MIN_FREQ = 30


def _spectrum_cte(dialect: Dialect) -> str:
    """Corpus term frequencies (``tf``: w, c) and the frequency
    spectrum (``spec``: r, n_r) on top of the r9f/r10e whitespace
    token convention."""
    return f"""
    {_tok_cte(dialect)},
    tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ),
    spec AS (
      SELECT c AS r, CAST(count(*) AS BIGINT) AS nr FROM tf GROUP BY c
    )"""


# ---------------------------------------------------------------------------
# yule_k_vocabulary
# ---------------------------------------------------------------------------


def _yule_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_spectrum_cte(dialect)},
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS v,
        CAST(sum(CAST(c AS {dialect.big}) * c) AS {dialect.big}) AS sc2
      FROM tf
    )
    SELECT n AS n_tokens, v AS vocab,
      CAST(((sc2 - n) * 10000000000){dialect.div}(CAST(n AS {dialect.big}) * n)
        AS BIGINT) AS yule_k_e6,
      CAST(((sc2 - n) * 1000000)
           {dialect.div}(CAST(n AS {dialect.big}) * (n - 1)) AS BIGINT)
        AS simpson_repeat_e6
    FROM agg
    """


sql_query(
    "yule_k_vocabulary", _yule_sql, "documents",
    doc="""Yule's characteristic K of the corpus vocabulary:
    K = 10⁴·(Σc² − N)/N² (e6-scaled on top of Yule's own 10⁴), with
    Simpson's repeat rate Σc(c−1)/(N(N−1)) — the unbiased probability
    that two random token draws are the same type.  Both are
    length-invariant concentration constants (the property TTR lacks),
    so cross-corpus and cross-round values compare directly; a
    TEMPLATED or boilerplate-heavy corpus announces itself as K far
    above a natural-language baseline.  Exact integer arithmetic from
    the term-frequency aggregate (Σc² in DECIMAL(38)/HUGEINT).

    Scale: tokenization explodes linearly; the (w) aggregate is
    vocab-sized and map-side combinable; one 1-row reduction.  No
    window.  1 row out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# honore_sichel_richness
# ---------------------------------------------------------------------------


def _honore_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_spectrum_cte(dialect)},
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS v
      FROM tf
    ),
    slots AS (
      SELECT
        CAST(coalesce(max(CASE WHEN r = 1 THEN nr END), 0) AS BIGINT)
          AS v1,
        CAST(coalesce(max(CASE WHEN r = 2 THEN nr END), 0) AS BIGINT)
          AS v2
      FROM spec
    )
    SELECT agg.n AS n_tokens, agg.v AS vocab, slots.v1 AS hapax,
      slots.v2 AS dis_legomena,
      CAST(floor(1000000 * 100.0 * ln(CAST(agg.n AS DOUBLE))
                 / (1.0 - CAST(slots.v1 AS DOUBLE) / agg.v))
        AS BIGINT) AS honore_r_e6,
      CAST((slots.v2 * 1000000){dialect.div}agg.v AS BIGINT) AS sichel_s_e6
    FROM agg CROSS JOIN slots
    """


sql_query(
    "honore_sichel_richness", _honore_sql, "documents",
    doc="""Honoré's R = 100·ln N/(1 − V₁/V) and Sichel's S = V₂/V from the
    first two frequency-spectrum slots (V₁ hapax legomena, V₂ dis
    legomena).  The richness pair complements ``heaps_law_fit``'s
    growth exponent: R diverges as the hapax share approaches 1 (an
    open, still-growing vocabulary — or an id-soup corpus), S is
    stable near 0.15 for natural language and shifts under templating.
    V₁, V₂, V, N are exact integers; Honoré's R is the one scalar
    float expression (ln + one division — no accumulation), Sichel's S
    is an exact integer ppm floor.

    Scale: spectrum aggregate on top of the vocab-sized term
    frequencies; everything after is ≤ a handful of rows.  No window.
    1 row out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# good_turing_smoothing
# ---------------------------------------------------------------------------


def _gt_sql(dialect: Dialect) -> str:
    seq = f"SELECT {dialect.series(1, 5)} AS r"
    return f"""
    WITH {_spectrum_cte(dialect)},
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tf),
    grid AS (SELECT CAST(r AS BIGINT) AS r FROM ({seq}) t),
    gt AS (
      SELECT g.r,
        CAST(coalesce(s1.nr, 0) AS BIGINT) AS n_r,
        CAST((coalesce(s2.nr, 0) * (g.r + 1) * 1000000)
             {dialect.div}coalesce(s1.nr, 1) AS BIGINT) AS r_star_e6
      FROM grid g
      LEFT JOIN spec s1 ON s1.r = g.r
      LEFT JOIN spec s2 ON s2.r = g.r + 1
    )
    SELECT CAST(0 AS BIGINT) AS r, n.n AS n_r,
      CAST((coalesce((SELECT nr FROM spec WHERE r = 1), 0) * 1000000)
           {dialect.div}n.n AS BIGINT) AS r_star_e6
    FROM n
    UNION ALL
    SELECT r, n_r, r_star_e6 FROM gt
    ORDER BY r
    """


sql_query(
    "good_turing_smoothing", _gt_sql, "documents",
    doc="""Good-Turing frequency-spectrum smoothing: for r = 1..5 the
    adjusted count r* = (r+1)·n_{r+1}/n_r, plus the r = 0 row holding
    the total token count and the MISSING MASS p₀ = n₁/N — the
    probability the next token is an unseen type, the quantity every
    n-gram LM (and every "how much more data is out there" estimate)
    needs.  r* < r in the low slots is the Good-Turing signature; a
    spectrum where r* ≈ r already at r = 1 means the vocabulary is
    closed (saturated corpus).  Exact integers end-to-end (n_r = 0
    slots report r* against the coalesce(·, 1) guard — documented
    degenerate-slot convention).

    Scale: spectrum aggregate (vocab-sized, map-side combinable), a
    5-row grid join.  No window.  6 rows out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# log_likelihood_keyness
# ---------------------------------------------------------------------------


def _keyness_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    lt AS (
      SELECT t.w,
        CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN d.lang = 'en' THEN 0 ELSE 1 END)
             AS BIGINT) AS b
      FROM tok t JOIN documents d ON d.doc_id = t.doc_id
      GROUP BY t.w
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
      FROM lt
    ),
    g2 AS (
      SELECT lt.w, lt.a, lt.b,
        CAST(floor(2000000 * (
          CASE WHEN lt.a > 0 THEN
            CAST(lt.a AS DOUBLE) * ln(CAST(lt.a AS DOUBLE)
              * (tot.na + tot.nb)
              / (CAST(lt.a + lt.b AS DOUBLE) * tot.na))
          ELSE 0.0 END
          + CASE WHEN lt.b > 0 THEN
            CAST(lt.b AS DOUBLE) * ln(CAST(lt.b AS DOUBLE)
              * (tot.na + tot.nb)
              / (CAST(lt.a + lt.b AS DOUBLE) * tot.nb))
          ELSE 0.0 END)) AS BIGINT) AS g2_e6,
        lt.a * CAST(tot.nb AS {dialect.big})
          > lt.b * CAST(tot.na AS {dialect.big}) AS overused_in_en
      FROM lt CROSS JOIN tot
    )
    SELECT w AS term, a AS count_en, b AS count_rest, g2_e6,
      overused_in_en
    FROM g2
    ORDER BY g2_e6 DESC, w
    LIMIT 20
    """


sql_query(
    "log_likelihood_keyness", _keyness_sql, "documents",
    doc="""Dunning's log-likelihood keyness of the English sub-corpus vs
    the rest: per term, G² = 2·[a·ln(a/ê_a) + b·ln(b/ê_b)] with
    expected counts proportional to sub-corpus sizes — the
    corpus-linguistics standard for "which terms characterize this
    slice" (raw ratios overweight rare terms; chi-square breaks below
    expected 5; G² does neither).  Top-20 by G² with the
    overused_in_en direction flag (cross-multiplied comparison —
    exact integers, no rate division).  G² itself floors per ROW from
    scalar doubles (no accumulation — portable), 2e6-scaled.

    Scale: token explode is linear; the (w) aggregate with conditional
    sums is vocab-sized and map-side combinable; the top-20 is a
    TakeOrdered with deterministic (g2, w) tiebreak — k-bounded, no
    global window.  20 rows out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# gries_dp_dispersion
# ---------------------------------------------------------------------------


def _dp_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    ws AS (
      SELECT w, source, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY w, source
    ),
    srctot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM ws
      GROUP BY source
    ),
    n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM srctot),
    wt AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS ct FROM ws GROUP BY w
    ),
    present AS (
      SELECT ws.w,
        CAST(sum(abs(CAST(ws.c AS {dialect.big}) * n.n
                     - CAST(wt.ct AS {dialect.big}) * st.ns)) AS {dialect.big})
          AS dev_present,
        CAST(sum(st.ns) AS BIGINT) AS ns_present
      FROM ws
      JOIN wt ON wt.w = ws.w
      JOIN srctot st ON st.source = ws.source
      CROSS JOIN n
      WHERE wt.ct >= {_DP_MIN_FREQ}
      GROUP BY ws.w
    )
    SELECT p.w AS term, wt.ct AS total_count,
      CAST(((p.dev_present
             + CAST(wt.ct AS {dialect.big}) * (n.n - p.ns_present)) * 1000000)
           {dialect.div}(2 * CAST(wt.ct AS {dialect.big}) * n.n) AS BIGINT) AS dp_e6
    FROM present p
    JOIN wt ON wt.w = p.w
    CROSS JOIN n
    ORDER BY dp_e6 DESC, p.w
    LIMIT 20
    """


sql_query(
    "gries_dp_dispersion", _dp_sql, "documents",
    doc="""Gries' Deviation of Proportions per term across the source
    shards: DP = ½·Σ_s |c_ts/c_t − N_s/N| ∈ [0, ~1) — 0 when a term's
    occurrences follow the shard sizes exactly, →1 when all its mass
    sits in one shard.  THE corpus-linguistics dispersion measure, and
    for a training mix the "is this term one source's artifact?"
    detector (a high-DP frequent term is a template token, a
    site-specific header, or leaked boilerplate — not language).
    Exact rational arithmetic over a COMMON denominator 2·c_t·N,
    including absent sources (each contributes c_t·N_s — folded in as
    c_t·(N − ΣN_s_present), so no (w × source) dense frame is ever
    built).  Terms below {_DP_MIN_FREQ} total occurrences are floored
    out (rare terms are trivially concentrated); top-20 most
    concentrated, deterministic (dp, w) tiebreak.

    Scale: the (w, source) aggregate is the only volume-bearing
    shuffle (map-side combinable); the absent-mass identity keeps the
    frame SPARSE — the naive dense w×source cross would be
    vocab × shards and is exactly what this formulation avoids.
    Top-20 via TakeOrdered (k-bounded, no global window).  20 rows
    out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# repetition_ngram_ratio
# ---------------------------------------------------------------------------


def _rep_sql(dialect: Dialect) -> str:
    if dialect.spark:
        bigrams = r"""
    bg AS (
      SELECT d.doc_id,
        concat(element_at(d.tk, s.i), ' ', element_at(d.tk, s.i + 1))
          AS b
      FROM (SELECT doc_id,
              split(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      LATERAL VIEW explode(sequence(1, size(d.tk) - 1)) s AS i
      WHERE size(d.tk) >= 2
    )"""
    else:
        bigrams = r"""
    bg AS (
      SELECT d.doc_id,
        unnest([d.tk[i] || ' ' || d.tk[i + 1]
                FOR i IN range(1, len(d.tk))]) AS b
      FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      WHERE len(d.tk) >= 2
    )"""
    return f"""
    WITH {bigrams},
    bgc AS (
      SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      FROM bg GROUP BY doc_id, b
    ),
    perdoc AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS mx,
        CAST(sum(c) AS BIGINT) AS tot
      FROM bgc GROUP BY doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
      CAST((CAST(sum(mx) AS {dialect.big}) * 1000000){dialect.div}sum(tot) AS BIGINT)
        AS micro_avg_rep_e6,
      CAST(sum(CASE WHEN mx * 5 > tot THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_over_20pct,
      CAST(max((mx * 1000000){dialect.div}tot) AS BIGINT) AS worst_doc_rep_e6
    FROM perdoc
    """


sql_query(
    "repetition_ngram_ratio", _rep_sql, "documents",
    doc="""Per-document bigram repetition gate, corpus roll-up: for each
    document the TOP bigram's share of all bigram occurrences (the
    Gopher repetition family's "fraction of characters in the most
    common n-gram", at bigram granularity), reported as the
    micro-averaged share, the count of documents over the 20%
    line (mx·5 > tot — exact integer comparison, no division), and
    the single worst document's share.  A generation loop, a scraped
    navigation bar, or a template echo all push a document's top
    bigram share toward 1 — this is the repetition filter an LLM
    pipeline runs before training, as a one-row corpus health read.

    Scale: the bigram explode is linear in token count (positional
    index over the split array — no self-join); the (doc, bigram)
    aggregate shuffles on doc_id (hash-balanced, combinable); per-doc
    reduction then one global row.  No window.  1 row out.

    Reference parity: beyond-reference text tier.""",
)
