"""Round-10 catalog, tier 5 — corpus distribution analytics over the
documents table (the source-mix monitoring wave):

* ``kl_source_divergence`` — per source, KL(P̃_source ‖ P_corpus)
  over unigram distributions (add-1 smoothing on the corpus vocab for
  the source side, ML for the corpus side): the canonical "how far is
  this source's language from the mix" number that drives mixture
  re-weighting (``mixture_config_sample``) and drift alarms.
* ``js_divergence_sources`` — pairwise Jensen-Shannon divergence for
  all source pairs, smoothing-free (JS needs no smoothing: the
  midpoint is positive wherever either side is, and words private to
  one source contribute EXACTLY p/2 — an exact rational, computed in
  closed form here rather than per-word floats).
* ``msttr_lexical_diversity`` — mean segmental TTR (50-token
  segments): the length-robust lexical-diversity read (raw TTR falls
  mechanically with document length, so per-source raw TTR comparisons
  are confounded; MSTTR removes the confound by fixing segment size).
* ``stopword_chi2_drift`` — χ² homogeneity of English-stopword share
  across sources: function-word rates are the cheapest stable
  fingerprint of register/quality drift (boilerplate and templated
  text swing them hard), and a per-source share table plus one χ² is
  the whole monitor.
* ``hapax_ratio_by_source`` — vocabulary-growth fingerprints per
  source: hapax share V₁/V, Sichel's dis-legomena share V₂/V, and
  Honoré's R = 100·ln(N)/(1−V₁/V).  The ``heaps_law_fit`` companions
  at the SOURCE grain — a source whose hapax share collapses is
  templated/duplicated text (the same signal
  ``boilerplate_shingle_fraction`` reads structurally).

Reference parity: beyond-reference text tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

#: floor(1e6 · χ²₀.₀₅) at df = 19 (20 sources − 1).
_CHI2_DF19_E6 = 30_143_527

#: English function-word list for the stopword share monitor — short
#: and FROZEN by design (the monitor needs a stable instrument, not
#: linguistic coverage; adding words later would break cross-round
#: comparability of the share series).
_STOPWORDS = (
    "the of and to a in is it that for on with as at by an be this "
    "which or from are was not but had his they her she you we"
).split()
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _tok_cte(dialect: Dialect) -> str:
    """doc_id/source → token OCCURRENCES (``tok``), the r9f whitespace
    split convention."""
    if dialect.spark:
        return r"""
    tok AS (
      SELECT doc_id, source, explode(split(lower(trim(text)), '\\s+'))
        AS w
      FROM documents WHERE trim(text) <> ''
    )"""
    return r"""
    tok AS (
      SELECT d.doc_id, d.source, u.w
      FROM (SELECT doc_id, source,
              regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d,
           unnest(d.tk) AS u(w)
    )"""


# ---------------------------------------------------------------------------
# kl_source_divergence
# ---------------------------------------------------------------------------


def _kl_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    vocab AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM wc GROUP BY w
    ),
    vtot AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
        CAST(sum(cw) AS BIGINT) AS n
      FROM vocab
    ),
    stot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM wc
      GROUP BY source
    ),
    grid AS (
      SELECT s.source, s.ns, vb.w, vb.cw, coalesce(wc.c, 0) AS c
      FROM stot s
      CROSS JOIN vocab vb
      LEFT JOIN wc ON wc.source = s.source AND wc.w = vb.w
    )
    SELECT g.source, max(g.ns) AS n_tokens,
      CAST(sum(CAST(floor(1e6
        * ((CAST(g.c AS DOUBLE) + 1) / (g.ns + vt.v))
        * log2(((CAST(g.c AS DOUBLE) + 1) / (g.ns + vt.v))
               / (CAST(g.cw AS DOUBLE) / vt.n)))
        AS BIGINT)) AS BIGINT) AS kl_microbits
    FROM grid g CROSS JOIN vtot vt
    GROUP BY g.source
    ORDER BY g.source
    """


sql_query(
    "kl_source_divergence", _kl_sql, "documents",
    doc="""Per-source KL divergence from the corpus unigram distribution:
    KL(P̃_s ‖ P_c) with add-1 smoothing on the source side over the
    CORPUS vocab (so every grid term is defined; P̃_s sums to exactly
    1 over the vocab) and the ML corpus estimate on the reference
    side.  The mixture-monitoring number: a source drifting from the
    corpus mix moves its KL before quality metrics notice, and
    re-weighting experiments (DoReMi-style) are parameterized by
    exactly this quantity.  Per-(source, word) micro-bit floors on
    exact integer counts (the ``mutual_information`` convention) make
    the cross-cell sums integer-deterministic.

    Scale: token counts map-side combine to (source × vocab-present)
    cells; the smoothing grid is sources × vocab — vocab-bounded, 20×
    the vocab frame, never token-volume.  No window anywhere.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# js_divergence_sources
# ---------------------------------------------------------------------------


def _js_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    ),
    stot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM wc
      GROUP BY source
    ),
    both_part AS (
      SELECT a.source AS sa, b.source AS sb,
        CAST(sum(a.c) AS BIGINT) AS ca_shared,
        CAST(sum(b.c) AS BIGINT) AS cb_shared,
        CAST(sum(CAST(floor(5e5
          * (CAST(a.c AS DOUBLE) / ta.ns)
          * log2((CAST(a.c AS DOUBLE) / ta.ns)
                 / ((CAST(a.c AS DOUBLE) / ta.ns
                     + CAST(b.c AS DOUBLE) / tb.ns) / 2)))
          AS BIGINT)
          + CAST(floor(5e5
          * (CAST(b.c AS DOUBLE) / tb.ns)
          * log2((CAST(b.c AS DOUBLE) / tb.ns)
                 / ((CAST(a.c AS DOUBLE) / ta.ns
                     + CAST(b.c AS DOUBLE) / tb.ns) / 2)))
          AS BIGINT)) AS BIGINT) AS shared_microbits
      FROM wc a
      JOIN wc b ON b.w = a.w AND b.source > a.source
      JOIN stot ta ON ta.source = a.source
      JOIN stot tb ON tb.source = b.source
      GROUP BY a.source, b.source
    )
    SELECT bp.sa AS src_a, bp.sb AS src_b,
      CAST(bp.shared_microbits
        + ((ta.ns - bp.ca_shared) * 500000){dialect.div}ta.ns
        + ((tb.ns - bp.cb_shared) * 500000){dialect.div}tb.ns
        AS BIGINT) AS js_microbits
    FROM both_part bp
    JOIN stot ta ON ta.source = bp.sa
    JOIN stot tb ON tb.source = bp.sb
    ORDER BY bp.sa, bp.sb
    """


sql_query(
    "js_divergence_sources", _js_sql, "documents",
    doc="""Pairwise Jensen-Shannon divergence between every source pair's
    unigram distribution: JS = ½KL(A‖M) + ½KL(B‖M), M = (A+B)/2.
    JS needs NO smoothing, and the split exploited here makes it
    cheap: a word private to one source contributes exactly p/2 bits
    (log₂(p/(p/2)) = 1), so the private-vocabulary mass folds into
    ONE exact rational per pair — only words present in BOTH sources
    need a floated term (micro-bit floors on exact counts).  JS is
    symmetric and bounded by 1 bit, the right matrix for clustering
    sources before mixture design; its word-level sibling is
    ``token_shift_lor``, its vocab-set sibling ``source_vocab_overlap``.

    Scale: the pair expansion joins per-word source counts on the
    WORD key — each word row fans out to at most C(sources, 2) pairs,
    linear in the vocab × a bounded pair constant; no cross join of
    token volumes.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# msttr_lexical_diversity
# ---------------------------------------------------------------------------

_MSTTR_SEG = 50


def _msttr_sql(dialect: Dialect) -> str:
    if dialect.spark:
        pos_cte = r"""
    ptok AS (
      SELECT doc_id, source, pos, w
      FROM (SELECT doc_id, source,
              split(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      LATERAL VIEW posexplode(tk) t AS pos, w
    )"""
    else:
        pos_cte = r"""
    ptok AS (
      SELECT d.doc_id, d.source,
        unnest(range(1, len(d.tk) + 1)) - 1 AS pos,
        unnest(d.tk) AS w
      FROM (SELECT doc_id, source,
              regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
    )"""
    return f"""
    WITH {pos_cte},
    doclen AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS len
      FROM ptok GROUP BY doc_id
    ),
    seg AS (
      SELECT p.source, p.doc_id, p.pos{dialect.div}{_MSTTR_SEG} AS seg_id,
        p.w
      FROM ptok p JOIN doclen l ON l.doc_id = p.doc_id
      WHERE p.pos{dialect.div}{_MSTTR_SEG} < l.len{dialect.div}{_MSTTR_SEG}
    ),
    per_seg AS (
      SELECT source, doc_id, seg_id,
        CAST(count(DISTINCT w) AS BIGINT) AS v
      FROM seg GROUP BY source, doc_id, seg_id
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_segments,
      CAST((sum(v) * 1000000){dialect.div}(count(*) * {_MSTTR_SEG})
           AS BIGINT) AS msttr_e6
    FROM per_seg
    GROUP BY source
    ORDER BY source
    """


sql_query(
    "msttr_lexical_diversity", _msttr_sql, "documents",
    doc="""Mean segmental type-token ratio per source: each document's
    token stream is cut into consecutive FULL {_MSTTR_SEG}-token
    segments, TTR = distinct/{_MSTTR_SEG} per segment, averaged per
    source (exact integers: Σ distinct·10⁶ div (segments·{_MSTTR_SEG})).
    Raw TTR is mechanically confounded by length (more tokens → more
    repeats), so cross-source raw-TTR comparisons mostly rank
    document LENGTH; fixing the segment size removes that — the
    standard MSTTR instrument.  Partial trailing segments are
    excluded (they would re-import the length confound).

    Scale: one position-exploded pass, then keyed aggregates — the
    segment grain is (doc, seg), all partitioned, no windows.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# stopword_chi2_drift
# ---------------------------------------------------------------------------


def _stopchi_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_s,
        CAST(sum(CASE WHEN w IN ({_STOP_SQL}) THEN 1 ELSE 0 END)
             AS BIGINT) AS o_s
      FROM tok GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_s) AS BIGINT) AS n,
        CAST(sum(o_s) AS BIGINT) AS o,
        CAST(count(*) AS BIGINT) AS s
      FROM per_src
    )
    SELECT t.s AS n_sources, t.n AS n_tokens, t.o AS n_stopwords,
      CAST(sum(CAST((p.o_s * t.n - p.n_s * t.o) AS {dialect.big})
               * (p.o_s * t.n - p.n_s * t.o) * 1000000
               {dialect.div}(CAST(p.n_s AS {dialect.big}) * t.o * t.n)) AS BIGINT)
        AS chi2_e6,
      CAST(sum(CAST((p.o_s * t.n - p.n_s * t.o) AS {dialect.big})
               * (p.o_s * t.n - p.n_s * t.o) * 1000000
               {dialect.div}(CAST(p.n_s AS {dialect.big}) * t.o * t.n)) AS BIGINT)
          > {_CHI2_DF19_E6}
        AND t.s = 20 AS reject_homogeneity
    FROM per_src p CROSS JOIN tot t
    GROUP BY t.s, t.n, t.o
    """


sql_query(
    "stopword_chi2_drift", _stopchi_sql, "documents",
    doc="""χ² homogeneity of the English-stopword token share across
    sources: observed per-source stopword counts vs expectation under
    a common rate, χ² = Σ(o_s − n_s·O/N)²/(n_s·O/N) held exact by the
    (o_s·N − n_s·O)² cross-multiplication — one ppm floor per source.
    Function-word share is the cheapest register fingerprint: it is
    stable within a genre, jumps for boilerplate/templated/low-quality
    text, and needs no model — the χ² turns twenty per-source shares
    into one drift alarm.  5% gate at χ²(19) = 30.143527 (applied when
    all 20 sources are present; n_sources says why otherwise).

    Scale: one token-level scan collapsing map-side to 20 counters.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# hapax_ratio_by_source
# ---------------------------------------------------------------------------


def _hapax_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tok_cte(dialect)},
    wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    )
    SELECT source,
      CAST(sum(c) AS BIGINT) AS n_tokens,
      CAST(count(*) AS BIGINT) AS vocab,
      CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
           {dialect.div}count(*) AS BIGINT) AS hapax_ratio_e6,
      CAST((sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) * 1000000)
           {dialect.div}count(*) AS BIGINT) AS sichel_e6,
      CAST(floor(10000 * ln(CAST(sum(c) AS DOUBLE)) * count(*)
                 / nullif(count(*)
                   - sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0))
           AS BIGINT) AS honore_e2
    FROM wc
    GROUP BY source
    ORDER BY source
    """


sql_query(
    "hapax_ratio_by_source", _hapax_sql, "documents",
    doc="""Vocabulary-growth fingerprints per source: hapax-legomena share
    V₁/V, Sichel's dis-legomena share V₂/V, and Honoré's richness
    R = 100·ln(N)·V/(V−V₁) (e2, one ln+floor on exact counts; NULL if
    every word is a hapax).  Hapax share is the sharpest cheap
    duplication signal at the source grain: templated or repeated
    text recycles vocabulary, so V₁/V collapses long before exact
    duplicate detectors fire — the frequency-spectrum complement to
    ``heaps_law_fit`` (growth curve), ``zipf_slope_audit`` (head
    shape) and ``word_burstiness_audit`` (per-doc clumping).

    Scale: per-source word counts (map-side combined), then a
    per-source aggregate over the vocab frame; no windows.

    Reference parity: beyond-reference text tier.""",
)
