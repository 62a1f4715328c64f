"""Round-9 catalog, tier 6: text-pipeline devices —

* ``trigram_novelty_curve`` — per-decile novel-trigram rate along the
  corpus ingestion order: how fast does new n-gram material dry up?
  The n-gram-level companion to ``heaps_law_fit`` (vocabulary) and
  the intake-ordering signal dedup planners read (a flat curve ⇒
  later shards add nothing ⇒ stop crawling / dedup harder).
* ``shingle_containment_pairs`` — asymmetric near-dup: CONTAINMENT
  |A∩B|/|A| over rare 3-word shingles (df-capped inverted index —
  the blocking device that keeps the pair space linear in corpus
  size).  Jaccard (``ngram_jaccard_pairs``) misses the
  quote-inside-a-bigger-document case; containment is built for it.
* ``tokenizer_fertility_by_source`` — tokens-per-word and
  chars-per-token by source under the GPT-ish regex tokenizer
  (word chunks + punctuation singles): the fertility table that
  prices a tokenizer against a corpus mix BEFORE training — a
  high-fertility source burns sequence budget.

Reference parity: beyond-reference text tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query


def _tri_cte(dialect: Dialect) -> str:
    """doc_id → word-trigram OCCURRENCES (``tri``): the array-device
    form — trigrams come from one ``transform`` over the token array
    (no per-doc window, no posexplode shuffle)."""
    if dialect.spark:
        tk = r"split(lower(trim(text)), '\\s+')"
        gs = (
            "transform(sequence(0, size(tk) - 3),"
            " i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))"
        )
        return f"""
    tkn AS (
      SELECT doc_id, {tk} AS tk FROM documents WHERE trim(text) <> ''
    ),
    tri AS (
      SELECT doc_id, explode({gs}) AS g FROM tkn WHERE size(tk) >= 3
    )"""
    tk = r"regexp_split_to_array(lower(trim(text)), '\s+')"
    gs = (
        "list_transform(range(len(tk) - 2),"
        " i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])"
    )
    return f"""
    tkn AS (
      SELECT doc_id, {tk} AS tk FROM documents WHERE trim(text) <> ''
    ),
    tri AS (
      SELECT b.doc_id, u.g
      FROM (SELECT doc_id, {gs} AS gs FROM tkn WHERE len(tk) >= 3) b,
           unnest(b.gs) AS u(g)
    )"""


# ---------------------------------------------------------------------------
# trigram_novelty_curve
# ---------------------------------------------------------------------------


def _novelty_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tri_cte(dialect)},
    firstd AS (SELECT g, CAST(min(doc_id) AS BIGINT) AS fd
               FROM tri GROUP BY g),
    perdoc AS (
      SELECT tri.doc_id,
        CAST(count(*) AS BIGINT) AS n_tri,
        CAST(sum(CASE WHEN firstd.fd = tri.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel
      FROM tri JOIN firstd ON firstd.g = tri.g
      GROUP BY tri.doc_id
    ),
    rng AS (
      SELECT CAST(min(doc_id) AS BIGINT) AS lo,
        CAST(max(doc_id) AS BIGINT) AS hi
      FROM perdoc
    )
    SELECT
      least(CAST(9 AS BIGINT),
            ((perdoc.doc_id - rng.lo) * 10){dialect.div}(rng.hi - rng.lo + 1))
        AS decile,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_tri) AS BIGINT) AS n_trigrams,
      CAST(sum(n_novel) AS BIGINT) AS n_novel,
      CAST((sum(n_novel) * 1000000){dialect.div}sum(n_tri) AS BIGINT)
        AS novelty_ppm
    FROM perdoc CROSS JOIN rng
    GROUP BY least(CAST(9 AS BIGINT),
             ((perdoc.doc_id - rng.lo) * 10){dialect.div}(rng.hi - rng.lo + 1))
    """


sql_query(
    "trigram_novelty_curve", _novelty_sql, "documents",
    doc="""Novel-trigram rate along the ingestion order, by doc-id-range
    decile: a trigram OCCURRENCE is novel iff its type's first
    appearance (exact MIN(doc_id) attribution — deterministic, not
    scan-order) is this document.  Early deciles run hot, the tail
    shows what fraction of late-arriving text is genuinely new n-gram
    material — the diminishing-returns curve a crawl scheduler and a
    dedup planner both read (``heaps_law_fit`` gives the exponent;
    this gives the decile-resolved shape at trigram granularity).
    Deciles come from the doc-id RANGE (no global rank window — the
    curve stays window-free and shuffle-minimal at any corpus size).

    Scale: trigrams via one array transform per doc (no per-doc
    window), one type-level groupBy (first-doc), one doc-level join
    back, 10 rows out.

    Reference parity: beyond-reference text tier.""",
)


# ---------------------------------------------------------------------------
# shingle_containment_pairs
# ---------------------------------------------------------------------------

_SC_DF_MAX = 10    # inverted-index blocking: shingles in >10 docs drop
_SC_MIN_SHARED = 3  # emit pairs sharing >= 3 rare shingles


def _containment_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_tri_cte(dialect)},
    ds AS (SELECT DISTINCT doc_id, g FROM tri),
    df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM ds GROUP BY g),
    rare AS (
      SELECT ds.doc_id, ds.g
      FROM ds JOIN df ON df.g = ds.g
      WHERE df.df BETWEEN 2 AND {_SC_DF_MAX}
    ),
    rsize AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rare
              FROM rare GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(count(*) AS BIGINT) AS n_shared
      FROM rare a JOIN rare b ON b.g = a.g AND b.doc_id > a.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= {_SC_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
      ra.n_rare AS n_rare_a, rb.n_rare AS n_rare_b,
      (p.n_shared * 1000000){dialect.div}ra.n_rare AS containment_a_ppm,
      (p.n_shared * 1000000){dialect.div}rb.n_rare AS containment_b_ppm,
      (p.n_shared * 1000000){dialect.div}least(ra.n_rare, rb.n_rare)
        AS max_containment_ppm
    FROM pairs p
    JOIN rsize ra ON ra.doc_id = p.doc_a
    JOIN rsize rb ON rb.doc_id = p.doc_b
    """


sql_query(
    "shingle_containment_pairs", _containment_sql, "documents",
    doc="""Asymmetric near-dup candidates by rare-shingle CONTAINMENT:
    3-word shingle sets per document, the inverted index capped at
    document frequency ≤ {df} (the blocking device — a shingle in
    every doc generates O(n²) pairs and zero signal; a rare shingle
    generates ≤ C({df},2) and all of it), pairs sharing ≥ {ms} rare
    shingles emitted with BOTH directional containments
    |A∩B|/|A_rare| and |A∩B|/|B_rare|.  Jaccard punishes size
    mismatch — a page quoted inside a 100× bigger page scores near 0
    Jaccard but ~1 containment, which is exactly the training-data
    contamination shape (``decontaminate_ngrams`` is the
    benchmark-targeted special case; this is the corpus-general form).

    Scale: the df cap bounds per-shingle fan-out by construction —
    the pair join is linear in the number of rare postings, never
    quadratic in corpus size; distinct-shingle projection and degree
    joins are ordinary hash shuffles.

    Reference parity: beyond-reference dedup tier.""".format(
        df=_SC_DF_MAX, ms=_SC_MIN_SHARED
    ),
)


# ---------------------------------------------------------------------------
# tokenizer_fertility_by_source
# ---------------------------------------------------------------------------


def _fertility_sql(dialect: Dialect) -> str:
    if dialect.spark:
        n_words = r"size(split(trim(text), '\\s+'))"
        n_tok = (
            "size(regexp_extract_all(text, '[A-Za-z0-9_]+', 0))"
            " + size(regexp_extract_all(text, '[^A-Za-z0-9_\\\\s]', 0))"
        )
    else:
        n_words = r"len(regexp_split_to_array(trim(text), '\s+'))"
        n_tok = (
            "len(regexp_extract_all(text, '[A-Za-z0-9_]+'))"
            " + len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]'))"
        )
    return f"""
    WITH d AS (
      SELECT source,
        CAST({n_words} AS BIGINT) AS w,
        CAST({n_tok} AS BIGINT) AS t,
        CAST(length(text) AS BIGINT) AS ch
      FROM documents WHERE trim(text) <> ''
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(w) AS BIGINT) AS n_words,
      CAST(sum(t) AS BIGINT) AS n_tokens,
      CAST(sum(ch) AS BIGINT) AS n_chars,
      CAST((sum(t) * 1000000){dialect.div}sum(w) AS BIGINT) AS fertility_ppm,
      CAST((sum(ch) * 1000000){dialect.div}sum(t) AS BIGINT)
        AS chars_per_token_ppm
    FROM d GROUP BY source
    """


sql_query(
    "tokenizer_fertility_by_source", _fertility_sql, "documents",
    doc="""Tokenizer fertility table by source: tokens-per-whitespace-word
    and chars-per-token under the GPT-ish regex tokenizer (alnum
    chunks + one token per punctuation mark — the ``token_length``
    tier's counting rule).  Fertility is THE budget number for a
    corpus mix: a source at 1.8 tokens/word costs 80% more sequence
    length per word of content than one at 1.0, and mixture weights
    (``mixture_config_sample``, ``temperature_mixture_sample``)
    allocated by document count silently overweight it.  All counts
    exact integers, two ppm floors per source.

    Scale: one projection + one source groupBy (map-side combinable).

    Reference parity: beyond-reference text tier.""",
)
