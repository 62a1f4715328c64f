"""Round-10 catalog, tier 6 — chunk-level dedup, cross-source
contamination, and the watermark-dedup streaming twin:

* ``cdc_chunk_dedup`` — content-defined chunking over each document's
  token stream (boundary after any token whose md5 falls in a 1/8
  hash band — the gear-hash-lite rule whose defining CDC property
  holds: a boundary depends only on LOCAL content, so an insertion
  shifts chunk boundaries only until the next content boundary, and
  all downstream chunks still dedup), then chunk-hash duplicate rates
  across the corpus.  The chunk-grain member of the dedup family:
  ``dedup_exact`` (whole doc) → ``passage_dedup`` (fixed windows) →
  CDC (edit-resilient variable windows, the FastCDC idea).
* ``cross_source_ngram_overlap`` — directed 8-gram containment
  between source pairs: |shingles(a) ∩ shingles(b)| / |shingles(a)|.
  The source-grain contamination matrix — ``decontaminate_ngrams``
  answers "is the benchmark in the training set", this answers
  "which SOURCES feed on each other" before mixture design.
* ``watermark_dedup_batch_twin`` — the exact batch semantics of
  ``streaming/events.py::windowed_distinct_users(exact=True)``:
  per-hour distinct users per event type.  Registered with a DuckDB
  oracle AND pinned to the live stream by a parity test
  (tests/test_streaming.py), extending the stream==batch twin
  pattern (Misra-Gries, Page-Hinkley) to the watermarked
  dropDuplicatesWithinWatermark path — VERDICT r9 item 8.

Reference parity: beyond-reference dedup/streaming tier (SURVEY §2
J1's first-wins dedup is the reference's only dedup surface).
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

#: md5 first-hex-char band for a chunk boundary: 2/16 = 1/8 of tokens
#: end a chunk → mean chunk length 8 tokens.
_CDC_BAND = ("0", "1")
_NGRAM_N = 8


# ---------------------------------------------------------------------------
# cdc_chunk_dedup
# ---------------------------------------------------------------------------


def _cdc_sql(dialect: Dialect) -> str:
    band = ", ".join(f"'{c}'" for c in _CDC_BAND)
    if dialect.spark:
        pos_cte = r"""
    ptok AS (
      SELECT doc_id, pos, w
      FROM (SELECT doc_id, split(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
      LATERAL VIEW posexplode(tk) t AS pos, w
    )"""
        chunk_text = (
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        )
    else:
        pos_cte = r"""
    ptok AS (
      SELECT d.doc_id,
        unnest(range(1, len(d.tk) + 1)) - 1 AS pos,
        unnest(d.tk) AS w
      FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE trim(text) <> '') d
    )"""
        chunk_text = "string_agg(w, ' ' ORDER BY pos)"
    return f"""
    WITH {pos_cte},
    flagged AS (
      SELECT doc_id, pos, w,
        CASE WHEN substring(md5(w), 1, 1) IN ({band})
             THEN 1 ELSE 0 END AS b
      FROM ptok
    ),
    chunked AS (
      SELECT doc_id, pos, w,
        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
        md5({chunk_text}) AS h,
        CAST(count(*) AS BIGINT) AS chunk_len
      FROM chunked GROUP BY doc_id, chunk_id
    ),
    byhash AS (
      SELECT h, CAST(count(*) AS BIGINT) AS c,
        CAST(min(chunk_len) AS BIGINT) AS chunk_len
      FROM chunks GROUP BY h
    )
    SELECT CAST(sum(c) AS BIGINT) AS n_chunks,
      CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      CAST(((sum(c) - count(*)) * 1000000){dialect.div}sum(c) AS BIGINT)
        AS dup_chunk_ppm,
      CAST(max(c) AS BIGINT) AS top_dup_count,
      CAST((sum(c * chunk_len) * 100){dialect.div}sum(c) AS BIGINT)
        AS mean_chunk_len_e2
    FROM byhash
    """


sql_query(
    "cdc_chunk_dedup", _cdc_sql, "documents",
    doc="""Content-defined chunk dedup over the corpus: each document's
    token stream is cut AFTER every token whose md5 starts in the
    {{0,1}} hex band (P = 1/8 → mean chunk ≈ 8 tokens), chunks are
    rehashed, and duplicate mass is measured corpus-wide.  The CDC
    property is why this beats fixed windows (``passage_dedup``) for
    near-copies: an edit changes at most the chunk it lives in and
    its left neighbour — every later boundary REsynchronizes because
    boundaries depend only on local token content, so the unchanged
    tail keeps dedup-ing.  Emits total/distinct chunks, duplicate
    share, the heaviest chunk's multiplicity, and mean chunk length.

    Scale: boundary flags are a map-only hash per token; chunk ids
    are a PARTITIONED (per-doc) cumulative; chunk hashing is a keyed
    aggregate — the same shuffle posture as ``passage_dedup``, no
    global window, no pair expansion.

    Reference parity: beyond-reference dedup tier.""",
)


# ---------------------------------------------------------------------------
# cross_source_ngram_overlap
# ---------------------------------------------------------------------------


def _xsource_sql(dialect: Dialect) -> str:
    n = _NGRAM_N
    if dialect.spark:
        tk = r"split(lower(trim(text)), '\\s+')"
        gs = (
            f"transform(sequence(0, size(tk) - {n}),"
            " i -> concat_ws(' ', slice(tk, i + 1, {n})))".format(n=n)
        )
        sh_cte = f"""
    sh AS (
      SELECT DISTINCT source, md5(g) AS gh FROM (
        SELECT source, explode({gs}) AS g
        FROM (SELECT source, {tk} AS tk
              FROM documents WHERE trim(text) <> '') d
        WHERE size(tk) >= {n}
      ) t
    )"""
    else:
        tk = r"regexp_split_to_array(lower(trim(text)), '\s+')"
        gs = (
            f"list_transform(range(len(tk) - {n - 1}),"
            f" i -> array_to_string(tk[i:i+{n - 1}], ' '))"
        )
        sh_cte = f"""
    sh AS (
      SELECT DISTINCT b.source, md5(u.g) AS gh
      FROM (SELECT source, {gs} AS gs
            FROM (SELECT source, {tk} AS tk
                  FROM documents WHERE trim(text) <> '') d
            WHERE len(tk) >= {n}) b,
           unnest(b.gs) AS u(g)
    )"""
    return f"""
    WITH {sh_cte},
    stot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM sh
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS sa, b.source AS sb,
        CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON b.gh = a.gh AND b.source <> a.source
      GROUP BY a.source, b.source
    )
    SELECT i.sa AS src_a, i.sb AS src_b, ta.n_sh AS n_shingles_a,
      i.n_common,
      CAST((i.n_common * 1000000){dialect.div}ta.n_sh AS BIGINT)
        AS containment_ppm
    FROM inter i JOIN stot ta ON ta.source = i.sa
    ORDER BY containment_ppm DESC, i.sa, i.sb
    LIMIT 25
    """


sql_query(
    "cross_source_ngram_overlap", _xsource_sql, "documents",
    doc="""Directed {_NGRAM_N}-gram containment between source pairs:
    |shingles(a) ∩ shingles(b)| / |shingles(a)| for the top-25 most
    contaminated ordered pairs (deterministic tie-break).  The
    source-grain contamination matrix: a high (a→b) with a low (b→a)
    reads "a is mostly contained in b" — a scraped/mirrored source —
    which is invisible to symmetric measures and to document-grain
    dedup when the copying is partial.  Same word-{_NGRAM_N}-gram
    convention as ``decontaminate_ngrams``, so a pair flagged here
    can be acted on by that operator directly.

    Scale: DISTINCT (source, shingle-hash) collapses token volume
    map-side; the pair join fans each shingle row out to at most the
    number of sources sharing it (the shingle's source-df, ≤ 20
    here) — the inverted-index join shape of
    ``shingle_containment_pairs``, whose df-cap device applies as-is
    if a production corpus has hot shingles.

    Reference parity: beyond-reference dedup tier.""",
)


# ---------------------------------------------------------------------------
# watermark_dedup_batch_twin
# ---------------------------------------------------------------------------


def _wdbt_sql(dialect: Dialect) -> str:
    return """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
      CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """


sql_query(
    "watermark_dedup_batch_twin", _wdbt_sql, "events",
    doc="""Exact per-hour distinct users per event type — the BATCH twin
    of ``streaming/events.py::windowed_distinct_users(exact=True)``,
    whose streaming plan chains ``dropDuplicatesWithinWatermark`` on
    (user, type, hour) into a windowed count because streaming
    aggregation cannot COUNT(DISTINCT).  The twin pins the streaming
    path's semantics: under bounded disorder (every duplicate within
    the watermark delay — the documented exactness caveat) the stream
    must produce EXACTLY these rows, and
    tests/test_streaming.py::test_windowed_distinct_users_matches_batch_twin
    replays the live stream (availableNow) against this query to
    prove it — the VERDICT r9 item-8 parity growth, following the
    Misra-Gries and Page-Hinkley twins.

    Scale: batch side is one hash aggregate (partial distinct
    map-side); streaming side holds per-(window, type) user state
    bounded by the watermark horizon.

    Reference parity: beyond-reference streaming tier.""",
)
