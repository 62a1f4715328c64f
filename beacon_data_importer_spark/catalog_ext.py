"""Extension query catalog: the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal, event
windows) — each oracle-checked like the reference surface.

Everything hashing-related is md5-based so DuckDB reproduces Spark's
signatures exactly (see functions.expressions.portable_hash64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import text as TX
from .sources.parquet import read_table, read_table_parallel

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
MAX_BUCKET = 50

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (generated to mirror the Spark operators)
# ---------------------------------------------------------------------------

_DUCK_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_DUCK_SHINGLES = f"""
  CASE WHEN len({_DUCK_TOKENS}) >= 3
       THEN list_transform(range(len({_DUCK_TOKENS}) - 2),
              i -> {_DUCK_TOKENS}[i+1] || ' ' || {_DUCK_TOKENS}[i+2]
                   || ' ' || {_DUCK_TOKENS}[i+3])
       ELSE [lower(trim(text))] END
"""


def _duck_minhash_sig_cte(source: str = "documents") -> str:
    """CTE producing (id, sig LIST<BIGINT>) identical to
    operators.dedup.minhash_signatures: two md5-derived 60-bit halves per
    shingle, then the per-seed affine mix mod 2^31-1.  ``source`` lets a
    composed pipeline (corpus_clean) build signatures over a filtered
    CTE instead of the raw table."""
    from .operators.dedup import MINHASH_P, minhash_coeffs

    mins = ", ".join(
        f"list_aggregate(list_transform(range(len(x)), "
        f"i -> ({a} * x[i+1] + {b} * y[i+1] + {s}) % {MINHASH_P}), 'min')"
        for s, (a, b) in enumerate(minhash_coeffs(NUM_HASHES))
    )
    return f"""
    shing AS MATERIALIZED (SELECT doc_id AS id, {_DUCK_SHINGLES} AS sh
                           FROM {source}),
    based AS MATERIALIZED (SELECT id,
      list_transform(sh, g -> CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)
                              % {MINHASH_P}) AS x,
      list_transform(sh, g -> CAST('0x' || substring(md5(g), 16, 15) AS BIGINT)
                              % {MINHASH_P}) AS y
      FROM shing),
    sigs AS MATERIALIZED (SELECT id, [{mins}] AS sig FROM based)
    """


# ===========================================================================
# Deduplication
# ===========================================================================

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 hash-groupBy (map-side partial agg)."""
    d = read_table(spark, sf_dir, "documents")
    return DD.exact_dedup(d, "text", "doc_id")


def _docs_parallel(
    spark: SparkSession, sf_dir: str, n: int | None = None
) -> DataFrame:
    """documents scan repartitioned to the core count ONLY when the
    source is under-split (r12: gated on the actual scan split count —
    see sources/parquet.read_table_parallel; at warehouse scale the
    gate sees splits >= cores and inserts NO Exchange).  ``n`` replaces
    the core count as the gate's threshold and repartition target: an
    under-split scan becomes exactly ``n`` partitions, a scan with ``n``
    or more splits keeps its own (Python-batched operators pass a small
    ``n`` — per-partition Arrow/worker overhead dominates small inputs)."""
    from .sources.parquet import read_table_parallel

    return read_table_parallel(spark, sf_dir, "documents", n)


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {_duck_minhash_sig_cte()}
    SELECT id AS doc_id,
      concat_ws('|', {", ".join(f"CAST(sig[{i+1}] AS VARCHAR)" for i in range(NUM_HASHES))})
      AS sig_str
    FROM sigs
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over word-3-gram shingles (narrow, no shuffle;
    fixed-size signatures regardless of doc size)."""
    from .plans.corpus_lsh import corpus_signatures

    sig = corpus_signatures(spark, sf_dir)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "|", F.transform("sig", lambda v: v.cast("string"))
        ).alias("sig_str"),
    )


def _duck_band_exprs() -> str:
    rows = []
    for b in range(BANDS):
        cols = " || ',' || ".join(
            f"CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        rows.append(f"SELECT id, {b} AS band, md5({cols}) AS bucket FROM sigs")
    return " UNION ALL ".join(rows)


@query(
    "minhash_near_dup",
    oracle=f"""
    WITH {_duck_minhash_sig_cte()},
    banded AS MATERIALIZED ({_duck_band_exprs()}),
    sizes AS MATERIALIZED (SELECT band, bucket, count(*) AS c FROM banded
                           GROUP BY band, bucket),
    small AS MATERIALIZED (SELECT banded.* FROM banded
                           JOIN sizes USING (band, bucket)
                           WHERE c <= {MAX_BUCKET}),
    pairs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM small l JOIN small r
                ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id)
    SELECT p.id_a, p.id_b,
      round(len(list_filter(range({NUM_HASHES}),
                            i -> sa.sig[i+1] = sb.sig[i+1])) / {NUM_HASHES}.0, 6)
        AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.id = p.id_a
    JOIN sigs sb ON sb.id = p.id_b
    """,
)
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs with estimated Jaccard —
    the O(n²)-avoiding scale path (shuffle on (band,bucket) only)."""
    # Signatures and pairs come from the shared corpus-LSH stage
    # (plans/corpus_lsh.py): materialized once per session, consumed by
    # every near-dup query — the ER-staging pattern applied to the
    # document tier, so the marginal cost here is the similarity probe,
    # not the signature pass.
    from .plans.corpus_lsh import corpus_candidate_pairs, corpus_signatures

    sigs = corpus_signatures(spark, sf_dir)
    pairs = corpus_candidate_pairs(spark, sf_dir)
    sim = DD.minhash_similarity(pairs, sigs)
    return sim.select(
        "id_a", "id_b", F.round(F.col("est_jaccard"), 6).alias("est_jaccard")
    )


_DUCK_SIMHASH = f"""
  CAST(list_sum(list_transform(range(60), b ->
    CASE WHEN CAST(list_sum(list_transform(
           list_transform({_DUCK_TOKENS},
                          t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)),
           h -> CASE WHEN (h & (CAST(1 AS BIGINT) << b)) != 0
                     THEN 1 ELSE -1 END)) AS BIGINT) > 0
         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
"""


@query(
    "simhash",
    oracle=f"""
    SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM documents
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (near-dup via Hamming distance on a
    single bigint; banding on bit-slices is the scale pairing path).
    Uses the explode+aggregate formulation (one token hash per token,
    map-side partial sums) — see dedup.simhash_agg."""
    d = _docs_parallel(spark, sf_dir)
    return DD.simhash_agg(d, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
      CAST('0x' || substring(
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 4)
        AS BIGINT) AS bucket
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint + uniform shard bucket."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint("text").alias("fp"),
        TX.fingerprint_bucket("text", bits=16).alias("bucket"),
    )


# ===========================================================================
# Similarity search
# ===========================================================================

@query(
    "similarity_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
        list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) /
          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
           sqrt(list_dot_product(q.qvec::DOUBLE[], q.qvec::DOUBLE[]))) AS raw
      FROM embeddings e, q
      WHERE e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(floor(raw * 1e6) AS BIGINT) AS cosine_sim_e6
    FROM (
      SELECT query_id, neighbor_id, raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY raw DESC, neighbor_id) AS rn
      FROM scored
    ) t WHERE rn <= 10
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k PER QUERY (exact ANN baseline): 3 query
    vectors broadcast, corpus streamed once, per-query ranked window —
    k rows for every query_id, not k total (the round-1 global-limit
    form silently returned one query's neighbors when given several)."""
    e = read_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(e, e.filter(F.col("vec_id").isin(0, 1, 2)), k=10)


@query(
    "ivf_assign",
    oracle="""
    WITH cent AS (SELECT vec_id AS cell_id, embedding AS cvec
                  FROM embeddings WHERE vec_id % 100 = 0)
    SELECT vec_id, cell_id, CAST(floor(sim * 1e6) AS BIGINT) AS cell_sim_e6
    FROM (
      SELECT e.vec_id, c.cell_id,
        list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) /
          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
           sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))) AS sim,
        row_number() OVER (PARTITION BY e.vec_id ORDER BY
          list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) /
            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
             sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))) DESC, c.cell_id) AS rn
      FROM embeddings e CROSS JOIN cent c
    ) t WHERE rn = 1
    """,
)
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step: nearest-centroid cell assignment (broadcast
    centroids; the scan fraction at query time becomes nprobe/cells)."""
    e = read_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    # single-file scan = one input split; the map-only fold needs an
    # explicit repartition locally or all cosines run on one core (the
    # _docs_parallel rationale — a no-op to omit on a many-split source)
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    assigned = SIM.assign_cells(corpus, centroids)
    return assigned.select("vec_id", "cell_id", "cell_sim_e6")


# ===========================================================================
# Text analysis
# ===========================================================================

_DUCK_NTOK = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_DUCK_TOKENS}) END"
_DUCK_STOPRATIO = f"""
  CASE WHEN len({_DUCK_TOKENS}) > 0
       THEN len(list_filter({_DUCK_TOKENS},
              x -> list_contains(['the','a','of','and','to','in','is'], x)))
            / CAST(len({_DUCK_TOKENS}) AS DOUBLE)
       ELSE 0.0 END
"""
_DUCK_PUNCTRATIO = """
  CASE WHEN length(text) > 0
       THEN CAST(length(regexp_replace(text, '(?:[A-Za-z0-9_]+|\\s)', '', 'g'))
                 AS DOUBLE) / length(text)
       ELSE 0.0 END
"""


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
      CAST({_DUCK_NTOK} AS INT) AS n_tok_ws,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
           + len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) AS INT)
        AS n_tok_word,
      CAST(floor(({_DUCK_PUNCTRATIO}) * 1e6) AS BIGINT) AS punct_ratio_e6,
      CAST(floor(({_DUCK_STOPRATIO}) * 1e6) AS BIGINT) AS stopword_ratio_e6,
      CAST(floor((least(CAST({_DUCK_NTOK} AS DOUBLE) / 50.0, 1.0) * 0.5
            + greatest(0.0, 1.0 - ({_DUCK_PUNCTRATIO}) * 5.0) * 0.3
            + least(({_DUCK_STOPRATIO}) * 5.0, 1.0) * 0.2) * 1e6) AS BIGINT)
        AS quality_score_e6
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality metrics: token counts (whitespace + wordlike),
    punctuation ratio, stopword ratio, composite score — all scan-side
    Column expressions.  Ratios surface as exact floor(x*1e6) micro-units
    (cross-engine round() is not portable)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count_ws("text").alias("n_tok_ws"),
        TX.token_count_wordlike("text").alias("n_tok_word"),
        F.floor(TX.punct_ratio("text") * 1e6).alias("punct_ratio_e6"),
        F.floor(TX.stopword_ratio("text") * 1e6).alias("stopword_ratio_e6"),
        F.floor(TX.quality_score("text") * 1e6).alias("quality_score_e6"),
    )


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id, lang,
      CASE WHEN {_DUCK_STOPRATIO} > 0.05 THEN 'en' ELSE 'xx' END AS pred_lang
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-profile classification at scan
    speed; a production system swaps in an n-gram profile table)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.predict_lang("text").alias("pred_lang"))


# ===========================================================================
# Event-time windows / sessionization
# ===========================================================================

@query(
    "events_windowed",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
      count(*) AS n_events,
      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        AS sum_value_cents
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch form; the streaming
    twin lives in streaming/events.py with watermarks)."""
    e = read_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents(F.col("value"))).alias("sum_value_cents"),
    )


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
        CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
      min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-min-gap sessions via lag + running sum —
    one shuffle on user_id; the window order is intra-partition."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # interval arithmetic (not cast-to-long) so the same plan works for
    # TIMESTAMP and TIMESTAMP_NTZ parquet columns, timezone-free
    new_session = F.when(
        prev.isNull() | ((F.col("ts") - prev) > F.expr("INTERVAL 1800 SECOND")), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_session).over(wsum).cast("bigint").alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ===========================================================================
# Multimodal plumbing (Arrow-batched mapInPandas with stubbed codecs)
# ===========================================================================

@query(
    "multimodal_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS media_type,
        text
      FROM documents
    )
    SELECT media_id, media_type,
      CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      md5(text) AS content_md5,
      CAST(16 + (CAST('0x' || substring(md5(text), 1, 2) AS INT) % 240) AS INT)
        AS width,
      CAST(16 + (CAST('0x' || substring(md5(text), 3, 2) AS INT) % 240) AS INT)
        AS height,
      CAST(CASE WHEN media_type = 'image' THEN 1
                ELSE 1 + (CAST('0x' || substring(md5(text), 5, 2) AS INT) % 64)
           END AS INT) AS n_frames
    FROM m
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → decoded metadata via Arrow-batched
    ``mapInPandas`` (deterministic stub codec — the oracle reproduces it
    from md5, proving the Python batch path end-to-end)."""
    d = _docs_parallel(spark, sf_dir, n=8)
    media = MM.media_from_documents(d)
    return MM.decode_media(media).select(
        "media_id", "media_type", "byte_len", "content_md5", "width", "height",
        "n_frames",
    )


_DUCK_SHD = f"list_distinct({_DUCK_SHINGLES.strip()})"


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_duck_minhash_sig_cte()},
    banded AS MATERIALIZED ({_duck_band_exprs()}),
    sizes AS MATERIALIZED (SELECT band, bucket, count(*) AS c FROM banded
                           GROUP BY band, bucket),
    small AS MATERIALIZED (SELECT banded.* FROM banded
                           JOIN sizes USING (band, bucket)
                           WHERE c <= {MAX_BUCKET}),
    pairs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM small l JOIN small r
                ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    shd AS (SELECT doc_id AS id, {_DUCK_SHD} AS sh FROM documents)
    SELECT p.id_a, p.id_b,
      CAST(floor(
        len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) /
        CAST(len(sa.sh) + len(sb.sh)
             - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
             AS DOUBLE) * 1e6) AS BIGINT) AS jaccard_e6
    FROM pairs p
    JOIN shd sa ON sa.id = p.id_a
    JOIN shd sb ON sb.id = p.id_b
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard for the LSH candidate pairs (the verify step
    after MinHash estimation): |A∩B| / |A∪B| over distinct word-3-gram
    shingle sets.  Exact set math only runs on same-bucket pairs, never
    all n² — the two-tier (estimate → verify) near-dup pattern."""
    from .operators.dedup import _shingles
    from .plans.corpus_lsh import corpus_candidate_pairs

    d = _docs_parallel(spark, sf_dir)
    pairs = corpus_candidate_pairs(spark, sf_dir)

    shd = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(_shingles(F.col("text"))).alias("sh"),
    )
    sa = shd.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shd.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(inter / union.cast("double") * 1e6).alias("jaccard_e6"),
        )
    )


# ===========================================================================
# Flagship composition: the end-to-end training-corpus cleaning pipeline
# ===========================================================================

_DUCK_STOP = "['the','a','of','and','to','in','is']"
_CLEAN_TAU_POS = 8  # est_jaccard >= 0.5  ⇔  >= 8 of 16 signature positions equal


@query(
    "corpus_clean",
    oracle=f"""
    WITH filt AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN 0 ELSE len({_DUCK_TOKENS}) END
               AS n_tokens
      FROM documents
      WHERE (CASE WHEN trim(text) = '' THEN 0 ELSE len({_DUCK_TOKENS}) END) >= 10
        AND 20 * len(list_filter({_DUCK_TOKENS},
                                 x -> list_contains({_DUCK_STOP}, x)))
            > len({_DUCK_TOKENS})
        AND 10 * length(regexp_replace(text, '(?:[A-Za-z0-9_]+|\\s)', '', 'g'))
            < 3 * length(text)
    ),
    keep1 AS (
      SELECT f.doc_id, f.text, f.n_tokens
      FROM filt f
      JOIN (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                   min(doc_id) AS doc_id
            FROM filt GROUP BY 1) k
        ON md5(regexp_replace(lower(trim(f.text)), '\\s+', ' ', 'g')) = k.fp
       AND f.doc_id = k.doc_id
    ),
    {_duck_minhash_sig_cte(source="keep1")},
    banded AS MATERIALIZED ({_duck_band_exprs()}),
    sizes AS MATERIALIZED (SELECT band, bucket, count(*) AS c FROM banded
                           GROUP BY band, bucket),
    small AS MATERIALIZED (SELECT banded.* FROM banded
                           JOIN sizes USING (band, bucket)
                           WHERE c <= {MAX_BUCKET}),
    pairs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM small l JOIN small r
                ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id),
    rem AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM pairs p
      JOIN sigs sa ON sa.id = p.id_a
      JOIN sigs sb ON sb.id = p.id_b
      WHERE len(list_filter(range({NUM_HASHES}),
                            i -> sa.sig[i+1] = sb.sig[i+1])) >= {_CLEAN_TAU_POS}
    )
    SELECT doc_id, n_tokens FROM keep1
    WHERE doc_id NOT IN (SELECT doc_id FROM rem)
    """,
)
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning pipeline in ONE plan:

        quality filter (≥10 tokens, punct ratio < 0.3)
        → language filter (en stopword heuristic)
        → exact dedup (canonical-fingerprint first-wins)
        → near-dup removal (MinHash+LSH, est Jaccard ≥ 0.5, higher id drops)

    All predicates are integer comparisons (20·hits > n, 10·punct < 3·len,
    ≥8/16 signature positions) — no float thresholds to diverge across
    engines.  Stage shape at 100 TB: two narrow filter passes, one
    fingerprint hash-agg, then the LSH banding shuffle over the (already
    reduced) survivor set — each stage strictly shrinks the data before
    the next pays for it."""
    d = _docs_parallel(spark, sf_dir)
    text = F.col("text")
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n_tok = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(toks))
    hits = F.size(F.filter(toks, lambda x: x.isin(*TX.STOPWORDS_EN)))
    punct = F.length(F.regexp_replace(text, r"(?:[A-Za-z0-9_]+|\s)", ""))
    filt = d.select("doc_id", "text", n_tok.alias("n_tokens")).filter(
        (n_tok >= 10)
        & (F.lit(20) * hits > F.size(toks))
        & (F.lit(10) * punct < F.lit(3) * F.length(text))
    )

    # checkpoint so the fingerprint regexp+md5 runs ONCE per doc (r11
    # round; with_fp feeds the keep-id aggregate AND the join below)
    with_fp = filt.withColumn(
        "fp", TX.fingerprint("text")
    ).localCheckpoint()
    keep_ids = with_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # keep1 feeds BOTH the signature build and the final anti-join —
    # persisted so the source scan + quality filter + fingerprint dedup
    # run once, not twice (noise-level locally, but the second full
    # input pass it removes is the dominant cost at warehouse scale).
    keep1 = (
        with_fp.join(keep_ids, ["fp", "doc_id"])
        .select("doc_id", "text", "n_tokens")
        # localCheckpoint, not persist (r11): cheaper materialization
        # boundary for string/array frames — see catalog_r3b's curate
        .localCheckpoint()
    )

    # r12: Arrow signature kernel (bit-identical; tests/test_text_arrow)
    from .operators.text_arrow import minhash_signatures_arrow

    sigs = minhash_signatures_arrow(
        keep1, "text", "doc_id", NUM_HASHES
    ).localCheckpoint()
    pairs = DD.lsh_candidate_pairs(sigs, BANDS, ROWS_PER_BAND, MAX_BUCKET)
    sim = DD.minhash_similarity(pairs, sigs)
    rem = (
        sim.filter(F.col("est_jaccard") >= _CLEAN_TAU_POS / NUM_HASHES)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return keep1.join(rem, "doc_id", "left_anti").select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
