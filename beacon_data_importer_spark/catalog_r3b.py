"""Round-3 catalog, part B: corpus-level dedup COMPOSITIONS.

The round-1/2 tiers built the parts — minhash signatures, LSH banding,
candidate pairing, connected components, quality signals.  This module
composes them into the three pipelines a 100 TB pretraining-corpus
curation run actually executes:

  * near_dup_clusters / near_dup_keep — group ALL near-duplicate
    documents transitively (LSH pair graph → converged connected
    components) and keep one representative per cluster.  This is the
    canonical "fuzzy dedup" stage (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — cluster-and-keep-one,
    not pairwise-drop, so A~B~C collapses to one doc even when A and C
    never share a band bucket).
  * incremental_dedup — dedup a NEW batch against an EXISTING corpus
    without re-clustering the corpus: exact content-hash anti-join plus
    LSH band-key semi-join.  The shape every recurring crawl-ingest
    pipeline needs — corpus-side work is one signature scan, never a
    corpus×corpus pairing.
  * boilerplate_shingle_fraction — per-document fraction of shingles
    that are corpus-common (appear in ≥ threshold docs): the standard
    template/boilerplate signal (CCNet/C4-style duplicate-line
    fraction, lifted to shingles because this testdata is single-line).

Queries outside ``catalog.DRIVER_SLOTS`` are checked by the local
type-sensitive gate (tools/check_oracle.py +
tests/test_extra_queries.py) against the same DuckDB oracles the driver
would run.

Scale notes are per-query docstrings; none of these plans pair docs
outside a size-guarded band bucket, none collect to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_ext import (
    BANDS,
    MAX_BUCKET,
    NUM_HASHES,
    ROWS_PER_BAND,
    _docs_parallel,
    _DUCK_SHINGLES,
    _duck_band_exprs,
    _duck_minhash_sig_cte,
)
from .operators import dedup as DD
from .operators import similarity as SIM
from .operators.graph import connected_components, symmetrize
from .operators.text_arrow import minhash_signatures_arrow
from .sources.parquet import read_table, read_table_parallel

# ---------------------------------------------------------------------------
# shared DuckDB fragments
# ---------------------------------------------------------------------------

# LSH candidate pairs (identical semantics to minhash_near_dup's oracle:
# banded buckets, size guard, distinct in-bucket pairs a < b).
_DUCK_LSH_PAIRS = f"""
    banded AS MATERIALIZED ({_duck_band_exprs()}),
    sizes AS MATERIALIZED (SELECT band, bucket, count(*) AS c FROM banded
              GROUP BY band, bucket),
    small AS MATERIALIZED (SELECT banded.* FROM banded
              JOIN sizes USING (band, bucket)
              WHERE c <= {MAX_BUCKET}),
    pairs AS MATERIALIZED (SELECT DISTINCT l.id AS a, r.id AS b
              FROM small l JOIN small r
                ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id)
"""

# Converged connected components over those pairs (recursive reachability
# min — algorithm-independent, same device as entity_components).
_DUCK_DOC_CC = f"""
    {_duck_minhash_sig_cte()},
    {_DUCK_LSH_PAIRS},
    edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
              UNION ALL
              SELECT b AS src, a AS dst FROM pairs),
    reach(v, lbl) AS (
      SELECT DISTINCT src AS v, src AS lbl FROM edges
      UNION
      SELECT e.src AS v, r.lbl
      FROM reach r JOIN edges e ON e.dst = r.v
      WHERE r.lbl < e.src
    ),
    lab AS MATERIALIZED (SELECT v, min(lbl) AS lbl FROM reach GROUP BY v)
"""


def _doc_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged CC labels over the LSH near-dup pair graph: (v, lbl)
    for every doc that appears in at least one candidate pair.  The
    pair stream comes from the shared corpus-LSH stage
    (plans/corpus_lsh.py), so the marginal cost here is the CC rounds."""
    from .plans.corpus_lsh import corpus_candidate_pairs

    pairs = corpus_candidate_pairs(spark, sf_dir)
    return connected_components(symmetrize(pairs, "id_a", "id_b"))


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_DUCK_DOC_CC}
    SELECT v AS doc_id, lbl AS cluster_id FROM lab
    """,
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: converged connected components
    (pointer jumping, O(log n) rounds — operators/graph.py) over the
    MinHash-LSH candidate-pair graph.  cluster_id = minimum doc_id of
    the component, so the label is algorithm-independent and the oracle
    is a recursive reachability min.

    100 TB: pair generation is the banded-bucket stream (never all
    pairs); CC rounds shuffle the edge list (edges ≈ near-dup pairs ≪
    corpus); per-round parquet materialization keeps lineage flat
    (graph.py, PERF.md)."""
    labels = _doc_cluster_labels(spark, sf_dir)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


@query(
    "near_dup_keep",
    oracle=f"""
    WITH RECURSIVE {_DUCK_DOC_CC},
    m AS MATERIALIZED (
      SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN lab l ON l.v = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members,
           CAST(CASE WHEN row_number() OVER (
                    PARTITION BY cluster_id
                    ORDER BY n_chars DESC, doc_id) = 1
                 THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """,
)
def q_near_dup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-and-keep-one fuzzy dedup over the WHOLE corpus: every
    document gets its near-dup cluster (singletons are their own
    cluster) and a keep flag — the representative is the longest
    member (``n_chars`` desc, doc_id tiebreak), the usual
    "keep the most complete copy" policy.

    Plan: labels (CC over LSH pairs) LEFT-joined onto the corpus —
    label-less docs coalesce to themselves — then ONE window
    partitioning on cluster_id serves both the member count and the
    representative rank (no second shuffle).  At 100 TB the label
    frame is tiny next to the corpus (only docs in ≥1 pair), so the
    join broadcasts; the window shuffle is on cluster_id whose
    cardinality ≈ corpus, i.e. well-distributed."""
    d = read_table(spark, sf_dir, "documents")
    labels = _doc_cluster_labels(spark, sf_dir)
    m = (
        d.join(
            F.broadcast(labels), d.doc_id == labels.v, "left"
        )
        .select(
            "doc_id",
            F.coalesce("lbl", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id")
    return m.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("n_members"),
        (
            F.row_number().over(
                w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
            )
            == 1
        )
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Incremental batch-vs-corpus dedup
# ---------------------------------------------------------------------------


def _duck_sig_cte_named(prefix: str, source: str) -> str:
    """Suffixed clone of _duck_minhash_sig_cte so two signature chains
    (corpus + batch) coexist in one oracle query."""
    from .operators.dedup import MINHASH_P, minhash_coeffs

    mins = ", ".join(
        f"list_aggregate(list_transform(range(len(x)), "
        f"i -> ({a} * x[i+1] + {b} * y[i+1] + {s}) % {MINHASH_P}), 'min')"
        for s, (a, b) in enumerate(minhash_coeffs(NUM_HASHES))
    )
    return f"""
    {prefix}_shing AS (SELECT doc_id AS id, {_DUCK_SHINGLES} AS sh
                       FROM {source}),
    {prefix}_based AS (SELECT id,
      list_transform(sh, g -> CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)
                              % {MINHASH_P}) AS x,
      list_transform(sh, g -> CAST('0x' || substring(md5(g), 16, 15) AS BIGINT)
                              % {MINHASH_P}) AS y
      FROM {prefix}_shing),
    {prefix}_sigs AS (SELECT id, [{mins}] AS sig FROM {prefix}_based)
    """


def _duck_band_exprs_named(prefix: str) -> str:
    rows = []
    for b in range(BANDS):
        cols = " || ',' || ".join(
            f"CAST(sig[{b * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        rows.append(
            f"SELECT id, {b} AS band, md5({cols}) AS bucket"
            f" FROM {prefix}_sigs"
        )
    return " UNION ALL ".join(rows)


@query(
    "incremental_dedup",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE source = 'src0'),
    batch AS (SELECT * FROM documents WHERE source <> 'src0'),
    chash AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    {_duck_sig_cte_named("c", "corpus")},
    {_duck_sig_cte_named("n", "batch")},
    cband AS ({_duck_band_exprs_named("c")}),
    nband AS ({_duck_band_exprs_named("n")}),
    near_ids AS (SELECT DISTINCT n.id FROM nband n
                 JOIN cband c ON c.band = n.band AND c.bucket = n.bucket)
    SELECT b.doc_id, b.source,
      CAST(CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END AS INT)
        AS exact_dup,
      CAST(CASE WHEN ni.id IS NOT NULL THEN 1 ELSE 0 END AS INT)
        AS near_dup,
      CAST(CASE WHEN ch.h IS NULL AND ni.id IS NULL THEN 1 ELSE 0 END
           AS INT) AS keep
    FROM batch b
    LEFT JOIN chash ch ON ch.h = md5(b.text)
    LEFT JOIN near_ids ni ON ni.id = b.doc_id
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW ingest batch against an EXISTING corpus without
    touching corpus-side clustering (here: ``source='src0'`` plays the
    corpus, every other source the batch).  Two independent tests per
    batch doc, surfaced as flags so downstream chooses its policy:

      * ``exact_dup``  — content md5 appears in the corpus (anti-join
        semantics via a distinct corpus hash set).
      * ``near_dup``   — any LSH band key collides with a corpus band
        key (``operators.dedup.lsh_bands`` on both sides, semi-join on
        (band, bucket) — the recall of in-corpus LSH pairing, zero
        corpus×corpus or batch×batch work).
      * ``keep``       — neither.

    100 TB: the corpus side is ONE narrow signature scan producing
    (hash) and (band, bucket) key tables — in a recurring pipeline both
    are computed once at corpus-build time and stored; each nightly
    batch then costs two hash-partitioned joins sized by the BATCH.
    Flags are computed with left joins against distinct key sets (not
    semi-joins) so one pass yields all three columns."""
    # _docs_parallel: the testdata is one parquet split; without the
    # repartition both sides' signature hashing serializes on one core
    # (measured 11 s -> ~3 s warm at sf0.1).
    d = _docs_parallel(spark, sf_dir)
    corpus = d.filter(F.col("source") == "src0")
    batch = d.filter(F.col("source") != "src0")

    chash = corpus.select(F.md5("text").alias("h")).distinct()

    # r12: Arrow signature kernel (bit-identical; tests/test_text_arrow)
    csig = minhash_signatures_arrow(corpus, "text", "doc_id", NUM_HASHES)
    nsig = minhash_signatures_arrow(batch, "text", "doc_id", NUM_HASHES)
    cband = DD.lsh_bands(csig, BANDS, ROWS_PER_BAND).select("band", "bucket")
    nband = DD.lsh_bands(nsig, BANDS, ROWS_PER_BAND)
    near_ids = (
        nband.join(cband, ["band", "bucket"])
        .select(F.col("id").alias("near_id"))
        .distinct()
    )

    b = batch.select("doc_id", "source", F.md5("text").alias("__h"))
    return (
        b.join(chash, b.__h == chash.h, "left")
        .join(near_ids, b.doc_id == near_ids.near_id, "left")
        .select(
            "doc_id",
            "source",
            F.col("h").isNotNull().cast("int").alias("exact_dup"),
            F.col("near_id").isNotNull().cast("int").alias("near_dup"),
            (F.col("h").isNull() & F.col("near_id").isNull())
            .cast("int")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate / template detection via corpus-common shingles
# ---------------------------------------------------------------------------

_COMMON_DF = 5  # a shingle in >= this many docs is "corpus-common"


@query(
    "boilerplate_shingle_fraction",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
    ),
    exploded AS (
      SELECT doc_id, unnest(sh) AS g FROM per_doc
    ),
    freq AS (
      SELECT g FROM exploded GROUP BY g
      HAVING count(*) >= {_COMMON_DF}
    ),
    hits AS (
      SELECT e.doc_id, count(*) AS n_common
      FROM exploded e JOIN freq USING (g)
      GROUP BY e.doc_id
    )
    SELECT p.doc_id,
      CAST(len(p.sh) AS BIGINT) AS n_shingles,
      CAST(coalesce(h.n_common, 0) AS BIGINT) AS n_common,
      CAST(floor(coalesce(h.n_common, 0) * 1e6 / len(p.sh)) AS BIGINT)
        AS common_frac_e6
    FROM per_doc p LEFT JOIN hits h ON h.doc_id = p.doc_id
    """,
)
def q_boilerplate_shingle_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document boilerplate signal: the fraction of a doc's DISTINCT
    word-3-gram shingles that are corpus-common (appear in ≥ {df} docs).
    High fraction ⇒ template/boilerplate text (the shingle-level analog
    of C4's duplicate-line / CCNet's duplicated-paragraph filters —
    this testdata is single-line, so shingles stand in for lines).

    Plan: distinct shingles per doc (narrow array op), explode, ONE
    groupBy(shingle) keeps only shingles with document-frequency ≥
    threshold, join the exploded stream against that common set (the
    per-doc hit count), then join counts back to the narrow per-doc
    frame.  The common-shingle set is the high-DF TAIL of the
    distribution — orders of magnitude smaller than the shingle stream
    — so at 100 TB that join is broadcast-able after the threshold
    filter; the remaining shuffles partition by shingle and by doc_id,
    both well-spread keys.  No doc×doc work anywhere."""
    d = _docs_parallel(spark, sf_dir)
    # localCheckpoint, not persist (r11 optimization round): building
    # the columnar cache for an array<string> column costs ~10× the
    # checkpoint's row-block write (measured 4.9 s vs 0.5 s for the
    # token frame at sf0.1) — the multi-consumer reuse is identical.
    per_doc = d.select(
        "doc_id",
        F.array_distinct(DD._shingles(F.col("text"), 3)).alias("sh"),
    ).localCheckpoint()
    exploded = per_doc.select("doc_id", F.explode("sh").alias("g"))
    freq = (
        exploded.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _COMMON_DF)
        .select("g")
    )
    hits = (
        exploded.join(freq, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("sh").cast("bigint").alias("n_shingles"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.floor(
                F.coalesce("n_common", F.lit(0)) * F.lit(1e6) / F.size("sh")
            )
            .cast("bigint")
            .alias("common_frac_e6"),
        )
    )


# ---------------------------------------------------------------------------
# The flagship curation composition: every hygiene tier in one plan
# ---------------------------------------------------------------------------

# Gopher-keep CTE chain over the train split (doc_id % 50 != 0 — every
# 50th doc stands in for the held-out benchmark suite, as in
# decontaminate_ngrams).  Mirrors gopher_quality_signals' oracle exactly;
# ends with gkeep = the doc_ids that pass the rule set.
_DUCK_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_DUCK_GOPHER_KEEP = f"""
    t0 AS MATERIALIZED (
      SELECT doc_id, text, {_DUCK_TOKS} AS tk,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len({_DUCK_TOKS}) END AS n
      FROM documents WHERE doc_id % 50 != 0
    ),
    gb AS MATERIALIZED (
      SELECT doc_id, n,
        CASE WHEN n > 0
             THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)/n
             ELSE 0.0 END AS mwl,
        CASE WHEN n > 0
             THEN CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
                       AS DOUBLE)/n
             ELSE 0.0 END AS awf,
        COALESCE(CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT),
                 0) AS total_chars,
        CASE WHEN n >= 2
             THEN list_transform(range(n - 1), i -> tk[i+1] || ' ' || tk[i+2])
             ELSE [] END AS grams
      FROM t0
    ),
    gc AS MATERIALIZED (
      SELECT doc_id, gram, count(*) AS cnt
      FROM (SELECT doc_id, unnest(grams) AS gram FROM gb)
      GROUP BY doc_id, gram
    ),
    gtop AS MATERIALIZED (
      SELECT doc_id, gram, cnt FROM (
        SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram) AS rk
        FROM gc
      ) WHERE rk = 1
    ),
    gkeep AS MATERIALIZED (
      SELECT b.doc_id
      FROM gb b LEFT JOIN gtop t ON t.doc_id = b.doc_id
      WHERE b.n >= 20 AND b.n <= 100000
        AND b.mwl BETWEEN 3.0 AND 10.0 AND b.awf > 0.8
        AND (CASE WHEN b.total_chars > 0
                  THEN least(1.0, COALESCE(CAST(t.cnt AS DOUBLE)
                             * len(replace(t.gram, ' ', ''))
                             / b.total_chars, 0.0))
                  ELSE 0.0 END) < 0.20
    )
"""

_DUCK_3GRAMS = (
    "list_distinct(list_transform(range(len(tk) - 2), "
    "i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))"
)


_DUCK_CURATE_CTES = f"""
    WITH RECURSIVE {_DUCK_GOPHER_KEEP},
    evg AS MATERIALIZED (
      SELECT DISTINCT unnest({_DUCK_3GRAMS}) AS g
      FROM (SELECT {_DUCK_TOKS} AS tk FROM documents WHERE doc_id % 50 = 0)
      WHERE len(tk) >= 3
    ),
    contam AS MATERIALIZED (
      SELECT DISTINCT x.doc_id FROM (
        SELECT t0.doc_id, unnest({_DUCK_3GRAMS.replace("tk", "t0.tk")}) AS g
        FROM t0 JOIN gkeep USING (doc_id)
        WHERE len(t0.tk) >= 3
      ) x JOIN evg USING (g)
    ),
    s2 AS MATERIALIZED (
      SELECT t0.doc_id, t0.text, t0.n
      FROM t0 JOIN gkeep USING (doc_id)
      WHERE t0.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    fk AS MATERIALIZED (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             min(doc_id) AS doc_id
      FROM s2 GROUP BY 1
    ),
    s3 AS MATERIALIZED (
      SELECT s2.* FROM s2
      JOIN fk ON md5(regexp_replace(lower(trim(s2.text)), '\\s+', ' ', 'g'))
                 = fk.fp
             AND s2.doc_id = fk.doc_id
    ),
    {_duck_minhash_sig_cte(source="s3")},
    {_DUCK_LSH_PAIRS},
    edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
              UNION ALL
              SELECT b AS src, a AS dst FROM pairs),
    reach(v, lbl) AS (
      SELECT DISTINCT src AS v, src AS lbl FROM edges
      UNION
      SELECT e.src AS v, r.lbl
      FROM reach r JOIN edges e ON e.dst = r.v
      WHERE r.lbl < e.src
    ),
    lab AS MATERIALIZED (SELECT v, min(lbl) AS lbl FROM reach GROUP BY v),
    m AS MATERIALIZED (
      SELECT s3.doc_id, coalesce(l.lbl, s3.doc_id) AS cluster_id, s3.n
      FROM s3 LEFT JOIN lab l ON l.v = s3.doc_id
    ),
    curated AS MATERIALIZED (
      SELECT doc_id, n FROM (
        SELECT doc_id, n,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n DESC, doc_id) AS rk
        FROM m
      ) WHERE rk = 1
    )
"""


@query(
    "corpus_curate",
    oracle=_DUCK_CURATE_CTES
    + "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens FROM curated",
)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pipeline, one plan — what a pretraining
    data run executes over the raw crawl, every tier from this engine's
    catalog composed in the order a production pipeline applies them:

        1. Gopher quality rules   (token count / word length / alpha
                                   fraction / repetition — map-only)
        2. benchmark decontamination (drop docs sharing any word 3-gram
                                   with the held-out split; the eval
                                   gram set broadcasts)
        3. exact dedup            (canonical fingerprint, first-wins —
                                   one hash shuffle)
        4. transitive near-dup    (MinHash-LSH pair graph → converged
                                   connected components → keep the
                                   longest member per cluster)

    Output: the curated-corpus manifest (doc_id, n_tokens).

    Stage economics at 100 TB: every tier strictly SHRINKS the corpus
    before the next pays for it — the quality filter and decon drop are
    scan-side, the fingerprint shuffle carries survivors only, and the
    LSH/CC machinery (the only iterative part) runs over the
    post-dedup survivor set.  Each tier is individually oracle-proven
    by its standalone query (gopher_quality_signals,
    decontaminate_ngrams, dedup_exact/corpus_clean, near_dup_keep);
    this composition is proven end-to-end by one oracle replaying all
    four stages in order."""
    from .operators import text as TX
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir)
    train = d.filter(F.col("doc_id") % 50 != 0)
    ev = d.filter(F.col("doc_id") % 50 == 0)

    # -- 1. Gopher keep (tokenize once; signals from the token array) --
    toked = train.select(
        "doc_id", "text", _tokens("text").alias("__toks")
    )
    t = F.col("__toks")
    # PERSISTED: Catalyst pushes the keep filter below the projection by
    # SUBSTITUTING the aliased signal expressions (pushdown checks only
    # determinism, not cost) — so without a materialization boundary the
    # tokenization and the 2-gram fold re-evaluate in the filter AND in
    # every downstream branch that re-derives q1 (the decon anti-join
    # has two).  Measured: 12+ s for stage 1 alone vs ~1.5 s once
    # staged.  In production this frame IS the staged signals table the
    # pipeline writes between tiers; persist is its local stand-in.
    sig = toked.select(
        "doc_id",
        "text",
        "__toks",
        _ntoks(t).alias("__n"),
        TX.mean_word_length_t(t).alias("__mwl"),
        TX.alpha_word_fraction_t(t).alias("__awf"),
        TX.top_ngram_char_fraction_t(t, 2).alias("__t2g"),
        # localCheckpoint, not persist (r11): same materialization
        # boundary, but the columnar-cache build for the __toks
        # array<string> column alone cost ~4.9 s/run at sf0.1 vs 0.5 s
        # for the checkpoint's row blocks.
    ).localCheckpoint()
    q1 = sig.filter(
        TX.gopher_keep_from_signals(
            F.col("__n"), F.col("__mwl"), F.col("__awf"), F.col("__t2g")
        )
    ).select("doc_id", "text", "__toks", F.col("__n").alias("n"))

    # -- 2. decontamination (eval grams broadcast; survivors anti-join) --
    evg = F.broadcast(
        ev.select(F.explode(TX.word_ngrams("text", 3)).alias("g")).distinct()
    )
    grams = F.array_distinct(
        F.when(
            F.size(t) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                    F.element_at(t, i + 3),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    # materialize the gram arrays before exploding (r11 round): an
    # inline complex array expression under explode drops Generate out
    # of codegen — the 3-gram transform ran interpreted per doc (the
    # dedup_eval lesson, catalog_r3c)
    gr = q1.select("doc_id", grams.alias("__g3")).localCheckpoint()
    contam = (
        gr.select("doc_id", F.explode("__g3").alias("g"))
        .join(evg, "g")
        .select("doc_id")
        .distinct()
    )
    q2 = q1.join(contam, "doc_id", "left_anti").select("doc_id", "text", "n")

    # -- 3. exact dedup (canonical fingerprint first-wins) --
    # checkpoint so the canonical-fingerprint regexp+md5 runs ONCE per
    # doc (r11 round): with_fp feeds both the keep-id aggregate and the
    # join below, and nothing else bounds the double evaluation
    with_fp = q2.withColumn("fp", TX.fingerprint("text")).localCheckpoint()
    keep_ids = with_fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # q3 feeds the signature build AND the final cluster-keep join;
    # persist so stages 1-3 run once (at warehouse scale: a staged
    # survivor table).
    q3 = (
        with_fp.join(keep_ids, ["fp", "doc_id"])
        .select("doc_id", "text", "n")
        .localCheckpoint()
    )

    # -- 4. transitive near-dup cluster-keep --
    sigs = minhash_signatures_arrow(
        q3, "text", "doc_id", NUM_HASHES
    ).localCheckpoint()
    pairs = DD.lsh_candidate_pairs(sigs, BANDS, ROWS_PER_BAND, MAX_BUCKET)
    labels = connected_components(symmetrize(pairs, "id_a", "id_b"))
    m = q3.join(F.broadcast(labels), q3.doc_id == labels.v, "left").select(
        "doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id"), "n"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n").desc(), F.col("doc_id")
    )
    return (
        m.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("n").cast("bigint").alias("n_tokens"))
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the production ANN layout (5th tier on the recall/cost curve)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_SHORTLIST = 50


def _duck_ivfpq_oracle() -> str:
    """IVF cell pruning (ivf_search's cent/assign/qcells CTEs) composed
    with the PQ ADC + re-rank chain (catalog_r2._duck_pq_ctes), with
    encoding restricted to the probed cells' members."""
    from .catalog_r2 import _duck_pq_ctes

    cos = (
        "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
    )
    return f"""
    WITH {_duck_pq_ctes()},
    cent AS (SELECT vec_id AS cell_id, embedding AS cvec
             FROM embeddings WHERE vec_id % 100 = 0),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            {cos.format(a="e.embedding", b="c.cvec")} DESC,
            c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) t WHERE rn = 1
    ),
    qcells AS (SELECT cell_id FROM (
        SELECT c.cell_id,
          row_number() OVER (ORDER BY
            {cos.format(a="qq.embedding", b="c.cvec")} DESC,
            c.cell_id) AS rn
        FROM embeddings qq CROSS JOIN cent c WHERE qq.vec_id = 0
      ) t WHERE rn <= {_IVFPQ_NPROBE}
    ),
    cand AS (
      SELECT a.vec_id FROM assign a
      WHERE a.cell_id IN (SELECT cell_id FROM qcells) AND a.vec_id != 0
    ),
    scored AS (
      SELECT e.vec_id,
             list_reduce(list(dt.d ORDER BY dt.s), (x, y) -> x + y) AS ad
      FROM enc e
      JOIN cand c ON c.vec_id = e.vec_id
      JOIN dt ON dt.s = e.s AND dt.c = e.c
      GROUP BY e.vec_id
    ),
    short AS (SELECT vec_id FROM scored
              ORDER BY ad, vec_id LIMIT {_IVFPQ_SHORTLIST}),
    rer AS (
      SELECT e.vec_id,
             list_dot_product(
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1]),
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1])) AS d
      FROM emb e JOIN short ON e.vec_id = short.vec_id, q
    )
    SELECT vec_id AS neighbor_id, CAST(floor(d * 1e6) AS BIGINT) AS dist_e6
    FROM rer ORDER BY d, vec_id LIMIT 10
    """


@query(
    "ivfpq_search",
    oracle=_duck_ivfpq_oracle(),
)
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the layout production vector stores actually run
    (Jégou et al. 2011 §IV; FAISS IVFPQ): coarse IVF cells prune the
    corpus to nprobe cells, PQ codes ADC-score ONLY those members, and
    the exact re-rank touches just the shortlist.

    Composition of two oracle-proven tiers, so cost multiplies down
    twice: the scan is (nprobe/cells) of the corpus AND reads codes
    (32× smaller payload) instead of vectors; the full-vector reads are
    shortlist-sized.  The codebook trains on the FULL corpus
    (``codebook_source``) — encoding only the probed subset against a
    subset-derived codebook would silently change the code geometry.

    Simplification vs FAISS: codes quantize raw vectors, not
    per-cell residuals — see ``ivfpq_residual_search`` for the full
    residual semantics (per-cell ADC tables); bench reports both
    recalls so the tradeoff is measured, not asserted.

    Plan: centroid table broadcasts (bounded), cell assignment is the
    map-only fold (similarity.assign_cells), candidate filter is a
    broadcast semi join, ADC is M lookups per candidate, and the only
    shuffles are the two bounded TakeOrdereds (shortlist, final k)."""
    from pyspark.sql import Window

    from .operators.pq import pq_search_rerank

    e = read_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    assigned = SIM.assign_cells(corpus, centroids).select(
        "vec_id", "embedding", "cell_id"
    )

    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    scored_cells = centroids.crossJoin(F.broadcast(qvec)).select(
        "cell_id", SIM.cosine("centroid", "qemb").alias("__s")
    )
    wq = Window.orderBy(F.col("__s").desc(), F.col("cell_id"))
    qcells = (
        scored_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("cell_id")
    )
    cand = assigned.join(F.broadcast(qcells), "cell_id", "left_semi").filter(
        F.col("vec_id") != 0
    )

    q = e.filter(F.col("vec_id") == 0)
    return pq_search_rerank(
        cand,
        q,
        k=10,
        shortlist=_IVFPQ_SHORTLIST,
        codebook_source=e,
    )


# ---------------------------------------------------------------------------
# Corpus composition reports (the QA dashboards a curation run prints)
# ---------------------------------------------------------------------------


@query(
    "token_length_histogram",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
             END AS n
      FROM documents
    )
    SELECT CAST(n // 50 AS BIGINT) AS bucket_50,
           count(*) AS n_docs,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens,
           CAST(sum(n) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1
    """,
)
def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution in fixed 50-token buckets — the length
    histogram every curation run prints before choosing packing/filter
    thresholds.  One map-side-combined hash aggregation over a
    scan-side token count; bucket key = integer division (portable,
    unlike width_bucket's open-ended edges)."""
    from .operators.text import token_count_ws

    d = _docs_parallel(spark, sf_dir)
    n = token_count_ws("text")
    return (
        d.select(n.alias("n"))
        .groupBy(F.floor(F.col("n") / 50).cast("bigint").alias("bucket_50"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").cast("bigint").alias("min_tokens"),
            F.max("n").cast("bigint").alias("max_tokens"),
            F.sum("n").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "source_mix_report",
    oracle="""
    WITH g AS (
      SELECT source, lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source, lang
    ),
    t AS (SELECT sum(n_docs) AS td, sum(total_chars) AS tc FROM g)
    SELECT g.source, g.lang, g.n_docs, g.total_chars,
           CAST(floor(g.n_docs * 1e6 / t.td) AS BIGINT) AS doc_share_e6,
           CAST(floor(g.total_chars * 1e6 / t.tc) AS BIGINT)
             AS char_share_e6
    FROM g, t
    """,
)
def q_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by (source, lang): doc and character counts
    with micro-unit shares of the whole — the mixture dashboard that
    feeds mixture_weighted_sample's target weights.  One hash
    aggregation; the grand total is a 1-row broadcast back onto the
    groups (same device as top_supplier_q15), never a second scan."""
    d = read_table(spark, sf_dir, "documents")
    g = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    t = g.agg(
        F.sum("n_docs").alias("__td"), F.sum("total_chars").alias("__tc")
    )
    return g.crossJoin(F.broadcast(t)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        F.floor(F.col("n_docs") * 1e6 / F.col("__td"))
        .cast("bigint")
        .alias("doc_share_e6"),
        F.floor(F.col("total_chars") * 1e6 / F.col("__tc"))
        .cast("bigint")
        .alias("char_share_e6"),
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ: the full FAISS IVFPQ semantics (codes quantize
# residuals x - centroid; ADC tables are per probed cell)
# ---------------------------------------------------------------------------


def _duck_ivfpq_residual_oracle() -> str:
    def d2(a_expr: str, b_expr: str) -> str:
        diff = (
            f"list_transform(range(8), j -> ({a_expr})[j+1] - ({b_expr})[j+1])"
        )
        return f"list_dot_product({diff}, {diff})"

    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b})))"
    )
    rsub = "r.rv[cw.s*8+1 : cw.s*8+8]"
    qsub = "qr.qv[cw.s*8+1 : cw.s*8+8]"
    return f"""
    WITH emb AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    cent AS MATERIALIZED (
      SELECT vec_id AS cell_id, ev AS cvec FROM emb WHERE vec_id % 100 = 0),
    assign AS MATERIALIZED (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            {cos.format(a="e.ev", b="c.cvec")} DESC, c.cell_id) AS rn
        FROM emb e CROSS JOIN cent c
      ) t WHERE rn = 1),
    res AS MATERIALIZED (
      SELECT e.vec_id, a.cell_id,
             list_transform(range(64), j -> e.ev[j+1] - c.cvec[j+1]) AS rv
      FROM emb e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN cent c ON c.cell_id = a.cell_id),
    cw AS MATERIALIZED (
      SELECT s.i AS s, r.vec_id AS c, r.rv[s.i*8+1 : s.i*8+8] AS w
      FROM res r, range(8) s(i) WHERE r.vec_id < 16),
    enc AS MATERIALIZED (
      SELECT vec_id, cell_id, s, c FROM (
        SELECT r.vec_id, r.cell_id, cw.s, cw.c,
               row_number() OVER (PARTITION BY r.vec_id, cw.s
                                  ORDER BY {d2(rsub, "cw.w")}, cw.c) AS rn
        FROM res r, cw
      ) t WHERE rn = 1),
    qcells AS (SELECT cell_id FROM (
        SELECT c.cell_id,
          row_number() OVER (ORDER BY
            {cos.format(a="qq.ev", b="c.cvec")} DESC, c.cell_id) AS rn
        FROM emb qq CROSS JOIN cent c WHERE qq.vec_id = 0
      ) t WHERE rn <= {_IVFPQ_NPROBE}),
    qres AS (
      SELECT qc.cell_id,
             list_transform(range(64), j -> q.ev[j+1] - c.cvec[j+1]) AS qv
      FROM qcells qc
      JOIN cent c ON c.cell_id = qc.cell_id,
      (SELECT ev FROM emb WHERE vec_id = 0) q),
    dt AS (
      SELECT qr.cell_id, cw.s, cw.c, {d2(qsub, "cw.w")} AS d
      FROM qres qr, cw),
    scored AS (
      SELECT e.vec_id,
             list_reduce(list(dt.d ORDER BY dt.s), (x, y) -> x + y) AS ad
      FROM enc e
      JOIN dt ON dt.cell_id = e.cell_id AND dt.s = e.s AND dt.c = e.c
      WHERE e.vec_id != 0
      GROUP BY e.vec_id),
    short AS (SELECT vec_id FROM scored
              ORDER BY ad, vec_id LIMIT {_IVFPQ_SHORTLIST}),
    rer AS (
      SELECT e.vec_id,
             list_dot_product(
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1]),
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1])) AS d
      FROM emb e JOIN short ON e.vec_id = short.vec_id,
           (SELECT ev AS qv FROM emb WHERE vec_id = 0) q)
    SELECT vec_id AS neighbor_id, CAST(floor(d * 1e6) AS BIGINT) AS dist_e6
    FROM rer ORDER BY d, vec_id LIMIT 10
    """


@query(
    "ivfpq_residual_search",
    oracle=_duck_ivfpq_residual_oracle(),
)
def q_ivfpq_residual_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL FAISS-semantics IVFPQ (Jégou et al. 2011 §IV.B): codes
    quantize the RESIDUAL x − centroid(x), and the query builds one ADC
    distance table PER PROBED CELL from its own residual q − centroid.
    Residuals concentrate near the origin, so a shared codebook covers
    them far better than raw vectors — the reason production IVFPQ
    encodes residuals (``ivfpq_search`` is the simplified raw-vector
    form; bench reports both recalls).

    Plan shape: residual computation is a broadcast centroid join +
    narrow zip_with; encoding is the same map-only argmin fold
    (``pq_encode`` with ``vec_col='rv'``, codebook from the sampled
    residuals); the per-cell tables are nprobe rows of M×K doubles —
    broadcast-joined to candidates ON cell_id, which simultaneously
    restricts the scan to probed cells.  Only shuffles: the two bounded
    TakeOrdereds."""
    from pyspark.sql import Window

    from .operators.pq import _packed_codebook, _sq_dist, pq_encode

    M, K, DSUB = 8, 16, 8
    e = read_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    assigned = SIM.assign_cells(corpus, centroids, centroid_vec="cvec").select(
        "vec_id", "embedding", "cell_id"
    )
    res = assigned.join(F.broadcast(centroids), "cell_id").select(
        "vec_id",
        "cell_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            "cvec",
            lambda x, c: x - c,
        ).alias("rv"),
    )
    res_cb = res.filter(F.col("vec_id") < K)
    encoded = pq_encode(
        res, M, K, id_col="vec_id", vec_col="rv", codebook_source=res_cb
    ).select("vec_id", "cell_id", "codes")

    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qemb")
    )
    scored_cells = centroids.crossJoin(F.broadcast(qvec)).select(
        "cell_id", SIM.cosine("cvec", "qemb").alias("__s")
    )
    wq = Window.orderBy(F.col("__s").desc(), F.col("cell_id"))
    qcells = (
        scored_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select("cell_id")
    )
    cb_row = _packed_codebook(res_cb, M, K, "vec_id", "rv")
    qres = (
        qcells.join(F.broadcast(centroids), "cell_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "cell_id",
            F.zip_with("qemb", "cvec", lambda q, c: q - c).alias("qv"),
        )
    )
    dts = qres.crossJoin(F.broadcast(cb_row)).select(
        "cell_id",
        F.transform(
            F.col("__cb"),
            lambda cw: _sq_dist(
                F.slice(F.col("qv"), cw["s"] * DSUB + 1, DSUB), cw["w"]
            ),
        ).alias("__dt"),
    )

    cand = encoded.join(F.broadcast(dts), "cell_id").filter(
        F.col("vec_id") != 0
    )
    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(M - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("__dt"),
            s.cast("int") * K
            + F.element_at(F.col("codes"), s.cast("int") + 1)
            + 1,
        ),
    )
    short = (
        cand.withColumn("__ad", approx)
        .select("vec_id", "__ad")
        .orderBy(F.col("__ad").asc(), F.col("vec_id").asc())
        .limit(_IVFPQ_SHORTLIST)
        .select("vec_id")
    )
    exact = (
        e.join(F.broadcast(short), "vec_id", "left_semi")
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            _sq_dist(
                F.col("embedding").cast("array<double>"), F.col("qemb")
            ).alias("__d"),
        )
    )
    return (
        exact.orderBy(F.col("__d").asc(), F.col("neighbor_id").asc())
        .limit(10)
        .select("neighbor_id", F.floor(F.col("__d") * 1e6).alias("dist_e6"))
    )


# ---------------------------------------------------------------------------
# Semi-structured payloads: JSON extraction + Spark 4 VARIANT
# ---------------------------------------------------------------------------


@query(
    "json_payload_extract",
    oracle="""
    WITH payloads AS (
      SELECT doc_id,
        '{"id":' || doc_id || ',"lang":"' || lang || '","src":"' || source
          || '","meta":{"n":' || n_chars || ',"flags":["keep","' || lang
          || '"]}}' AS payload
      FROM documents
    )
    SELECT doc_id,
      CAST(json_extract_string(payload, '$.id') AS BIGINT) AS id,
      json_extract_string(payload, '$.lang') AS lang,
      json_extract_string(payload, '$.src') AS src,
      CAST(json_extract_string(payload, '$.meta.n') AS BIGINT) AS meta_n,
      json_extract_string(payload, '$.meta.flags[1]') AS flag1
    FROM payloads
    WHERE json_extract_string(payload, '$.lang') = 'en'
    """,
)
def q_json_payload_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion: each row carries a JSON payload
    (synthesized deterministically by CONCAT on both engines, so the
    bytes match and only the PARSERS are under test); fields extract
    back out typed — including a nested object and an array index —
    and a filter runs on an extracted field.

    Three Spark access paths exercised, all scan-side expressions:
    ``get_json_object`` (string JSONPath), ``from_json`` with an
    explicit schema (typed struct access for the nested object), and
    Spark 4 VARIANT (``parse_json`` + ``variant_get``) for the array
    element — the open-schema path a real event feed needs when
    payloads evolve.  At scale all three are per-row parses; a hot
    field should be materialized once per stage (same CSE rule as
    PERF.md's signal-staging note) rather than re-parsed per
    expression — done here via a staged projection."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = read_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('{"id":'),
        F.col("doc_id"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('","src":"'),
        F.col("source"),
        F.lit('","meta":{"n":'),
        F.col("n_chars"),
        F.lit(',"flags":["keep","'),
        F.col("lang"),
        F.lit('"]}}'),
    )
    staged = d.select("doc_id", payload.alias("payload"))
    meta_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("flags", ArrayType(StringType())),
        ]
    )
    parsed = staged.select(
        "doc_id",
        "payload",
        F.get_json_object("payload", "$.id").cast("bigint").alias("id"),
        F.get_json_object("payload", "$.lang").alias("lang"),
        F.get_json_object("payload", "$.src").alias("src"),
        F.from_json(
            F.get_json_object("payload", "$.meta"), meta_schema
        ).alias("__meta"),
        F.try_variant_get(
            F.parse_json(F.col("payload")), "$.meta.flags[1]", "string"
        ).alias("flag1"),
    )
    return parsed.filter(F.col("lang") == "en").select(
        "doc_id",
        "id",
        "lang",
        "src",
        F.col("__meta")["n"].alias("meta_n"),
        "flag1",
    )


# ---------------------------------------------------------------------------
# Python UDTF surface (Spark 4 lateral table function)
# ---------------------------------------------------------------------------


@query(
    "flatmap_attempts_udtf",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS orderkey,
        CASE WHEN o_orderpriority = '1-URGENT' THEN 3
             WHEN o_orderpriority = '2-HIGH' THEN 2
             WHEN o_orderpriority = '3-MEDIUM' THEN 1
             ELSE 0 END AS cnt,
        CASE WHEN o_orderstatus = 'F' THEN 'phone_success'
             WHEN o_orderpriority = '1-URGENT' THEN 'phone_message'
             ELSE 'phone_failure' END AS category
      FROM orders
    )
    SELECT orderkey, category, CAST(u + 1 AS INT) AS attempt_number
    FROM (SELECT orderkey, category, unnest(range(cnt)) AS u FROM base) t
    """,
)
def q_flatmap_attempts_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rowmapmany generator (G1/G2) expressed as a Spark 4 PYTHON
    UDTF in a LATERAL join — the general escape hatch when a row
    generator is genuinely imperative (API calls, recursive descent)
    and can't be a ``posexplode`` expression.  Same oracle as
    ``flatmap_attempts``: the two formulations are interchangeable by
    construction, and the catalog carries both so the plan audit shows
    the cost difference (UDTF = Python worker round-trip per batch —
    BatchEvalPythonUDTF in the plan — vs the codegen'd explode;
    prefer the expression form wherever semantics allow, SURVEY
    §2.10)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="attempt_number: int")
    class AttemptGen:
        def eval(self, cnt):
            for i in range(int(cnt or 0)):
                yield (i + 1,)

    spark.udtf.register("attempt_gen", AttemptGen)
    o = read_table(spark, sf_dir, "orders")
    cnt = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 3)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
    )
    category = (
        F.when(F.col("o_orderstatus") == "F", "phone_success")
        .when(F.col("o_orderpriority") == "1-URGENT", "phone_message")
        .otherwise("phone_failure")
    )
    o.select(
        F.col("o_orderkey").alias("orderkey"),
        cnt.alias("cnt"),
        category.alias("category"),
    ).createOrReplaceTempView("__flatmap_base")
    return spark.sql(
        "SELECT orderkey, category, attempt_number "
        "FROM __flatmap_base, LATERAL attempt_gen(cnt)"
    )


# ---------------------------------------------------------------------------
# Learned-codebook PQ: per-subspace k-means codewords (closes the
# "sampled codebook" simplification the PQ tier documented)
# ---------------------------------------------------------------------------

_PQK_M = 8      # subspaces
_PQK_K = 16     # codewords per subspace (k of each k-means)
_PQK_DSUB = 8   # dims per subspace
_PQK_ITERS = 2  # Lloyd iterations per subspace
_PQK_SHORT = 100


def _duck_pq_kmeans_oracle() -> str:
    """Per-subspace Lloyd chains (the kmeans_clusters oracle device,
    once per subspace) feeding the PQ enc/dt/score/re-rank chain."""
    def d2(a: str, b: str) -> str:
        diff = (
            f"list_transform(range({_PQK_DSUB}), j -> ({a})[j+1] - ({b})[j+1])"
        )
        return f"list_dot_product({diff}, {diff})"

    parts = [
        "emb AS MATERIALIZED "
        "(SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)"
    ]
    for j in range(_PQK_M):
        lo, hi = j * _PQK_DSUB + 1, j * _PQK_DSUB + _PQK_DSUB
        parts.append(
            f"s{j}e AS MATERIALIZED "
            f"(SELECT vec_id, ev[{lo}:{hi}] AS sv FROM emb)"
        )
        parts.append(f"""s{j}c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             sv AS v
      FROM s{j}e ORDER BY vec_id LIMIT {_PQK_K})""")
        for t in range(1, _PQK_ITERS + 1):
            p = t - 1
            parts.append(f"""s{j}a{t} AS MATERIALIZED (
      SELECT e.vec_id, e.sv, c.cid AS cluster,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {d2("e.sv", "c.v")}, c.cid) AS rn
      FROM s{j}e e, s{j}c{p} c)""")
            parts.append(f"""s{j}m{t} AS MATERIALIZED (
      SELECT a.cluster, t.i, avg((a.sv)[t.i+1]) AS m
      FROM (SELECT * FROM s{j}a{t} WHERE rn = 1) a, range({_PQK_DSUB}) t(i)
      GROUP BY a.cluster, t.i)""")
            parts.append(f"""s{j}c{t} AS MATERIALIZED (
      SELECT cluster AS cid, list(m ORDER BY i) AS v
      FROM s{j}m{t} GROUP BY cluster
      UNION ALL
      SELECT cid, v FROM s{j}c{p}
      WHERE cid NOT IN (SELECT DISTINCT cluster FROM s{j}m{t}))""")
    cw_union = " UNION ALL ".join(
        f"SELECT {j} AS s, cid AS c, v AS w FROM s{j}c{_PQK_ITERS}"
        for j in range(_PQK_M)
    )
    parts.append(f"cw AS MATERIALIZED ({cw_union})")
    sub = f"e.ev[cw.s*{_PQK_DSUB}+1 : cw.s*{_PQK_DSUB}+{_PQK_DSUB}]"
    qsub = f"q.qv[cw.s*{_PQK_DSUB}+1 : cw.s*{_PQK_DSUB}+{_PQK_DSUB}]"
    parts.append(f"""enc AS MATERIALIZED (
      SELECT vec_id, s, c FROM (
        SELECT e.vec_id, cw.s, cw.c,
               row_number() OVER (PARTITION BY e.vec_id, cw.s
                                  ORDER BY {d2(sub, "cw.w")}, cw.c) AS rn
        FROM emb e, cw
      ) t WHERE rn = 1)""")
    parts.append("q AS (SELECT ev AS qv FROM emb WHERE vec_id = 0)")
    parts.append(
        f"dt AS MATERIALIZED "
        f"(SELECT cw.s, cw.c, {d2(qsub, 'cw.w')} AS d FROM cw, q)"
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    scored AS (
      SELECT e.vec_id,
             list_reduce(list(dt.d ORDER BY dt.s), (x, y) -> x + y) AS ad
      FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
      WHERE e.vec_id != 0
      GROUP BY e.vec_id
    ),
    short AS (SELECT vec_id FROM scored
              ORDER BY ad, vec_id LIMIT {_PQK_SHORT}),
    rer AS (
      SELECT e.vec_id,
             list_dot_product(
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1]),
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1])) AS d
      FROM emb e JOIN short ON e.vec_id = short.vec_id, q
    )
    SELECT vec_id AS neighbor_id, CAST(floor(d * 1e6) AS BIGINT) AS dist_e6
    FROM rer ORDER BY d, vec_id LIMIT 10
    """


def _fit_pq_codebooks(ev) -> list:
    """Batched per-subspace Lloyd fits (see q_pq_kmeans_search_rerank's
    perf note): returns [(subspace, cid, codeword), ...] for all
    _PQK_M × _PQK_K codewords after _PQK_ITERS iterations."""
    spark = ev.sparkSession
    subs = (
        ev.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("s"),
                            F.slice(
                                "ev", j * _PQK_DSUB + 1, _PQK_DSUB
                            ).alias("sub"),
                        )
                        for j in range(_PQK_M)
                    ]
                )
            ).alias("e"),
        )
        .select("vec_id", F.col("e.s").alias("s"), F.col("e.sub").alias("sub"))
        # localCheckpoint, not persist (r11): the iterative Lloyd loop
        # re-scans this array<double> frame every iteration; the
        # columnar-cache build for array columns costs ~10x the
        # checkpoint's row-block write and the blocks GC-release.
        .localCheckpoint()
    )
    init_rows = ev.orderBy("vec_id").limit(_PQK_K).collect()
    cents: dict[tuple[int, int], list[float]] = {}
    for cid, r in enumerate(init_rows):
        full = [float(x) for x in r.ev]
        for j in range(_PQK_M):
            cents[(j, cid)] = full[
                j * _PQK_DSUB : (j + 1) * _PQK_DSUB
            ]
    for _ in range(_PQK_ITERS):
        # Vectorized Arrow assignment (same rewrite as
        # operators/kmeans.assign_clusters, see its docstring): the
        # old per-row HOF fold (filter to the row's subspace, then
        # aggregate/least over 16 (dist, cid) structs with
        # (x−y)·(x−y) zip_with sums) is CodegenFallback —
        # interpreted at ~µs per element.  The numpy loop replays
        # the exact IEEE sequence (acc starts 0.0, terms added in
        # ascending d; argmin's first-minimum index is the lowest
        # cid on ties because codewords are walked cid-ascending),
        # and row order is preserved so the (s, cluster) mean
        # update sums in the same order as before.
        import numpy as np
        import pyarrow as pa

        C = np.array(
            [
                [cents[(j, cid)] for cid in range(_PQK_K)]
                for j in range(_PQK_M)
            ],
            dtype=np.float64,
        )

        def _assign(batches, C=C):
            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                s = np.asarray(b.column(0), dtype=np.int64)
                X = np.asarray(
                    b.column(1).flatten(), dtype=np.float64
                ).reshape(n, _PQK_DSUB)
                cluster = np.empty(n, dtype=np.int32)
                for j in range(_PQK_M):
                    mask = s == j
                    if not mask.any():
                        continue
                    Xj = X[mask]
                    D = np.empty((Xj.shape[0], _PQK_K))
                    for c in range(_PQK_K):
                        acc = np.zeros(Xj.shape[0])
                        for d in range(_PQK_DSUB):
                            t = Xj[:, d] - C[j, c, d]
                            acc += t * t
                        D[:, c] = acc
                    cluster[mask] = D.argmin(axis=1)
                yield pa.record_batch(
                    [
                        b.column(0),
                        b.column(1),
                        pa.array(cluster, type=pa.int32()),
                    ],
                    names=["s", "sub", "cluster"],
                )

        assigned = subs.select("s", "sub").mapInArrow(
            _assign, "s int, sub array<double>, cluster int"
        )
        rows = (
            assigned.groupBy("s", "cluster")
            .agg(
                *[
                    F.avg(F.col("sub")[d]).alias(f"m{d}")
                    for d in range(_PQK_DSUB)
                ]
            )
            .collect()
        )
        seen = set()
        for r in rows:
            cents[(r.s, r.cluster)] = [
                r[f"m{d}"] for d in range(_PQK_DSUB)
            ]
            seen.add((r.s, r.cluster))
        # empty clusters keep their previous centroid (kmeans_fit
        # semantics)
    return [
        (j, cid, cents[(j, cid)])
        for j in range(_PQK_M)
        for cid in range(_PQK_K)
    ]


@query(
    "pq_kmeans_search_rerank",
    oracle=_duck_pq_kmeans_oracle(),
)
def q_pq_kmeans_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with a LEARNED codebook: one deterministic Lloyd k-means per
    subspace (init = the K lowest-id subvectors, fixed iterations) fits
    the codewords the sampled-codebook tier documented as the
    production path — this is how FAISS trains IVFPQ codebooks
    (Jégou et al. 2011 §III; k-means per subquantizer).

    The M fits are driver-orchestrated loops over TINY state (K×DSUB
    means per round, same bounded-collect shape as
    operators/kmeans.py); the learned (s, c, w) entries pack into the
    same 1-row broadcast ``__cb`` the sampled path uses
    (``packed_codebook``), so encode/ADC/re-rank reuse the proven
    operators unchanged.  The oracle replays all eight Lloyd chains
    (the kmeans_clusters CTE device, once per subspace) and then the
    PQ chain — early convergence on the Spark side is value-safe
    because a converged centroid set is a fixed point of further
    oracle iterations."""
    from .operators.pq import pq_search_rerank

    e = read_table(spark, sf_dir, "embeddings")
    ev = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ev")
    )
    # Round-9 perf fix: the 8 per-subspace Lloyd fits used to run as 8
    # SEQUENTIAL kmeans_fit loops — ~40 driver-dispatched jobs on a
    # tiny frame, almost all scheduler overhead (14.6 s warm at sf0.1).
    # All subspaces now fit TOGETHER: one exploded (subspace, subvector)
    # frame, one broadcast centroid row covering all 8×16 codewords,
    # one (s, cluster) mean aggregate per Lloyd iteration — 3 jobs
    # total.  Value-identical: per-subspace init is the SAME k
    # lowest-id subvectors, the assignment fold walks cid-ascending
    # within each subspace (same least-struct tie rule as
    # operators/kmeans.assign_clusters), the mean update is the same
    # avg per (subspace, cluster), and a subspace that would have
    # early-converged is a fixed point of the extra iteration.
    entries = _fit_pq_codebooks(ev)
    cb_row = (
        spark.createDataFrame(entries, "s int, c int, w array<double>")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("s", "c", "w"))
            ).alias("__cb")
        )
    )
    q = e.filter(F.col("vec_id") == 0)
    return pq_search_rerank(
        e,
        q,
        k=10,
        shortlist=_PQK_SHORT,
        n_subspaces=_PQK_M,
        n_codes=_PQK_K,
        exclude_id=0,
        packed_codebook=cb_row,
    )


# ---------------------------------------------------------------------------
# Large-star/small-star connected components (second converged-CC
# algorithm — cross-validates pointer jumping under the same oracle)
# ---------------------------------------------------------------------------


@query(
    "entity_components_star",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT l.c_custkey AS a, r.c_custkey AS b
      FROM customer l JOIN customer r
        ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= 2),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs),
    reach(v, lbl) AS (
      SELECT DISTINCT src AS v, src AS lbl FROM edges
      UNION
      SELECT e.src AS v, r.lbl
      FROM reach r JOIN edges e ON e.dst = r.v
      WHERE r.lbl < e.src
    )
    SELECT v AS custkey, min(lbl) AS cluster_id FROM reach GROUP BY v
    """,
)
def q_entity_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME converged entity components as ``entity_components``,
    computed by the OTHER algorithm: large-star/small-star edge
    contraction (Kiveris et al. SoCC'14) instead of pointer jumping.
    Converged labels are algorithm-independent (component minimum), so
    both queries share one recursive-CTE oracle and the driver gate
    cross-validates the algorithms against each other.  Star
    contraction carries only edge lists between rounds (no per-vertex
    label frame), which is the shape that wins when components are
    huge and labels would dwarf the contracted edges."""
    from .operators.graph import star_connected_components

    from .plans.er import customer_fuzzy_pairs

    pairs = customer_fuzzy_pairs(spark, sf_dir).select("a", "b")
    labels = star_connected_components(symmetrize(pairs, "a", "b"))
    return labels.select(
        F.col("v").alias("custkey"), F.col("lbl").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


@query(
    "weighted_sample_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
        pow(
          (CAST(('0x' || substring(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 13))
                AS BIGINT) + 1.0) / 4503599627370498.0,
          1.0 / CAST(n_chars AS DOUBLE)
        ) AS k
      FROM documents
    )
    SELECT doc_id, n_chars FROM keyed
    ORDER BY k DESC, doc_id LIMIT 100
    """,
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents sampled WITHOUT replacement with probability
    proportional to length: the Efraimidis-Spirakis reservoir key
    (``u^(1/w)``, deterministic md5-derived u) computed scan-side, the
    selection one bounded TakeOrdered — the primitive behind "sample N
    docs by token budget" that stays a single pass at any corpus size.
    The deterministic u makes the draw reproducible AND oracle-able;
    both engines compute the identical key expression."""
    from .operators.sampling import weighted_sample_keys

    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "n_chars",
        weighted_sample_keys("doc_id", "n_chars").alias("__k"),
    )
    return (
        keyed.orderBy(F.col("__k").desc(), F.col("doc_id"))
        .limit(100)
        .select("doc_id", "n_chars")
    )


@query(
    "corpus_to_shards",
    oracle=_DUCK_CURATE_CTES
    + """,
    cbase AS (
      SELECT doc_id AS id,
        CAST('0x' || substring(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 8 AS shard,
        CAST(n AS BIGINT) AS n_tokens
      FROM curated
    ),
    ranked AS (
      SELECT id, shard, n_tokens,
        row_number() OVER (
          PARTITION BY shard ORDER BY n_tokens DESC, id
        ) - 1 AS pos,
        greatest(CAST(1 AS BIGINT),
          CAST(floor((sum(n_tokens) OVER (PARTITION BY shard) + 511)
                     / 512.0) AS BIGINT)) AS n_bins
      FROM cbase
    ),
    packed AS (
      SELECT id, shard, n_tokens,
        CAST(CASE WHEN (pos // n_bins) % 2 = 0 THEN pos % n_bins
                  ELSE n_bins - 1 - (pos % n_bins) END AS BIGINT)
          AS pack_id
      FROM ranked
    ),
    per_pack AS (
      SELECT shard, pack_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      FROM packed GROUP BY shard, pack_id
    )
    SELECT CAST(floor(pack_tokens * 10 / 512.0) AS BIGINT) AS util_decile,
           count(*) AS n_packs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(pack_tokens) AS BIGINT) AS sum_tokens
    FROM per_pack GROUP BY 1
    """,
)
def q_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw crawl → training shards, the WHOLE prep pipeline in one
    plan: the four curation tiers (corpus_curate: Gopher quality →
    decontamination → exact dedup → near-dup cluster-keep) feed the
    serpentine shard packer at a 512-token budget, and the output is
    the pack-utilization QA histogram a shard build signs off on.

    This is the end-to-end a reference user would run nightly; every
    stage is individually oracle-proven and the composition is proven
    by one oracle replaying curation + packing + QA in sequence.  Plan
    economics: curation strictly shrinks the corpus before the packing
    shuffle (one shard exchange for both window passes), and the QA
    aggregations run over one-row-per-pack frames."""
    from .operators.sampling import pack_bins_serpentine, pack_utilization

    cur = q_corpus_curate(spark, sf_dir)
    packed = pack_bins_serpentine(cur, "doc_id", "n_tokens", budget=512)
    return pack_utilization(packed, budget=512)


# ---------------------------------------------------------------------------
# Context-window chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48  # 16-token overlap


@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
             END AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, n,
             unnest(range(0, greatest(n - 1, 0) + 1, {_CHUNK_STRIDE}))
               AS start_tok
      FROM toks WHERE n > 0
    )
    SELECT c.doc_id,
           CAST(c.start_tok / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(c.start_tok AS BIGINT) AS start_tok,
           CAST(least(c.start_tok + {_CHUNK_SIZE}, c.n) - c.start_tok
                AS BIGINT) AS chunk_tokens,
           array_to_string(
             t.tk[c.start_tok + 1 :
                  least(c.start_tok + {_CHUNK_SIZE}, c.n)], ' ')
             AS chunk_text
    FROM chunks c JOIN toks t ON t.doc_id = c.doc_id
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document splits into fixed
    {size}-token windows on a {stride}-token stride ({size}-{stride} =
    overlap), the standard LM training prep when documents exceed the
    model context (each token appears in at most ceil(size/stride)
    chunks; the trailing partial window is kept).  Map-only: tokenize
    once per doc (staged projection, the CSE rule), explode the window
    starts with ``sequence``, slice per window — no shuffle at all;
    chunk counts scale with corpus tokens, not documents²."""
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir)
    toked = d.select(
        "doc_id", _tokens("text").alias("__toks")
    ).select("doc_id", "__toks", _ntoks(F.col("__toks")).alias("__n"))
    chunks = toked.filter(F.col("__n") > 0).select(
        "doc_id",
        "__toks",
        "__n",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("__n") - 1, F.lit(0)),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start_tok"),
    )
    end = F.least(
        F.col("start_tok") + F.lit(_CHUNK_SIZE), F.col("__n")
    )
    return chunks.select(
        "doc_id",
        F.floor(F.col("start_tok") / _CHUNK_STRIDE)
        .cast("bigint")
        .alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        (end - F.col("start_tok")).cast("bigint").alias("chunk_tokens"),
        F.array_join(
            F.slice(
                F.col("__toks"),
                F.col("start_tok") + 1,
                end - F.col("start_tok"),
            ),
            " ",
        ).alias("chunk_text"),
    )


q_chunk_documents.__doc__ = (q_chunk_documents.__doc__ or "").format(size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


# ---------------------------------------------------------------------------
# Funnel analysis: ordered stage progression per user
# ---------------------------------------------------------------------------


@query(
    "funnel_progression",
    oracle="""
    WITH u1 AS MATERIALIZED (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    u2 AS MATERIALIZED (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN u1 ON u1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > u1.t1
        AND e.ts <= u1.t1 + INTERVAL 2 HOUR
      GROUP BY e.user_id
    ),
    u3 AS MATERIALIZED (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN u2 ON u2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > u2.t2
        AND e.ts <= u2.t2 + INTERVAL 2 HOUR
      GROUP BY e.user_id
    ),
    allu AS (SELECT DISTINCT user_id FROM events),
    depth AS (
      SELECT a.user_id,
        CAST(CASE WHEN u3.user_id IS NOT NULL THEN 3
                  WHEN u2.user_id IS NOT NULL THEN 2
                  WHEN u1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS INT) AS funnel_depth,
        CASE WHEN u3.user_id IS NOT NULL
             THEN date_diff('second', u1.t1, u3.t3) END AS secs
      FROM allu a
      LEFT JOIN u1 ON u1.user_id = a.user_id
      LEFT JOIN u2 ON u2.user_id = a.user_id
      LEFT JOIN u3 ON u3.user_id = a.user_id
    )
    SELECT funnel_depth, count(*) AS n_users,
           CAST(coalesce(sum(secs), 0) AS BIGINT)
             AS total_conversion_secs
    FROM depth GROUP BY funnel_depth
    """,
)
def q_funnel_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) with a 2-hour
    conversion window per stage: a user reaches stage k+1 only with an
    event STRICTLY AFTER their stage-k time and within the window — the
    classic product-analytics funnel, expressed as three cascaded
    min-aggregations (each stage's frame shrinks to users who reached
    the previous stage, so later joins touch ever-less data; every
    stage reuses the user_id hash partitioning).  Output: users per
    max depth reached + total view→purchase conversion seconds for
    completers.  At 100 TB the per-stage aggs are map-side-combined on
    user_id — never a sessionization sort of the whole event log."""
    e = read_table(spark, sf_dir, "events")
    u1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    u2 = (
        e.join(u1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    u3 = (
        e.join(u2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    allu = e.select("user_id").distinct()
    depth = (
        allu.join(u1, "user_id", "left")
        .join(u2, "user_id", "left")
        .join(u3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("funnel_depth"),
            # events ship TIMESTAMP_NTZ; cast through timestamp (UTC
            # session keeps the instant) before the epoch-seconds diff
            F.when(
                F.col("t3").isNotNull(),
                F.col("t3").cast("timestamp").cast("long")
                - F.col("t1").cast("timestamp").cast("long"),
            ).alias("secs"),
        )
    )
    return depth.groupBy("funnel_depth").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.coalesce(F.sum("secs"), F.lit(0))
        .cast("bigint")
        .alias("total_conversion_secs"),
    )
