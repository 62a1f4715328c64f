"""Corpus LSH staging plan: ONE signature table + ONE candidate-pair
stream, shared by every near-dup consumer.

The same pattern (and rationale) as ``plans/er.py``: round-3's
document near-dup queries (minhash_near_dup, near_dup_clusters,
near_dup_keep, ngram_jaccard_pairs) each recomputed the MinHash
signature pass — the dominant LSH cost (~1.5-2 s warm at sf0.1 per
query).  This module materializes the signature frame and the banded
candidate pairs once per (session, sf_dir) via ``localCheckpoint``, so
downstream queries pay marginal cost only.

At warehouse scale both stages ARE tables the pipeline writes once per
corpus build (`signatures`, `candidate_pairs`) — the checkpoint is the
local stand-in, exactly as the ER staging documents.  corpus_clean /
corpus_curate do NOT consume this stage: they sign a FILTERED survivor
corpus, which is a different input by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog_ext import (
    BANDS,
    MAX_BUCKET,
    NUM_HASHES,
    ROWS_PER_BAND,
    _docs_parallel,
)
from ..operators.dedup import lsh_candidate_pairs
from ..operators.text_arrow import minhash_signatures_arrow
from .staging_meter import stage


def corpus_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, sig) MinHash signature table for the documents corpus,
    staged once per session and scale factor."""
    # r12: Arrow kernel — bit-identical to the SQL form
    # (tests/test_text_arrow.py), one vectorized pass instead of the
    # interpreted per-shingle md5+conv+fold chain
    return stage(
        spark,
        f"corpus_sigs|{sf_dir}",
        lambda: minhash_signatures_arrow(
            _docs_parallel(spark, sf_dir), "text", "doc_id", NUM_HASHES
        ),
    )


def corpus_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) banded LSH candidate pairs over the staged
    signatures, staged once per session and scale factor."""
    sigs = corpus_signatures(spark, sf_dir)
    return stage(
        spark,
        f"corpus_pairs|{sf_dir}",
        lambda: lsh_candidate_pairs(sigs, BANDS, ROWS_PER_BAND, MAX_BUCKET),
    )


def corpus_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, s) distinct word-3-gram shingle SETS for the documents
    corpus, staged once per session and scale factor — the shared
    input of the EXACT set-similarity tier (prefix_filter_jaccard_join
    and any verify stage that needs true sets rather than MinHash
    sketches).  Shingling is the dominant CPU of those queries (~5 s
    of codegen transform + array_distinct at sf0.1), so it follows the
    signature table's stage-once discipline."""
    from pyspark.sql import functions as F

    from ..operators.dedup import _shingles

    return stage(
        spark,
        f"corpus_shingle_sets|{sf_dir}",
        lambda: _docs_parallel(spark, sf_dir).select(
            F.col("doc_id").alias("id"),
            F.array_distinct(_shingles(F.col("text"))).alias("s"),
        ),
    )
