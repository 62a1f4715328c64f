"""Bit-identity of the Arrow minhash kernel vs the SQL-expression form
(r12 optimization round): ``minhash_signatures_arrow`` must reproduce
``dedup.minhash_signatures`` EXACTLY — the DuckDB oracles stay on the
SQL form, so any divergence is an oracle failure in every consumer
(corpus_clean, corpus_curate, the corpus-LSH staging, incremental
dedup).

Two layers:
  * full-corpus brute force over the local documents table (the
    verdict's "done" criterion; sf0.01/sf0.1 replays run via
    tools/check_oracle.py + the standalone sweep recorded in
    OPTIMIZATION_r12.md);
  * an adversarial string battery for the Java-regex parity corners
    the corpus never exercises (tabs/newlines/\\x0B/\\f/\\r separators,
    leading/trailing whitespace, multi-space runs, empty and
    single-token docs, NULL text, uppercase).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from beacon_data_importer_spark.operators.dedup import minhash_signatures
from beacon_data_importer_spark.operators.text_arrow import (
    minhash_signatures_arrow,
)


def _sigs(df):
    return {r["id"]: list(r["sig"]) for r in df.collect()}


def test_minhash_arrow_matches_sql_full_corpus(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = _sigs(minhash_signatures(d, "text", "doc_id", 16))
    got = _sigs(minhash_signatures_arrow(d, "text", "doc_id", 16))
    assert got == want
    assert len(got) == d.count()


ADVERSARIAL = [
    (0, "plain three token doc"),
    (1, "two tokens"),
    (2, "one"),
    (3, ""),
    (4, "   leading spaces then words go here"),
    (5, "trailing spaces words go here   "),
    (6, "multi   space\t\ttab\nnewline\x0bvtab\fformfeed\rcarriage end"),
    (7, "\t tab leads this doc"),
    (8, "UPPER Case MiXeD tokens HERE"),
    (9, "a b c d e f g h i j"),
    (10, "repeated repeated repeated repeated repeated"),
    (11, "punct!@# $%^& *()_+ tokens-with-dash and_under score"),
    (12, " "),
    (13, "\t\n"),
    (14, None),
    (15, "x\xa0nbsp is NOT java whitespace so stays one token"),
    # case-mapping corners where Java and Python lowercasing could part:
    # dotted capital I (-> i + U+0307), sharp s in both cases, and Greek
    # capital sigma (-> final ς at a word end)
    (16, "İstanbul old town walk"),
    (17, "STRAßE und GROẞ here"),
    (18, "ΟΔΟΣ word final sigma"),
    (19, "ΣΑΣ ΟΔΟΣ end ΟΔΟΣ"),
]


def test_minhash_arrow_matches_sql_adversarial(spark):
    d = spark.createDataFrame(ADVERSARIAL, "doc_id bigint, text string")
    want = _sigs(minhash_signatures(d, "text", "doc_id", 16))
    got = _sigs(minhash_signatures_arrow(d, "text", "doc_id", 16))
    assert got == want
    # NULL text: the SQL fold returns the init array (least skips
    # NULLs) — pin that corner explicitly so a refactor can't drift it.
    from beacon_data_importer_spark.operators.dedup import MINHASH_P

    assert got[14] == [MINHASH_P] * 16
    # the kernel lowercases with str.lower(), the SQL form with Spark's
    # lower(): pin that they agree on the non-ASCII corners
    non_ascii = d.filter(F.col("doc_id") >= 16)
    lowered = {r[0]: r[1] for r in non_ascii.select("doc_id", F.lower("text")).collect()}
    assert lowered == {i: t.lower() for i, t in ADVERSARIAL if i >= 16}
    assert lowered[16].startswith("i\u0307stanbul")
    assert lowered[17] == "straße und groß here"
    assert lowered[19] == "σας οδος end οδος"


def test_minhash_arrow_casts_integral_ids(spark):
    """A non-bigint id column is cast in the narrowed select, so the
    kernel's declared ``id bigint`` output holds for it too."""
    d = spark.createDataFrame(
        [(i, t) for i, t in ADVERSARIAL if t is not None],
        "doc_id int, text string",
    )
    want = _sigs(minhash_signatures(d, "text", "doc_id", 16))
    got = _sigs(minhash_signatures_arrow(d, "text", "doc_id", 16))
    assert got == want


def test_minhash_arrow_other_widths(spark):
    d = spark.createDataFrame(
        [(i, t) for i, t in ADVERSARIAL if t is not None],
        "doc_id bigint, text string",
    )
    for nh, sn in ((8, 2), (16, 4), (4, 3)):
        want = _sigs(minhash_signatures(d, "text", "doc_id", nh, sn))
        got = _sigs(minhash_signatures_arrow(d, "text", "doc_id", nh, sn))
        assert got == want, (nh, sn)
