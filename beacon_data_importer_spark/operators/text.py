"""Text-analysis operators over document tables (north-star extension,
SURVEY §7.5): token counting, quality scoring, language-ID heuristic,
content fingerprinting.

All metrics are pure Column expressions (regex + arithmetic) — narrow,
codegen'd, shuffle-free per document; at 100 TB these run at scan speed.
Patterns stick to the regex subset with identical semantics in Java
regex and RE2-style engines so SQL oracles reproduce them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multi-language stopword table — config, not data; used by the
# language-ID heuristic.  Deliberately small and deterministic.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")
WORD_RE = r"[A-Za-z0-9_]+"
PUNCT_RE = r"[^A-Za-z0-9_\s]"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count; empty/blank text → 0."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def token_count_wordlike(text: Column | str) -> Column:
    """BPE-ish token count: word-character runs plus standalone
    punctuation marks (the classic ``\\w+|[^\\w\\s]`` pre-tokenizer).
    Expressed as two regexp match counts — portable to SQL oracles
    (``len(regexp_extract_all(...))``)."""
    t = _c(text)
    return F.regexp_count(t, F.lit(WORD_RE)) + F.regexp_count(t, F.lit(PUNCT_RE))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text).  Raw double —
    callers integerize for cross-engine output (floor(x*1e6)); engine
    round() tie-rules are not portable, exact division of ints is."""
    t = _c(text)
    n = F.length(t)
    p = F.length(F.regexp_replace(t, rf"(?:{WORD_RE}|\s)", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    toks = F.split(F.lower(F.trim(_c(text))), r"\s+")
    hits = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length docs,
    penalizes punctuation soup and stopword-free keyword mash.  The exact
    formula is arbitrary but deterministic and oracle-reproducible."""
    n_tok = token_count_ws(text)
    len_score = F.least(n_tok.cast("double") / 50.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5.0)
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return len_score * 0.5 + punct_pen * 0.3 + stop_score * 0.2


def predict_lang(text: Column | str) -> Column:
    """N-gram/stopword language heuristic: 'en' when English stopwords
    exceed 5% of tokens, else 'xx' (unknown).  A real system plugs in a
    proper n-gram profile table here; the operator shape (narrow scan-side
    classification) is what matters at scale."""
    return F.when(stopword_ratio(text) > 0.05, F.lit("en")).otherwise(F.lit("xx"))


def fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 of the lowercased,
    whitespace-collapsed text.  Engine-portable (md5), used for exact
    near-canonical dedup."""
    canon = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.md5(canon)


def fingerprint_bucket(text: Column | str, bits: int = 16) -> Column:
    """Leading fingerprint bits as an integer bucket — a shard key for
    distributing dedup work evenly (md5 is uniform)."""
    hexdigits = (bits + 3) // 4
    return F.conv(F.substring(fingerprint(text), 1, hexdigits), 16, 10).cast("bigint")


def char_trigrams(text: Column | str) -> Column:
    """Character 3-grams of the lower/trimmed text (positions 1..len-2);
    texts shorter than 3 chars yield an empty array.  The guard matters:
    ``sequence(1, len-2)`` DECREASES when len < 3 (Spark generates
    descending sequences), which would fabricate garbage grams."""
    t = F.lower(F.trim(_c(text)))
    n = F.length(t)
    grams = F.transform(F.sequence(F.lit(1), n - 2), lambda i: t.substr(i, F.lit(3)))
    return F.when(n >= 3, grams).otherwise(F.array().cast("array<string>"))


def train_trigram_profile(docs, text_col: str, top_k: int = 500):
    """Corpus-wide trigram frequency profile: (gram, c, is_top).

    Train step of the language-model-ish scoring pair.  One explode +
    hash-aggregate (map-side partials: the shuffle carries distinct grams
    per partition, not tokens).  The vocabulary is bounded (charset³), so
    the profile is broadcastable and the top-k ranking window over it is
    single-partition by construction — bounded, like MLlib's vocab fits.
    """
    from pyspark.sql import Window

    grams = docs.select(F.explode(char_trigrams(F.col(text_col))).alias("g"))
    prof = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("g"))
    return prof.withColumn("is_top", (F.row_number().over(w) <= top_k).cast("int"))


def score_against_profile(docs, profile, text_col: str, id_col: str):
    """Score step: per-doc trigram commonness under a trained profile.

    Outputs exact-integer metrics (cross-engine reproducible — no float
    aggregation whose sum order could differ between engines):
      * avg_gram_freq_e6 = floor(1e6 · Σc_g / (n · T)) — mean corpus
        frequency of the doc's trigrams (low ⇒ unusual/perplexing text);
      * top_coverage_e6 = floor(1e6 · hits / n) — fraction of the doc's
        trigrams inside the profile's top-k (low ⇒ out-of-distribution).

    The profile join is broadcast (bounded vocab); everything else is one
    hash-aggregate per doc.  All intermediate products stay < 2^53, so
    the final double divisions are exact-input and correctly rounded in
    any IEEE engine.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(char_trigrams(F.col(text_col))).alias("g")
    )
    totals = profile.agg(F.sum("c").alias("T"))
    per_doc = (
        grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sumc"),
            F.sum("is_top").alias("hits"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        F.floor(
            F.lit(1000000.0) * F.col("sumc") / (F.col("n") * F.col("T")).cast("double")
        ).alias("avg_gram_freq_e6"),
        F.floor(F.lit(1000000.0) * F.col("hits") / F.col("n").cast("double")).alias(
            "top_coverage_e6"
        ),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition & quality signals (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", Appendix A1.1 — the published rule set
# most large-corpus pipelines start from).  All narrow Column
# expressions; the only non-obvious one is top_ngram_char_fraction,
# whose per-doc mode computation runs as a sorted-run fold instead of an
# unnest+groupBy (keeping it shuffle-free at scan speed).
# ---------------------------------------------------------------------------


def _tokens(text: Column | str) -> Column:
    return F.split(F.lower(F.trim(_c(text))), r"\s+")


def _ntoks(toks: Column) -> Column:
    """Token count from a ``_tokens`` array.  Blank text tokenizes to
    ``['']`` — mapped back to 0 so the *_t variants agree byte-for-byte
    with the text-based ones (and the SQL oracles' CASE trim='')."""
    return F.when(
        (F.size(toks) == 1) & (F.element_at(toks, 1) == ""), F.lit(0)
    ).otherwise(F.size(toks))


# Each signal has a *_t variant over a PRECOMPUTED token array so a
# multi-signal projection (gopher_quality_signals computes five) can
# tokenize once per document: `select(_tokens(text).alias("__toks"))`
# then signals from `__toks` in a SECOND select.  Catalyst's
# CollapseProject declines to merge the two projections because the
# alias is non-cheap and referenced many times, so the split runs once —
# inlining text into every signal re-ran the regexp split per signal
# (measured: the dominant cost of the gopher query before this split).


def mean_word_length_t(toks: Column) -> Column:
    """``mean_word_length`` over a precomputed token array."""
    n = _ntoks(toks)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str) -> Column:
    """Mean characters per whitespace token (0 for empty text).  Gopher
    keeps docs whose mean is in [3, 10]."""
    return mean_word_length_t(_tokens(text))


def alpha_word_fraction_t(toks: Column) -> Column:
    """``alpha_word_fraction`` over a precomputed token array."""
    n = _ntoks(toks)
    hits = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def alpha_word_fraction(text: Column | str) -> Column:
    """Fraction of tokens containing at least one alphabetic character
    (Gopher: keep if > 0.8) — catches number/symbol soup."""
    return alpha_word_fraction_t(_tokens(text))


def dup_token_fraction_t(toks: Column) -> Column:
    """``dup_token_fraction`` over a precomputed token array."""
    n = _ntoks(toks)
    distinct = F.size(F.array_distinct(toks))
    return F.when(
        n > 0, (n - distinct).cast("double") / n
    ).otherwise(F.lit(0.0))


def dup_token_fraction(text: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 - distinct/total) — the word-level analogue of Gopher's
    duplicate-line fraction for single-line documents."""
    return dup_token_fraction_t(_tokens(text))


def top_ngram_char_fraction(text: Column | str, n: int) -> Column:
    """Fraction of the document's non-space characters covered by its
    most frequent word n-gram (Gopher bounds: 2-gram < 0.20, 3-gram
    < 0.18, 4-gram < 0.16 — repetition soup scores high).

    Computed WITHOUT a shuffle: the n-gram array is sorted, then one
    ``aggregate`` fold finds the longest run of equal adjacent grams
    (= the mode and its count; ties resolve to the lexicographically
    smallest gram, since a later equal-length run never displaces the
    best).  Coverage = count × gram_chars (spaces excluded) over total
    token chars.  An unnest+groupBy would shuffle O(corpus × grams)
    rows; this stays a scan-side expression.
    """
    return top_ngram_char_fraction_t(_tokens(text), n)


def top_ngram_char_fraction_t(toks: Column, n: int) -> Column:
    """``top_ngram_char_fraction`` over a precomputed token array."""
    k = F.size(toks)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best_run"),
        F.lit("").alias("best_gram"),
    )

    def step(acc: Column, g: Column) -> Column:
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        better = run > acc["best_run"]
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"),
            F.when(better, g).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    best = F.aggregate(F.array_sort(grams), zero, step)
    gram_chars = F.length(F.replace(best["best_gram"], F.lit(" "), F.lit("")))
    total_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    # Overlapping occurrences ("a a a" has two "a a" grams sharing a
    # token) can push raw coverage past 1 — clamp, as the published
    # implementations do, so the signal stays a fraction.
    return F.when(
        total_chars > 0,
        F.least(
            F.lit(1.0),
            (best["best_run"] * gram_chars).cast("double") / total_chars,
        ),
    ).otherwise(F.lit(0.0))


def gopher_keep(text: Column | str) -> Column:
    """Gopher rule-set keep decision, adapted to single-line documents
    (no newline-based rules; word-count floor lowered to 20 for the
    short synthetic docs).  Every input signal is one of the narrow
    expressions above, so the whole filter folds into the scan.  When
    several signals are also SELECTED alongside the decision, prefer
    ``gopher_keep_from_signals`` over already-computed columns — this
    inline form re-evaluates each signal expression."""
    n = token_count_ws(text)
    return (
        (n >= 20)
        & (n <= 100_000)
        & mean_word_length(text).between(3.0, 10.0)
        & (alpha_word_fraction(text) > 0.8)
        & (top_ngram_char_fraction(text, 2) < 0.20)
    )


def gopher_keep_from_signals(
    n: Column, mwl: Column, awf: Column, t2g: Column
) -> Column:
    """The Gopher keep rule over ALREADY-COMPUTED signal columns — the
    zero-recompute form for projections that surface the signals AND
    the decision (the expensive top-2-gram fold evaluates once in the
    signal column, not again inside the filter)."""
    return (
        (n >= 20)
        & (n <= 100_000)
        & mwl.between(3.0, 10.0)
        & (awf > 0.8)
        & (t2g < 0.20)
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination & PII redaction (round-3 tier) — the two
# remaining standard large-corpus hygiene steps (n-gram overlap
# decontamination per Brown et al. 2020 §4/C; regex PII masking as in
# C4/Dolma-style pipelines).
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def word_ngrams(text: Column | str, n: int) -> Column:
    """Distinct word n-grams of the lower-trimmed text (space-joined);
    empty for docs shorter than n tokens."""
    toks = _tokens(text)
    k = F.size(toks)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def contamination_hits(
    train,
    eval_df,
    text_col: str,
    id_col: str,
    n: int = 3,
):
    """Benchmark decontamination: train documents sharing at least one
    word n-gram with the evaluation set, with their distinct-overlap
    counts (the GPT-3 appendix-C recipe, where flagged docs are dropped
    or split).

    Scale shape: an eval/benchmark suite is bounded, so its distinct
    n-gram set builds with one small aggregation and BROADCASTS; the
    train side explodes its per-doc distinct grams and inner-joins the
    broadcast — the only shuffle is the per-doc hit count, which
    carries matching (doc, gram) rows only.  Never a train×eval join.

    Returns (id_col, n_overlap_grams), flagged docs only.
    """
    ev = F.broadcast(
        eval_df.select(
            F.explode(word_ngrams(text_col, n)).alias("g")
        ).distinct()
    )
    tg = train.select(
        F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("g")
    )
    return (
        tg.join(ev, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap_grams"))
    )


def pii_redact(text: Column | str) -> Column:
    """Mask emails, IPv4 addresses, and phone numbers with typed
    placeholder tokens.  Pure chained ``regexp_replace`` — map-only, at
    scan speed; patterns stay inside the regex subset shared by Java
    and RE2 so SQL engines replay the exact output.  Order matters:
    emails first (they can embed digit runs), then IPs (4 octets),
    then 3-3-4 phone numbers."""
    t = F.regexp_replace(_c(text), EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, IP_RE, "<IP>")
    return F.regexp_replace(t, PHONE_RE, "<PHONE>")


def pii_counts(text: Column | str) -> Column:
    """(n_emails, n_ips, n_phones) struct counted in redaction order on
    the progressively-masked text, so overlapping matches are not
    double-counted."""
    raw = _c(text)
    after_email = F.regexp_replace(raw, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IP_RE, "<IP>")
    return F.struct(
        F.regexp_count(raw, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(after_email, F.lit(IP_RE)).alias("n_ips"),
        F.regexp_count(after_ip, F.lit(PHONE_RE)).alias("n_phones"),
    )
