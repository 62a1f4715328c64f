"""Deduplication operators — reference surface + scale extensions.

Reference surface: petl ``dictlookupone`` is a first-row-wins unique-key
dedup (J1, ``prepare_calls.py:148-151``).  Spark has no implicit row
order, so first-wins needs an explicit deterministic ordering (SURVEY
§4.3.5) — expressed as a window ``row_number() = 1``.

Scale extensions (the training-data-pipeline surface): exact content
dedup via content hashing, and near-dup via MinHash signatures + LSH
banding.  All hashing is md5-based (`portable_hash64` rationale) so a SQL
oracle reproduces signatures bit-for-bit.

100 TB posture:
  * first_wins / exact_dedup: one hash-partitioned shuffle on the key —
    the minimum possible; no driver materialization, no collect.
  * minhash: per-row narrow computation (tokens → shingles → k mins),
    then LSH banding turns the O(n²) pair problem into a shuffle on
    (band, bucket) — only same-bucket docs are ever paired.  Skewed
    buckets (boilerplate docs) are bounded by ``max_bucket`` before the
    self-join, the standard guard against quadratic bucket blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_wins(
    df: DataFrame, key: str | list[str], order_by: list[str | Column]
) -> DataFrame:
    """Keep one row per key — the first under ``order_by`` (deterministic
    replacement for petl dictlookupone's source-order first-wins).

    One shuffle on the key.  At scale, prefer keys already co-partitioned
    with downstream joins so the exchange is reused.
    """
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup: group by md5(content), keep the lowest id.

    Returns (content_hash, keep_id, dup_count).  The groupBy gets a
    map-side partial min/count, so the shuffle carries one record per
    distinct hash per partition — not per row.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the lower-trimmed text; short docs fall
    back to one whole-text shingle.  Pure array expressions — runs in
    codegen, no UDF."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.when(k >= n, grams).otherwise(F.array(F.lower(F.trim(text))))


#: Mersenne prime 2^31-1: the modulus of the seed-mixing hash family.
#: Chosen so every intermediate (a_s·x + b_s·y + s) stays < 2^63 in
#: engines that error on BIGINT overflow.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_s, b_s) mixing coefficients per seed, derived
    from md5 so any engine/agreement layer can regenerate them.  Bounded
    < 2^28 to keep products overflow-safe."""
    import hashlib

    out = []
    for s in range(num_hashes):
        a = int(hashlib.md5(f"a{s}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"b{s}".encode()).hexdigest()[:7], 16) | 1
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document MinHash signature over word n-gram shingles.

    Cost model (the 100 TB concern): each shingle is md5-hashed exactly
    TWICE (two independent 60-bit halves of one digest would correlate,
    so halves of md5(g) are split instead: bits 1-60 and 61-120); the
    ``num_hashes`` per-seed values derive from those two integers by an
    overflow-safe affine mix ``(a_s·x + b_s·y + s) mod (2^31-1)`` —
    integer multiply-adds instead of ``num_hashes`` md5 evaluations per
    shingle (measured ~3× faster end-to-end at 16 seeds).

    All ``num_hashes`` running minimums are folded in ONE traversal of
    the shingle array: a higher-order ``aggregate`` whose accumulator is
    the array of per-seed minimums, updated per shingle via ``zip_with``
    against a literal coefficient array.  The earlier form (one
    ``zip_with``+``array_min`` per seed) re-traversed the x/y arrays 16
    times — the one-pass fold measured ~17% faster at sf0.1 and the gap
    grows with shingle count (PERF.md, "Design rules by operator class").

    Output: (id, sig array<bigint>).  Narrow, no shuffle; fixed-size
    signatures regardless of doc size.  Every step is reproducible in
    ANSI SQL (the DuckDB oracle mirrors it exactly).

    ``hash_fn="xxhash64"`` is the opt-in PRODUCTION path: two seeded
    JVM xxhash64 calls per shingle instead of one md5 + two hex→dec
    conversions.  Measured ~12% faster end-to-end on the signature
    stage at sf0.1 (the array build and min-fold dominate, so the hash
    swap moves less than raw hash throughput suggests — PERF.md); on
    this testdata it yields the IDENTICAL banded candidate-pair set.
    md5 stays the default because DuckDB has no xxhash64, so only the
    md5 path is cross-engine oracle-reproducible — every CATALOG query
    uses the default.
    """
    if hash_fn == "xxhash64":
        xy = F.transform(
            _shingles(F.col(text_col), shingle_n),
            lambda g: F.struct(
                F.pmod(F.xxhash64(F.lit(0), g), F.lit(MINHASH_P)).alias("x"),
                F.pmod(F.xxhash64(F.lit(1), g), F.lit(MINHASH_P)).alias("y"),
            ),
        )
        hexes = df.select(F.col(id_col).alias("id"), xy.alias("__xy"))
        xy = F.col("__xy")
    elif hash_fn == "md5":
        # Materialize the md5 array ONCE, then derive both 60-bit halves
        # in one transform — inlining md5 into both halves would evaluate
        # it twice per shingle (measured 4× slower at sf0.1).
        hexes = df.select(
            F.col(id_col).alias("id"),
            F.transform(
                _shingles(F.col(text_col), shingle_n), lambda g: F.md5(g)
            ).alias("__h"),
        )
        xy = F.transform(
            F.col("__h"),
            lambda h: F.struct(
                (F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % MINHASH_P)
                .alias("x"),
                (F.conv(F.substring(h, 16, 15), 16, 10).cast("bigint") % MINHASH_P)
                .alias("y"),
            ),
        )
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    coeffs = F.array(
        *[
            F.struct(
                F.lit(a).cast("bigint").alias("a"),
                F.lit(b).cast("bigint").alias("b"),
                F.lit(s).cast("bigint").alias("s"),
            )
            for s, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )
    # MINHASH_P is a safe "infinity": every mixed value is strictly
    # < MINHASH_P, and any doc has >= 1 shingle, so the init never leaks.
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), num_hashes)
    sig = F.aggregate(
        xy,
        init,
        lambda acc, e: F.zip_with(
            acc,
            coeffs,
            lambda m, c: F.least(
                m, (c["a"] * e["x"] + c["b"] * e["y"] + c["s"]) % MINHASH_P
            ),
        ),
    )
    return hexes.select("id", sig.alias("sig"))


def lsh_bands(
    sig_df: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH keys for a ``(id, sig)`` signature frame: one row per
    (doc, band) with ``bucket`` = md5 of that band's signature slice.

    Narrow (generator explode of a literal-sized array, no shuffle) —
    the band frame is the JOIN KEY SURFACE for every LSH consumer:
    in-corpus pairing (``lsh_candidate_pairs`` groups it by
    (band, bucket)) and batch-vs-corpus incremental dedup (semi-join of
    two band frames on (band, bucket), ``catalog_r3b``).  Output:
    ``(id, band, bucket)``.
    """
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(
                                        F.col("sig"), b * rows_per_band + r + 1
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 50,
) -> DataFrame:
    """LSH banding over minhash signatures → candidate near-dup pairs.

    Band key = md5 of the band's signature slice; docs sharing any band
    bucket become a candidate pair.  Output: (id_a, id_b) distinct,
    id_a < id_b.

    The pairing happens per (band, bucket) after a size guard drops
    degenerate buckets (> max_bucket docs) — bounding worst-case pair
    fan-out to max_bucket² per bucket.

    Plan shape (third formulation, each measured at sf0.1):
    groupBy (band, bucket) → ``collect_list(id)``, guard on
    ``size(ids)``, then expand in-bucket pairs as a NARROW nested
    ``transform``+``flatten``+``explode`` — no join at all.  The banded
    frame shuffles exactly once, carrying one row per non-singleton
    bucket, and the guard caps every array at ``max_bucket`` ids so the
    expansion is bounded memory.  History: groupBy-count + join (2
    shuffles of the banded frame + a join, slowest) → window-count
    size guard + self-join sharing one exchange (ReuseExchange,
    ~1.5-3× faster) → this collect-and-expand (drops the self-join's
    second exchange traversal and hash table entirely; fastest, and at
    cluster scale removes a whole join stage).  Pair order inside a
    bucket is irrelevant — pairs are emitted id-ordered and
    ``distinct`` unions them across bands.
    """
    banded = lsh_bands(sig_df, bands, rows_per_band)

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    # all ordered pairs within the bucket: for each id, pair it with
    # every STRICTLY GREATER id (set semantics — collect order is
    # irrelevant), flattened to one struct array then exploded
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a: F.filter(
                F.transform(
                    F.col("ids"),
                    lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                ),
                lambda p: p["id_a"] < p["id_b"],
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_similarity(pairs: DataFrame, sig_df: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs: fraction of equal signature
    positions.  Two broadcast-able joins against the compact signature
    table; the zip/aggregate is a narrow array op."""
    s1 = sig_df.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    s2 = sig_df.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    eq = F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int"))
    return (
        pairs.join(s1, "id_a")
        .join(s2, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.aggregate(eq, F.lit(0), lambda acc, x: acc + x)
                / F.size("sig_a")
            ).alias("est_jaccard"),
        )
    )


def simhash_agg(
    df: DataFrame, text_col: str, id_col: str, bits: int = 60
) -> DataFrame:
    """SimHash as a narrow one-pass per-row fold — NO shuffle at all.

    One ``aggregate`` over the token-hash array with a ``bits``-element
    vote accumulator: each token hash adds ±1 per bit via ``zip_with``
    against a literal power-of-two mask array; a final fold sets the
    positive-vote bits.  Each token is md5-hashed exactly once and the
    hash array is traversed exactly once.

    Evolution (probes in tools/): per-bit nested-array form (60
    traversals; kept as a test-only parity reference) → explode +
    groupBy with 60 sum
    aggs (hashes once, but shuffles O(docs × 60 ints)) → this fold,
    measured 5× faster than the explode form at sf0.1 and shuffle-free,
    bit-identical output (tools/simhash_onepass_probe.py).  At 100 TB
    the win compounds: simhash becomes a pure map stage that fuses into
    whatever shuffle its consumer needs.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hashes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
    )
    pows = F.array(*[F.lit(1 << i).cast("bigint") for i in range(bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes, pows, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col).alias("id"), sim.alias("simhash"))




def passage_dedup(
    df: DataFrame, text_col: str, id_col: str, window: int = 8
) -> DataFrame:
    """Exact passage-level dedup with text reconstruction (Lee et al.
    2022 ExactSubstr at fixed ``window``-word boundaries; catalog twin
    ``passage_dedup`` in catalog_r3c.py carries the DuckDB oracle).

    Split each document into non-overlapping word windows, keep only
    the globally FIRST occurrence of each distinct passage (order:
    id, then position), rebuild each document from its survivors.
    Output: (id, clean_text, kept_passages, removed_passages).

    One shuffle on the passage md5 (first-copy window rank), one on the
    doc id (ordered reassembly, collect bounded by document size).
    Empty/blank texts are dropped — they have no passages.
    """
    from .text import _ntoks, _tokens

    toked = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("id"), _tokens(text_col).alias("__toks"))
        .select("id", "__toks", _ntoks(F.col("__toks")).alias("__n"))
    )
    pas = toked.select(
        "id",
        "__toks",
        "__n",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(window))
        ).alias("st"),
    )
    end = F.least(F.col("st") + F.lit(window), F.col("__n"))
    ph = pas.select(
        "id",
        "st",
        F.array_join(
            F.slice(F.col("__toks"), F.col("st") + 1, end - F.col("st")), " "
        ).alias("ptxt"),
    )
    w = Window.partitionBy(F.md5(F.col("ptxt"))).orderBy("id", "st")
    mk = ph.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("st"), F.col("ptxt"))
    )  # collect_list drops the NULLs for removed passages
    return mk.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["ptxt"]
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("kept_passages"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("removed_passages"),
    )
