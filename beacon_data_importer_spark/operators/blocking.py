"""Candidate-pair blocking for entity resolution at scale.

The reference resolves entities by EXACT key (``nhs_number`` equi-joins,
``sql/import_identified_needs.sql:24-26``); the engine's fuzzy
generalization needs candidate pairs for an edit-distance verify, and
the blocking key decides whether that pair stream survives 100×.  A
single low-selectivity coarse key (round-2 used nation: 25 values)
makes each block n/25 rows and the stream O((n/25)²) — quadratic, the
one scale-killer called out by the round-2 audit.

This module implements EXACT pigeonhole segment blocking (the idea
behind PassJoin: Li, Deng, Wang, Feng — "PASS-JOIN: A Partition-based
Method for Similarity Joins", PVLDB 5(3), 2011), recast as two narrow
generators plus one equi-join, which is the Spark-native shape:

  * every name is cut into ``k+1`` contiguous segments (pigeonhole: ≤ k
    edits can damage at most k of them, so for any true pair at least
    one segment of one string appears VERBATIM in the other, shifted by
    at most k positions);
  * the index side emits its ``k+1`` segments keyed by
    ``(segment#, length, value)``; the probe side emits every substring
    that could equal an indexed segment of a string within ±k length
    and ±k position shift;
  * an equi-join on the segment key yields candidates; a banded
    levenshtein verify keeps true pairs.

COMPLETENESS (no true pair is ever missed) is a theorem, not a tuning
choice — so downstream oracles (exhaustive-join SQL) remain valid no
matter what the data looks like.  EFFICIENCY depends on segment-value
entropy: on name-like text the candidate stream grows ~linearly in
rows (PERF.md, "Exact segment blocking" growth curves); on the testdata's
``Customer#%09d`` names the digits carry almost no entropy and blocking
honestly degenerates toward the coarse-key stream (the same negative
result the round-2 PassJoin probe measured — see PERF.md,
"Segment-blocking (PassJoin) probe").

A dataset-wide common prefix (``Customer#…``) is stripped before
segmentation: for strings sharing an identical prefix P,
``lev(P+a, P+b) == lev(a, b)`` (the DP lemma that equal leading
characters align — same property ``bounded_levenshtein``'s prefix-trim
fast path uses), so segmenting only the entropy-bearing suffix is
exact.  The prefix length is found with one tiny aggregate:
``lcp(min(name), max(name))`` equals the dataset LCP under
lexicographic order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import bounded_levenshtein

_END = 2147483647


def dataset_prefix_len(df: DataFrame, name_col: str) -> int:
    """Length of the longest common prefix shared by EVERY value of
    ``name_col`` — computed as lcp(min, max), one 1-row aggregate (the
    only driver round-trip in this module; payload is two strings)."""
    row = df.agg(F.min(name_col).alias("lo"), F.max(name_col).alias("hi")).first()
    lo, hi = row["lo"] or "", row["hi"] or ""
    p = 0
    limit = min(len(lo), len(hi))
    while p < limit and lo[p] == hi[p]:
        p += 1
    return p


def _seg_bounds(i: int, m: int, length: Column) -> tuple[Column, Column]:
    """Start offset (0-based) and length of segment ``i`` of ``m`` for a
    string of (dynamic) ``length`` — even partition, remainder spread by
    the floor arithmetic."""
    start = F.floor(length * i / m).cast("int")
    stop = F.floor(length * (i + 1) / m).cast("int")
    return start, stop - start


def segment_blocked_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    k: int = 2,
    coarse_key: str | None = None,
    strip_prefix: int | None = None,
    keep_names: bool = False,
) -> DataFrame:
    """All pairs ``(a, b)`` with ``levenshtein(name_a, name_b) <= k``
    (within the same ``coarse_key`` value, if one is given), generated
    via exact segment blocking instead of a quadratic block self-join.

    Returns ``(a, b, edit_dist)`` with ``a < b`` (plus ``name_a`` /
    ``name_b`` when ``keep_names``).  ``strip_prefix`` overrides the
    computed dataset common-prefix length (0 disables stripping).

    Plan shape: two narrow generate stages (segment / probe emission,
    ``array_distinct`` dedups within a row before the explode), one
    equi-join on ``(segment#, target-length, value [, coarse])``, one
    distinct on the candidate pairs, then the banded-levenshtein verify
    — every stage shuffles on keys whose cardinality grows with the
    data, never on a 25-value block id.
    """
    m = k + 1
    p = dataset_prefix_len(df, name_col) if strip_prefix is None else strip_prefix

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        F.substring(name_col, p + 1, _END).alias("__s"),
        *([F.col(coarse_key).alias("__ck")] if coarse_key else []),
    )
    length = F.length("__s")

    # Index side: the k+1 segments of each name's stripped suffix.
    seg_structs = []
    for i in range(m):
        start, seg_len = _seg_bounds(i, m, length)
        seg_structs.append(
            F.struct(
                F.lit(i).alias("i"),
                length.alias("tl"),
                F.col("__s").substr(start + 1, seg_len).alias("val"),
            )
        )
    index = base.select(
        F.col("__id").alias("__idx_id"),
        F.col("__name").alias("__idx_name"),
        *([F.col("__ck")] if coarse_key else []),
        F.explode(F.array_distinct(F.array(*seg_structs))).alias("__key"),
    )

    # Probe side: every substring that can equal segment i of a partner
    # whose suffix length differs by ≤ k, shifted by ≤ k positions.
    probe_structs = []
    for dl in range(-k, k + 1):
        target_len = length + dl  # the partner's (indexed) suffix length
        for i in range(m):
            start, seg_len = _seg_bounds(i, m, target_len)
            for d in range(-k, k + 1):
                s0 = start + d  # 0-based probe offset into OUR suffix
                feasible = (
                    (target_len >= 0)
                    & (s0 >= 0)
                    & (s0 + seg_len <= length)
                )
                probe_structs.append(
                    F.when(
                        feasible,
                        F.struct(
                            F.lit(i).alias("i"),
                            target_len.alias("tl"),
                            F.col("__s").substr(s0 + 1, seg_len).alias("val"),
                        ),
                    )
                )
    probe = base.select(
        F.col("__id").alias("__prb_id"),
        F.col("__name").alias("__prb_name"),
        *([F.col("__ck")] if coarse_key else []),
        F.explode(
            F.array_distinct(
                F.filter(F.array(*probe_structs), lambda x: x.isNotNull())
            )
        ).alias("__key"),
    )

    join_keys = ["__key"] + (["__ck"] if coarse_key else [])
    hit = index.join(probe, join_keys).filter(F.col("__idx_id") != F.col("__prb_id"))

    a_first = F.col("__idx_id") < F.col("__prb_id")
    cand = hit.select(
        F.least("__idx_id", "__prb_id").alias("a"),
        F.greatest("__idx_id", "__prb_id").alias("b"),
        F.when(a_first, F.col("__idx_name")).otherwise(F.col("__prb_name")).alias(
            "name_a"
        ),
        F.when(a_first, F.col("__prb_name")).otherwise(F.col("__idx_name")).alias(
            "name_b"
        ),
    ).distinct()

    dist = bounded_levenshtein("name_a", "name_b", k)
    out = cand.filter(dist >= 0).withColumn("edit_dist", dist.cast("int"))
    if not keep_names:
        out = out.select("a", "b", "edit_dist")
    return out


def coarse_blocked_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    k: int = 2,
    coarse_key: str | None = None,
    max_unblocked_rows: int = 10_000,
) -> DataFrame:
    """The baseline strategy: exhaustive verify within coarse-key blocks
    (self-equi-join on the coarse key; cross join when none).  O(Σ
    block²) — fine when blocks are small or names carry no segment
    entropy, fatal when one block holds most rows.

    GUARD: the no-``coarse_key`` arm is a true cross join, quadratic in
    the input.  It refuses (``ValueError``) when the input exceeds
    ``max_unblocked_rows`` (default 10⁴ → ≤10⁸ raw pairs) — at that
    point either supply a ``coarse_key`` or let
    :func:`blocking_cost_estimates` pick PassJoin segment blocking
    (:func:`passjoin_candidate_pairs`).  The count is one scalar
    aggregate; raise ``max_unblocked_rows`` explicitly to accept the
    quadratic cost on purpose."""
    lcols = [F.col(id_col).alias("a"), F.col(name_col).alias("name_a")]
    rcols = [F.col(id_col).alias("b"), F.col(name_col).alias("name_b")]
    if coarse_key:
        left = df.select(F.col(coarse_key).alias("__ck"), *lcols)
        right = df.select(F.col(coarse_key).alias("__ck"), *rcols)
        j = left.join(right, "__ck")
    else:
        n = df.count()
        if n > max_unblocked_rows:
            raise ValueError(
                f"coarse_blocked_pairs without coarse_key would cross-join "
                f"{n} rows (~{n * n:.0e} pairs; limit "
                f"{max_unblocked_rows}). Supply coarse_key, use PassJoin "
                f"segment blocking (passjoin_candidate_pairs), or raise "
                f"max_unblocked_rows to accept the quadratic cost."
            )
        j = df.select(*lcols).crossJoin(df.select(*rcols))
    dist = bounded_levenshtein("name_a", "name_b", k)
    return (
        j.filter(F.col("a") < F.col("b"))
        .filter(dist >= 0)
        .select("a", "b", dist.cast("int").alias("edit_dist"))
    )


def blocking_cost_estimates(
    df: DataFrame,
    name_col: str,
    k: int = 2,
    coarse_key: str | None = None,
    strip_prefix: int | None = None,
) -> tuple[int, int]:
    """(coarse_candidates, segment_candidates): the Σ block² pair-stream
    sizes each strategy would feed the levenshtein verify.  Both are one
    narrow scan + tiny hash-agg over key counts — the stats-collection
    step of a cost-based blocking choice (cardinalities, not guesses;
    at cluster scale this runs on a sample with identical decisions
    because only the RATIO matters)."""
    m = k + 1
    if coarse_key:
        coarse = (
            df.groupBy(coarse_key)
            .count()
            .agg(F.sum(F.col("count") * F.col("count")))
            .first()[0]
            or 0
        )
    else:
        n = df.count()
        coarse = n * n
    p = dataset_prefix_len(df, name_col) if strip_prefix is None else strip_prefix
    s = F.substring(name_col, p + 1, _END)
    length = F.length(s)
    segs = []
    for i in range(m):
        start, seg_len = _seg_bounds(i, m, length)
        segs.append(
            F.struct(
                F.lit(i).alias("i"), length.alias("tl"), s.substr(start + 1, seg_len).alias("val")
            )
        )
    key_cols = [F.explode(F.array(*segs)).alias("__key")] + (
        [F.col(coarse_key).alias("__ck")] if coarse_key else []
    )
    seg = (
        df.select(*key_cols)
        .groupBy(*["__key"] + (["__ck"] if coarse_key else []))
        .count()
        .agg(F.sum(F.col("count") * F.col("count")))
        .first()[0]
        or 0
    )
    return int(coarse), int(seg)


# Segment blocking pays a constant-factor toll the exhaustive join does
# not (the (2k+1)²·(k+1) probe generator, the candidate distinct): at
# sf0.1 on zero-entropy digit names — where both strategies feed the
# verify almost the same stream — segment ran ~3× slower (15.3 s vs
# 4.6 s warm).  auto picks segments only when the estimated stream
# shrinks by more than this factor, so it can only win.
_SEGMENT_OVERHEAD = 4


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    k: int = 2,
    coarse_key: str | None = None,
    strategy: str = "auto",
    strip_prefix: int | None = None,
) -> DataFrame:
    """Parameterized fuzzy-pair generation — THE blocking entry point.

    ``strategy``:
      * ``"coarse"``  — exhaustive verify within coarse-key blocks;
      * ``"segment"`` — exact pigeonhole segment blocking (±k shifts);
      * ``"auto"``    — cost-based choice: collect both strategies' Σ
        block² candidate estimates and take segments only when they cut
        the verify stream by > ``_SEGMENT_OVERHEAD``×.

    Every strategy returns the IDENTICAL ``(a, b, edit_dist)`` pair set
    (blocking here is exact, never recall-traded), so the choice is
    pure physical planning — the caller's oracle does not change."""
    if strategy == "auto":
        coarse_est, seg_est = blocking_cost_estimates(
            df, name_col, k=k, coarse_key=coarse_key, strip_prefix=strip_prefix
        )
        strategy = (
            "segment" if seg_est * _SEGMENT_OVERHEAD < coarse_est else "coarse"
        )
    if strategy == "segment":
        return segment_blocked_pairs(
            df, id_col, name_col, k=k, coarse_key=coarse_key, strip_prefix=strip_prefix
        )
    if strategy == "coarse":
        return coarse_blocked_pairs(df, id_col, name_col, k=k, coarse_key=coarse_key)
    raise ValueError(f"unknown blocking strategy: {strategy!r}")


# ---------------------------------------------------------------------------
# Shared staged fuzzy-pair stream (one materialization, many consumers)
# ---------------------------------------------------------------------------


def staged_fuzzy_pairs(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    name_col: str,
    k: int = 2,
    coarse_key: str | None = None,
    strategy: str = "auto",
    stage_key: str = "",
) -> DataFrame:
    """The fuzzy-pair stream ``candidate_pairs`` produces, materialized
    ONCE per (session, stage_key) and shared by every consumer — the
    warehouse staging-table pattern the round-2 audit asked for: five
    ER queries (pairs, clusters, components, golden records, survivors)
    reuse one pair computation instead of five.

    ``localCheckpoint`` (not ``persist``): consumers symmetrize the
    pair frame into a union whose expr-id rewrite breaks cache-plan
    canonicalization — with ``persist`` the expensive pair join silently
    re-ran inside the union (measured +8 s at sf0.1, round 2); a
    checkpoint truncates lineage so recompute is impossible by
    construction.  On a multi-node cluster, swap for ``checkpoint`` on
    shared storage (or a staging parquet write) for fault tolerance.
    """
    from ..plans.staging_meter import stage

    return stage(
        spark,
        f"fuzzy_pairs|{stage_key}|{k}|{coarse_key}|{strategy}",
        lambda: candidate_pairs(
            df, id_col, name_col, k=k, coarse_key=coarse_key, strategy=strategy
        ),
    )
