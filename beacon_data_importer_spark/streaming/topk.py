"""Streaming Misra-Gries heavy-hitter state: per-micro-batch exact
counts merged into a k-bounded counter snapshot — the frequency twin
of the HLL/theta DISTINCT states in streaming/sketches.py.

Why this shape: a 100 TB stream cannot keep exact per-item counts (the
item domain grows with the data); the Misra-Gries summary stores at
most K counters plus one error scalar, and merging is
(sum counters) → (subtract the (K+1)-th largest) → (drop ≤ 0), which
keeps the invariant  stored ≤ true ≤ stored + err  for every item
(Agarwal et al., "Mergeable Summaries", PODS'12).

EXACTNESS CONTRACT (weaker than HLL/theta, stated honestly): MG
merging is NOT order-independent — the streamed summary depends on the
micro-batch sequence, so the parity test asserts (a) the streamed
state equals a batch-side fold over the SAME slice sequence
bit-for-bit, and (b) the MG bound holds against exact counts.  It does
NOT assert stream == one-pass batch (no such theorem exists).

Storage, commit and replay are ``streaming/versioned.py``'s, with
``merge_counts`` as the step.  Snapshot schema: (user_id BIGINT, cnt
BIGINT, err BIGINT) with err constant across rows (the summary's error
scalar, replicated for a flat parquet schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K = 32


def batch_counts(batch_df: DataFrame) -> DataFrame:
    """Exact per-user event counts for one slice: (user_id, cnt)."""
    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def mg_compress(
    counters: DataFrame, prev_err: int
) -> tuple[list, int]:
    """Compress a counter frame to ≤ K survivors.

    Returns (survivor Rows, new err).  The (K+1)-th largest count by
    (cnt DESC, user_id) is the decrement; survivors keep cnt − offset
    where that stays positive.  Top-(K+1) is TakeOrderedAndProject —
    scale-safe however wide the input counter frame is — and the
    survivors are a BOUNDED (≤ K+1 row) collect."""
    top = counters.orderBy(F.desc("cnt"), "user_id").limit(K + 1).collect()
    if len(top) <= K:
        return top, prev_err
    offset = top[-1].cnt
    survivors = [r for r in top[:K] if r.cnt - offset > 0]
    return (
        [type(r)(user_id=r.user_id, cnt=r.cnt - offset) for r in survivors],
        prev_err + offset,
    )


def merge_counts(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
    """The MG ``versioned.merge`` step: sum the ≤ K previous counters (a
    broadcast-small frame) with the slice's exact counts, re-compress."""
    counts = batch_counts(batch)
    prev_err = 0
    if prev is not None:
        prev_err = prev.select(F.max("err")).collect()[0][0] or 0
        counts = (
            prev.select("user_id", "cnt")
            .unionByName(counts)
            .groupBy("user_id")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
    rows, err = mg_compress(counts, prev_err)
    return batch.sparkSession.createDataFrame(
        [(r.user_id, r.cnt, err) for r in rows],
        "user_id bigint, cnt bigint, err bigint",
    )


def heavy_hitters(snapshot: DataFrame) -> DataFrame:
    """(user_id, cnt_lo, cnt_hi) from a stored snapshot: the MG bound is
    cnt_lo ≤ true ≤ cnt_hi."""
    return snapshot.select(
        "user_id",
        F.col("cnt").alias("cnt_lo"),
        (F.col("cnt") + F.col("err")).alias("cnt_hi"),
    )
