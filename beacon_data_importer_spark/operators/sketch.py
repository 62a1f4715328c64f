"""Sketch-based approximate aggregation (SURVEY §7.5 "novel sketch"
tier): HyperLogLog distinct counts and approximate quantiles.

These are the operators that replace exact shuffles with mergeable
fixed-size state at 100 TB:
  * exact count_distinct shuffles every distinct key; an HLL sketch is
    a few KB per group, merged map-side — shuffle O(groups × sketch),
    independent of key cardinality.  Spark's ``hll_sketch_agg`` is the
    Apache DataSketches HLL; ``hll_sketch_estimate`` reads it, and
    ``hll_union_agg`` merges sketches across frames — the
    re-aggregatable rollup pattern (daily sketches → monthly counts
    without rescanning).
  * exact percentiles need a full sort per group; ``percentile_approx``
    (GK sketch) bounds error by the accuracy knob with bounded memory.

No DuckDB oracles: a sketch's estimate is engine-specific by design, so
cross-engine value equality is the wrong check.  Tests bound the
relative error against exact answers instead (tests/test_r2_operators.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group approximate distinct count via a DataSketches HLL
    sketch (lg_k=12 → ~1.6% RSE, 4 KB state).  Output: group cols +
    ``approx_distinct`` (bigint)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(value_col), F.lit(lg_k))
        ).alias("approx_distinct")
    )


def distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketches as reusable binary state (the rollup
    building block — union later with ``merge_distinct_sketches``)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def merge_distinct_sketches(
    sketches: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Re-aggregate pre-built sketches to a coarser grouping without
    touching the raw data: union the binaries, then estimate."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "approx_distinct"
        )
    )


def approx_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate quantiles (Greenwald-Khanna): rank error
    ≤ 1/accuracy with O(accuracy · log n) state per group — no per-group
    sort.  Output: group cols + ``q`` (array<double>)."""
    return df.groupBy(*group_cols).agg(
        F.percentile_approx(
            F.col(value_col),
            F.array(*[F.lit(p) for p in probabilities]),
            F.lit(accuracy),
        ).alias("q")
    )


def approx_heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Approximate top-k heavy hitters (Spark 4 ``approx_top_k``,
    space-saving style: bounded ``max_items_tracked`` state regardless
    of cardinality — the stream-summary structure that makes "top
    tokens over 100 TB" a single bounded aggregation instead of a full
    count-all-then-sort).

    When the input's distinct count fits inside ``max_items_tracked``
    the counts are EXACT (the test pins this); past capacity they are
    upper-bound estimates, like every space-saving sketch.  Output:
    (item, cnt) rows re-sorted deterministically (cnt desc, item asc) —
    the sketch's own tie order is unspecified.

    Engine-specific estimates → no DuckDB oracle of their own, as for
    the HLL/GK sketches (``heavy_hitters_audit`` referees them against
    the exact top-k).
    """
    sk = df.agg(
        F.expr(
            f"approx_top_k({value_col}, {int(k)}, {int(max_items_tracked)})"
        ).alias("__tk")
    )
    return (
        sk.select(F.explode("__tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), F.col("item"))
    )
