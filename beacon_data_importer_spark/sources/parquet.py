"""Parquet scan layer for the driver's testdata star schema.

Parquet is the engine's primary columnar source: Catalyst pushes filters
and column pruning into the FileScan (``PushedFilters`` / ``ReadSchema``
in ``.explain``), and partition pruning applies when the layout is
partitioned.  Nothing here fights that — scans stay declarative.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (lazy; pruning/pushdown handled by Catalyst).

    The ``events`` table is written with TIMESTAMP(NANOS) parquet, which
    Spark reads as nano-longs under ``nanosAsLong``; the scan layer
    converts back to a microsecond timestamp (integer div — exact; double
    division would lose precision above 2^53 nanos)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: memoized scan split counts per session: {(sf_dir, table): n_splits}.
#: Input-LAYOUT metadata (how many splits the file scan produces), not
#: query results — recomputed per session, never persisted.
_SPLITS: "WeakKeyDictionary[SparkSession, dict[tuple[str, str], int]]" = (
    WeakKeyDictionary()
)

#: repartition keys for the two CPU-heavy per-row tables
_PARALLEL_KEY = {"documents": "doc_id", "embeddings": "vec_id"}


def _scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of input splits the scan of one table produces (memoized
    per session — one driver-side plan conversion per (sf_dir, table))."""
    per_session = _SPLITS.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in per_session:
        per_session[key] = spark.read.parquet(
            f"{sf_dir}/{name}.parquet"
        ).rdd.getNumPartitions()
    return per_session[key]


def read_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, n: int | None = None
) -> DataFrame:
    """Scan one table, repartitioned to the core count ONLY when the
    source is under-split (fewer scan splits than cores).

    The local testdata is one single-row-group parquet file per table
    (one input split), which would serialize scan-side CPU — regex /
    shingle folds over text, cosine folds over vectors — onto a single
    core; the explicit repartition keeps that work on every core and is
    AQE-exempt.  At warehouse scale the source has many splits, the
    gate sees splits >= cores, and NO Exchange is inserted (r12 round:
    the r11 form repartitioned unconditionally, which at 100 TB would
    shuffle the full column-pruned table ahead of every consumer).
    ``n`` (default: the core count) is the repartition TARGET for an
    under-split source, and the threshold the gate compares against:
    a source with fewer than ``n`` splits is repartitioned to exactly
    ``n`` partitions (Python-batched operators pass a small ``n`` —
    per-partition Arrow/worker overhead dominates small inputs).  It is
    not a cap: a source with ``n`` or more splits keeps its own
    partitioning, because the split gate wins — never shuffle a
    many-split table just to narrow it (the 100 TB posture).  Per-row
    values are partitioning-invariant, so results are unchanged either
    way (oracle-gated).
    """
    if name not in _PARALLEL_KEY:
        raise ValueError(
            f"no repartition key for table {name!r}; "
            f"read_table_parallel knows {sorted(_PARALLEL_KEY)}"
        )
    df = read_table(spark, sf_dir, name)
    target = n or spark.sparkContext.defaultParallelism
    if _scan_splits(spark, sf_dir, name) >= target:
        return df
    return df.repartition(target, _PARALLEL_KEY[name])


def register_views(
    spark: SparkSession, sf_dir: str, *tables: str
) -> None:
    """Register temp views for SQL-dialect catalog queries — the ONE
    shared implementation of the per-module ``_views`` helpers (r12:
    was 35 identical clones).  ``documents``/``embeddings`` route
    through the split-gated parallel scan above."""
    for t in tables:
        if t in _PARALLEL_KEY:
            df = read_table_parallel(spark, sf_dir, t)
        else:
            df = read_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
