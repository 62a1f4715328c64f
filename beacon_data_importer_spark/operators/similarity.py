"""Similarity search over embedding columns (north-star extension,
SURVEY §7.5).

Two tiers:
  * ``cosine_topk`` — exact brute-force top-k against a bounded query
    set.  The query side is broadcast; the corpus side streams.  This is
    the correctness baseline and is linear in corpus size — fine for one
    query over 100 TB (a full scan), wrong for all-pairs.
  * ``ivf_topk`` — IVF-style pruning: vectors are pre-assigned to their
    nearest centroid (a bounded, broadcast centroid table); a query
    probes only the closest ``nprobe`` cells, cutting the scanned
    fraction to ~nprobe/num_cells.  Centroids here are caller-provided
    (at real scale they come from a sampled k-means; deterministic
    selection keeps the oracle checkable).

All vector math is native array expressions (``zip_with`` products,
``aggregate`` sums) — JVM codegen, no Python, float→double exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right dot product (associativity matches a SQL
    engine's list_dot_product loop, so oracles agree bitwise)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for EACH query vector (k rows per query_id).

    ``query`` must be bounded (it is broadcast).  Per-query ranking via
    ``row_number() OVER (PARTITION BY query_id ORDER BY sim DESC,
    neighbor_id)`` — a global sort-limit would return k rows TOTAL,
    dominated by one query (the round-1 latent bug).  The window's
    shuffle is keyed on query_id; with map-side partial top-k this is
    the standard distributed k-NN shape: each partition contributes its
    candidates, the per-query reducer keeps k.
    """
    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        )
    )
    # Similarities surface as exact micro-units (floor(sim*1e6)): engine
    # round() tie-rules differ at representation boundaries, floor of a
    # bitwise-identical double does not.  Ordering uses the raw double.
    raw = cosine(vec_col, "__qvec")
    scored = corpus.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        raw.alias("__raw"),
        F.floor(raw * 1e6).alias("cosine_sim_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__raw", "__rn")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cell_id",
    centroid_vec: str = "centroid",
) -> DataFrame:
    """IVF build step: tag each corpus vector with its nearest centroid.

    Map-only formulation: the bounded centroid table is collapsed to ONE
    broadcast row holding a cell_id-sorted array of (cid, cvec) structs;
    each corpus row scores every cell with a single ``transform`` (one
    cosine per cell) and folds to the argmax.  Zero shuffle — the
    earlier crossJoin + ``row_number()`` window shuffled corpus × cells
    rows (embedding payloads included) just to pick one per vector;
    measured ~2× faster on a 100k×20-cell probe locally and the shuffle
    saving is the real win at cluster scale
    (PERF.md, "Design rules by operator class").  Tie-break matches
    the window form: highest similarity, then lowest cell_id
    (ascending-cid fold with a strict ``>`` keeps the earlier cell on
    ties).

    Output: corpus columns + cell_id + cell_sim_e6.
    """
    packed = F.broadcast(
        centroids.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(centroid_id).alias("cid"),
                        F.col(centroid_vec).alias("cvec"),
                    )
                )
            ).alias("__cells")
        )
    )
    with_cells = corpus.crossJoin(packed).withColumn("__vn", norm(vec_col))

    def cell_sim(c: Column) -> Column:
        # Same association as `cosine`: dot / (corpus_norm * cell_norm),
        # so micro-unit floors agree bitwise with the SQL oracle.
        return dot(F.col(vec_col), c["cvec"]) / (
            F.col("__vn") * F.sqrt(dot(c["cvec"], c["cvec"]))
        )

    scored = F.transform(
        F.col("__cells"),
        lambda c: F.struct(cell_sim(c).alias("sim"), c["cid"].alias("cid")),
    )
    # -2.0 is below any cosine, so the first real cell always replaces
    # the init; the init cid never surfaces (it only fixes the type).
    init = F.struct(
        F.lit(-2.0).alias("sim"),
        F.element_at(F.col("__cells"), 1)["cid"].alias("cid"),
    )
    best = F.aggregate(
        scored,
        init,
        lambda acc, s: F.when(s["sim"] > acc["sim"], s).otherwise(acc),
    )
    return (
        with_cells.withColumn("__best", best)
        .withColumn(centroid_id, F.col("__best")["cid"])
        .withColumn("cell_sim_e6", F.floor(F.col("__best")["sim"] * 1e6))
        .drop("__cells", "__vn", "__best")
    )
