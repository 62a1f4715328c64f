"""Co-purchase graph staging plan: ONE sparse edge list shared by the
graph-analytics consumers.

Same pattern (and rationale) as ``plans/corpus_lsh.py`` / ``plans/
er.py``: ``triangle_count`` and ``bfs_hops`` each rebuilt the customer
co-purchase projection — the dominant cost of both queries is the
per-part pair expansion (~8.7M intermediate rows at sf0.1), not the
graph algorithm on the resulting 15k edges.  This module materializes
the thresholded edge list once per (session, sf_dir); consumers pay
the algorithm's marginal cost only.

At warehouse scale the edge list IS a table the pipeline writes once
per graph build; the ``localCheckpoint`` is the local stand-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import read_table
from .staging_meter import stage

#: minimum shared distinct parts for a customer pair to form an edge
#: (the sparsity knob triangle_count established: ≥3 gives 14.8k edges
#: over 10k nodes at sf0.1 where the supplier projections are cliques)
MIN_SHARED = 3


def co_purchase_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (a < b) customer co-purchase edge list with
    ``MIN_SHARED``-part thresholding AND the shared-part count kept as
    an edge attribute (``a``, ``b``, ``shared``), staged once per
    session and scale factor.  The unweighted consumers project it
    away; weighted-graph consumers (``weighted_sssp``) derive integer
    edge costs from ``shared`` — one pair expansion serves both."""

    def build() -> DataFrame:
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders")
        # r11 optimization round (guide §2.3/§4.2): the per-part pair
        # expansion used to be a p-keyed SELF-JOIN whose ~9M-row output
        # went straight into the (a, b) aggregate exchange.  It is now
        # ONE p-keyed exchange (explicit width — AQE-exempt, keeps the
        # CPU-heavy expansion parallel) feeding distinct + collect_list
        # with no further shuffle, then an Arrow kernel that emits each
        # part's C(m,2) ordered pairs pre-combined per batch (np.unique
        # with counts), so the final (a, b) aggregate shuffles partial
        # COUNTS, not the raw pair stream.  Exact integers end-to-end,
        # same (a, b, shared) multiset — A/B-verified identical at
        # sf0.1; 12.5 s → 6.6 s (same host, median of 3).
        width = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
        )
        pos = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(
                F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
            )
            .repartition(width, "p")
            .distinct()
        )
        from ..operators.pairgen import posting_pair_counts

        return (
            posting_pair_counts(pos, "p", "c", repartition=False)
            .select("a", "b", F.col("i").alias("shared"))
            .filter(F.col("shared") >= MIN_SHARED)
        )

    return stage(spark, f"co_purchase_edges|{sf_dir}", build)


def co_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (a < b) customer co-purchase edge list with
    ``MIN_SHARED``-part thresholding, staged once per session and
    scale factor."""
    return co_purchase_edges_weighted(spark, sf_dir).select("a", "b")
