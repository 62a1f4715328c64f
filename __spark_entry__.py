"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The queries themselves live in ``beacon_data_importer_spark.catalog``
(reference surface, SURVEY §2) and ``catalog_ext`` (training-data
extensions); this module just exposes the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# all_catalogs auto-discovers and imports every catalog_* module in the
# package (sorted), so new catalog tiers register here, in cli.py, and
# in the tools from one place (ADVICE r5 item 3).
import beacon_data_importer_spark.all_catalogs as _catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the Q3-shaped
    join+agg+top-k (customer ⋈ orders ⋈ lineitem with broadcast dim,
    exact integer revenue)."""
    return _catalog.QUERIES["top_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions).

    The ``DRIVER_SLOTS`` names (``catalog.py``) come first, then every
    other query; both groups keep registration order.  The driver's gate
    checks the first 50 rows, and the extras are verified by
    tests/test_extra_queries and tools/check_oracle.py."""
    slots = set(_catalog.DRIVER_SLOTS)
    return dict(sorted(_catalog.QUERIES.items(), key=lambda kv: kv[0] not in slots))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query, in ``queries()`` order."""
    return {n: _catalog.ORACLES[n] for n in queries()}
