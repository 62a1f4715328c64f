"""CI gate for the EXTRA catalog queries (outside ``DRIVER_SLOTS``).

The driver's correctness gate verifies the first 50 entries of
``queries()`` (the ``catalog.DRIVER_SLOTS`` names); every other query is
verified HERE with exactly the driver-mimicking comparison
from tools/check_oracle.py (row count, sorted columns, type-sensitive
order-insensitive value hash vs the DuckDB oracle).  This keeps every
catalog entry under an automated cross-engine check even when it does
not occupy one of the driver's 50 slots.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "check_oracle.py",
    ),
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _extra_names():
    # all_catalogs is the single auto-discovery registry (ADVICE r5
    # item 3) — the earlier hardcoded import list here froze the
    # parametrization at the catalogs known in round 5, so every later
    # tier's queries were silently missing from this file's CI and
    # coverage depended on pytest's collection ORDER (round-7 find).
    from beacon_data_importer_spark import all_catalogs as catalog

    return sorted(set(catalog.QUERIES) - set(catalog.DRIVER_SLOTS))


def test_registered_query_count_is_at_most_50():
    import __spark_entry__ as entry
    from beacon_data_importer_spark import all_catalogs as catalog

    assert len(catalog.DRIVER_SLOTS) == 50, "the driver gate checks 50 slots"
    unknown = set(catalog.DRIVER_SLOTS) - set(catalog.QUERIES)
    assert not unknown, f"DRIVER_SLOTS names no registered query: {unknown}"
    assert set(catalog.ORACLES) == set(catalog.QUERIES), "every query has an oracle"
    assert set(list(entry.queries())[:50]) == set(catalog.DRIVER_SLOTS)


@pytest.fixture(scope="module")
def spark_results(spark):
    """name → pandas frame (or the raised exception) for every extra
    query, computed ONCE per module: plan construction runs serially
    (queries may createOrReplaceTempView shared table names — catalog
    mutation must not race — and spark.sql/DataFrame analysis resolves
    views eagerly, so a built plan no longer reads the view registry),
    then the embarrassingly-parallel EXECUTION fans out over 8 threads
    (concurrent actions on one SparkSession are supported).  Halves
    the suite's dominant cost block (VERDICT r6 item 8) while keeping
    one pytest row per query."""
    import concurrent.futures

    from beacon_data_importer_spark import all_catalogs as catalog

    built = {}
    for n in _extra_names():
        try:
            built[n] = catalog.QUERIES[n](spark, SF_DIR)
        except Exception as ex:  # surfaced by that query's own test
            built[n] = ex

    def run(n):
        if isinstance(built[n], Exception):
            return built[n]
        try:
            return built[n].toPandas()
        except Exception as ex:
            return ex

    with concurrent.futures.ThreadPoolExecutor(8) as pool:
        futs = {n: pool.submit(run, n) for n in built}
        return {n: f.result() for n, f in futs.items()}


@pytest.mark.parametrize("name", _extra_names())
def test_extra_query_matches_oracle(spark, duck, spark_results, name):
    from beacon_data_importer_spark import catalog

    spdf = spark_results[name]
    if isinstance(spdf, Exception):
        raise spdf
    dpdf = duck.execute(catalog.ORACLES[name]).df()

    assert len(spdf) == len(dpdf), f"{name}: rowcount {len(spdf)} != {len(dpdf)}"
    assert sorted(spdf.columns) == sorted(dpdf.columns), f"{name}: schema"
    sh, slines = check_oracle.frame_digest(spdf)
    dh, dlines = check_oracle.frame_digest(dpdf)
    if sh != dh:
        diff = [(a, b) for a, b in zip(slines, dlines) if a != b][:3]
        pytest.fail(f"{name}: value hash mismatch; first diffs {diff}")
