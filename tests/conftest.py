from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(REPO, "tools", "check_oracle.py")
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(scope="session")
def spark():
    from beacon_data_importer_spark.session import get_spark

    # local[8] (not the engine's local[32] default): at sf0.001 every
    # stage is tiny, so per-job cost is task SCHEDULING, not compute —
    # 32 threads schedule 32 no-op tasks per scan stage across the
    # suite's ~2000 jobs.  8 threads keep genuine parallelism for the
    # handful of heavier tests while cutting the fixed overhead
    # (VERDICT r6 item 8: suite wall ≤ 10 min).  Results are
    # partitioning-independent by construction (the oracle tests
    # assert exactly that).  A 4g driver (the benchmark's heap) instead
    # of the engine's 8g default: sf0.001 needs little heap, and an 8g
    # JVM grows to over 9 GB resident over the suite.
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=1,
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.driver.memory": "4g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def shuffle4(spark):
    """Multi-partition shuffle for the global-order operator tests.

    ADVICE r7: the session default shuffle_partitions=1 (suite-wall
    device) means global_rank / global_running_sum / global_ntile —
    which derive their range-partition count from this conf — would
    run single-partition everywhere, leaving their cross-partition
    offset/prefix-sum machinery (the code they exist for) untested
    between driver rounds.  The dedicated operator tests take this
    fixture so that machinery keeps per-commit CI at 4 partitions."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def duck():
    con = check_oracle.duck_views(SF_DIR)
    yield con
    con.close()


def oracle_gate_results(request, spark, test_name: str) -> dict:
    """name → pandas frame (or the raised exception) for the queries
    pytest selected as ``test_name[<name>]``, so one selected ID runs
    one query.  Plans are built serially (queries may
    createOrReplaceTempView shared table names, and spark.sql resolves
    views eagerly, so a built plan no longer reads the view registry);
    then the independent executions fan out over 8 threads (concurrent
    actions on one SparkSession are supported)."""
    import concurrent.futures

    from beacon_data_importer_spark import all_catalogs as catalog

    names = sorted(
        {
            item.callspec.params["name"]
            for item in request.session.items
            if getattr(item, "originalname", None) == test_name
        }
    )
    built = {}
    for n in names:
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


def assert_matches_oracle(spark_results: dict, duck, name: str) -> None:
    """The driver-mimicking gate for one query: ``check_oracle.compare``
    of its Spark result against its DuckDB oracle."""
    from beacon_data_importer_spark import catalog

    spdf = spark_results[name]
    if isinstance(spdf, Exception):
        raise spdf
    dpdf = duck.execute(catalog.ORACLES[name]).df()
    problems = check_oracle.compare(spdf, dpdf)
    assert not problems, f"{name}: " + "; ".join(problems)
