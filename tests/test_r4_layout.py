"""Physical-plan guards for the round-4 data-layout tier: the layout
queries must not only return correct rows (the oracle gate proves that)
but produce the plan SHAPE that justifies their existence — a bucketed
join with no shuffle on the join key, a partitioned scan that prunes at
planning time, a Z-order layout that actually prunes files for a
two-dimensional box where a linear sort cannot.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r4  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange_on_the_join_key(spark, sf_dir):
    # Broadcast is the right plan at toy scale; disable it so the
    # layout claim under test — bucketing replaces the join shuffle —
    # becomes visible as a SortMergeJoin with no Exchange below it.
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        with _conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"):
            plan = _executed_plan(QUERIES["bucketed_join"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    # the only allowed exchange is the post-join nationkey aggregation
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "c_nationkey" in line, f"join-key shuffle survived: {line}"


def test_partitioned_scan_prunes_at_planning_time(spark, sf_dir):
    df = QUERIES["partitioned_scan_prune"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "PartitionFilters: [" in plan
    # the source predicate must be a partition filter, not a data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "source" in pf, plan
    import re

    assert "IN (src1,src7,src12)" in re.sub(r"#\d+", "", pf), pf
    # column pruning rides along: the scan must not read the text column
    rs = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "text" not in rs, rs


def test_zorder_prunes_where_linear_sort_cannot(spark, sf_dir):
    from beacon_data_importer_spark.catalog_r4 import (
        _Z_BOX,
        _Z_FILES,
        q_zorder_layout,
    )
    from beacon_data_importer_spark.sources.parquet import read_table
    from pyspark.sql import Window

    rows = QUERIES["zorder_layout"](spark, sf_dir).collect()
    assert len(rows) == _Z_FILES
    z_scanned = sum(1 for r in rows if r["scanned_for_box"])
    assert 0 < z_scanned < _Z_FILES, "Z-order layout prunes nothing"

    # baseline: same files, linearly sorted on x only — every file's y
    # envelope spans the whole domain, so the y-stripe cannot prune and
    # only the x-stripe does.
    x_lo, x_hi, y_lo, y_hi = _Z_BOX
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    mask = (1 << 16) - 1
    pts = o.select(
        F.col("o_custkey").bitwiseAND(mask).alias("x"),
        day_no.bitwiseAND(mask).alias("y"),
        "o_orderkey",
    )
    w = Window.orderBy("x", "o_orderkey")
    filed = pts.select("x", "y", F.ntile(_Z_FILES).over(w).alias("file_id"))
    base = (
        filed.groupBy("file_id")
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .collect()
    )
    x_scanned = sum(
        1
        for r in base
        if r["min_x"] <= x_hi
        and r["max_x"] >= x_lo
        and r["min_y"] <= y_hi
        and r["max_y"] >= y_lo
    )
    assert z_scanned <= x_scanned, (z_scanned, x_scanned)


def test_global_ntile_matches_window_ntile(shuffle4, spark):
    """operators/order.py global_ntile must equal ntile() OVER for
    divisible and non-divisible totals, under any input order.  Runs
    at 4 shuffle partitions (shuffle4 fixture) so the cross-partition
    boundary math is the path under test."""
    from beacon_data_importer_spark.operators.order import global_ntile
    from pyspark.sql import Window

    for total, n in ((1000, 8), (1003, 8), (37, 5), (5, 7)):
        df = (
            spark.range(total)
            .select(
                (F.col("id") * 2654435761 % 1000003).alias("key"),
                F.col("id").alias("tie"),
            )
            .repartition(7)
        )
        got = {
            (r.key, r.tie): r["__ntile"]
            for r in global_ntile(df, n, ["key", "tie"]).collect()
        }
        want = {
            (r.key, r.tie): r.nt
            for r in df.select(
                "key",
                "tie",
                F.ntile(n).over(Window.orderBy("key", "tie")).alias("nt"),
            ).collect()
        }
        assert got == want, (total, n)


def test_concurrent_layout_staging_is_safe(spark, sf_dir):
    """Four threads invoking the bucketed-join query concurrently from
    a COLD staging cache must all succeed with identical results — the
    staging lock serializes the one-time table write instead of racing
    overwrites of the same tables."""
    import threading

    # a new session shares the context but not the staging cache
    cold = spark.newSession()
    results, errors = [], []

    def run():
        try:
            rows = sorted(
                map(tuple, QUERIES["bucketed_join"](cold, sf_dir).collect())
            )
            results.append(rows)
        except Exception as e:  # noqa: BLE001 — surfacing into the assert
            errors.append(repr(e))

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(results) == 4 and all(r == results[0] for r in results)
    assert len(results[0]) > 0


_RESTART_SCRIPT = """
import json, sys
from beacon_data_importer_spark import catalog_r4, catalog_r5l  # noqa: F401
from beacon_data_importer_spark.catalog import QUERIES
from beacon_data_importer_spark.session import get_spark

out = []
for _ in range(2):
    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false"})
    out.append({
        q: sorted(map(list, QUERIES[q](spark, sys.argv[1]).collect()))
        for q in ("bucketed_join", "xml_roundtrip")
    })
    spark.stop()
print(json.dumps(out, default=str))
"""


def test_layout_staging_survives_session_restart(tmp_path, sf_dir):
    """Staged layouts live as long as the session that built them: a
    stopped-and-rebuilt session restages instead of reading tables its
    catalog no longer has, and a finished process leaves no bucketed
    table in the warehouse dir and no stage dir in the temp dir."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        PYTHONPATH=repo,
        TMPDIR=str(tmp),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, os.path.abspath(sf_dir)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first == second and all(first.values())
    warehouse = tmp_path / "spark-warehouse"
    left = sorted(p.name for p in warehouse.glob("r4_*"))
    assert not left, left
    stray = [
        p.name
        for p in tmp.iterdir()
        if p.name.startswith(("spark_graft_stage_", "r4_"))
    ]
    assert not stray, stray
