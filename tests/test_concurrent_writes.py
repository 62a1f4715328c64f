"""`session.run_concurrently`, the one way the package runs Spark actions
at once, and its two callers: the `prepare-calls` CSV sinks and the
`run_import` table writes (the latter in `test_import_stage.py`)."""

from __future__ import annotations

import ast
import glob
import os
import sys
import time

import pytest
from pyspark import TaskContext

from beacon_data_importer_spark import cli
from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
from beacon_data_importer_spark.session import run_concurrently
from beacon_data_importer_spark.sources.csv import write_csv_file

import fixtures

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "beacon_data_importer_spark")


def _after(seconds: float, value):
    def action():
        time.sleep(seconds)
        return value
    return action


def test_results_come_back_in_submission_order(spark):
    assert run_concurrently([_after(0.3, "a"), _after(0.0, "b"), _after(0.1, "c")]) \
        == ["a", "b", "c"]
    assert run_concurrently([]) == []
    # more threads than cores, switching often: no result lands in
    # another action's slot
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert run_concurrently([_after(0.0, i) for i in range(32)]) == list(range(32))
    finally:
        sys.setswitchinterval(interval)


def test_every_action_finishes_and_the_first_failure_is_raised(spark):
    """The first failure in submission order wins, not the first in
    time, and the other actions still run to the end."""
    done = []

    def fail(seconds: float, msg: str):
        def action():
            time.sleep(seconds)
            raise ValueError(msg)
        return action

    def slow_ok():
        time.sleep(0.3)
        done.append("slow")

    with pytest.raises(ValueError, match="first"):
        run_concurrently([slow_ok, fail(0.2, "first"), fail(0.0, "second")])
    assert done == ["slow"]


def test_caller_job_description_reaches_the_actions_jobs(spark):
    sc = spark.sparkContext

    def description():
        return spark.sparkContext.parallelize([0], 1).map(
            lambda _: TaskContext.get().getLocalProperty("spark.job.description")
        ).collect()

    sc.setJobDescription("concurrent-probe")
    try:
        got = run_concurrently([description, description])
    finally:
        sc.setJobDescription(None)
    assert got == [["concurrent-probe"], ["concurrent-probe"]]


def test_prepare_calls_cli_matches_serial_sinks(spark, tmp_path):
    """The CLI's concurrent sinks write the same bytes as one
    `write_csv_file` per frame, one after another."""
    calls_csv = str(tmp_path / "calls.csv")
    fixtures.write_calls_csv(calls_csv)
    out = tmp_path / "out"
    assert cli.main(["prepare-calls", calls_csv, "-o", str(out),
                     "-fnu", "101", "-cnu", "102", "-snu", "103", "-clru", "104"]) == 0

    serial = tmp_path / "serial"
    serial.mkdir()
    outputs = prepare_calls(spark, calls_csv, CallsUsers(101, 102, 103, 104))
    for name, df in outputs.items():
        write_csv_file(df, str(serial / f"{name}.csv"))
    assert len(outputs) == 7
    assert sorted(os.listdir(out)) == sorted(f"{n}.csv" for n in outputs)
    for name in outputs:
        assert (out / f"{name}.csv").read_bytes() == (serial / f"{name}.csv").read_bytes(), name


def test_threads_start_only_in_run_concurrently():
    """Ratchet: `run_concurrently` is the package's one way to run work
    on several threads.  No ``ThreadPoolExecutor``, ``concurrent.futures``
    or ``threading.Thread`` appears anywhere else (locks are fine)."""
    found = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        allowed = set()
        if rel == "session.py":
            helper = next(f for f in tree.body if isinstance(f, ast.FunctionDef)
                          and f.name == "run_concurrently")
            allowed = {id(n) for n in ast.walk(helper)}
        for node in ast.walk(tree):
            if id(node) in allowed:
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [node.module or ""] if isinstance(node, ast.ImportFrom) else []
                names += [a.name for a in node.names]
                hit = [n for n in names if n.startswith("concurrent.futures")
                       or n in ("concurrent", "ThreadPoolExecutor", "Thread")]
            elif isinstance(node, (ast.Attribute, ast.Name)):
                text = ast.unparse(node)
                hit = [text] if text.split(".")[-1] == "ThreadPoolExecutor" or text in (
                    "threading.Thread", "Thread") else []
            else:
                hit = []
            found += [f"{rel}:{node.lineno}: {h}" for h in hit]
    assert not found, f"{len(found)} thread starts outside run_concurrently: {found}"
