"""The per-query bench harness (bench.py), its payload comparison
(tools/bench_compare.py), and the rule that Spark's REST API is read
only through perfbench/spans.py."""

from __future__ import annotations

import importlib.util
import json
import math
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_bench_profiles_each_requested_query(sf_dir):
    """bench.py as a subprocess (it needs the Spark UI, which the test
    session disables) on two queries, writing no payload file."""
    names = ["top_revenue", "first_wins_dedup"]
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY=",".join(names),
        SPARK_GRAFT_BENCH_OUT="",
        SPARK_GRAFT_CPUS="4",
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])

    assert set(payload["queries"]) == set(payload["queries_warm"]) == set(names)
    assert payload["n_queries"] == len(names)
    assert set(payload["profile"]) == set(names)
    for name, p in payload["profile"].items():
        assert p["jobs"] >= 1 and p["tasks"] >= 1, (name, p)
        assert p["stages"] >= 1 and p["input_b"] > 0, (name, p)
    assert list(payload)[-3:] == ["metric", "unit", "value"]


def _bench_compare():
    spec = importlib.util.spec_from_file_location(
        "bench_compare", REPO / "tools" / "bench_compare.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_compare_on_common_set(tmp_path, capsys):
    a = {"q1": 1.0, "q2": 2.0, "q3": 4.0, "gone": 9.0}
    b = {"q1": 2.0, "q2": 1.0, "q3": 8.0, "new1": 0.5, "new2": 0.7}
    bc = _bench_compare()
    r = bc.compare(a, b)

    assert r["n_common"] == 3
    assert r["total_a"] == 7.0 and r["total_b"] == 11.0
    # ratios 2, 0.5, 2 -> cube root of 2
    assert math.isclose(r["geomean_b_over_a"], round(2 ** (1 / 3), 4))
    assert r["only_a"] == ["gone"]
    assert r["only_b"] == ["new1", "new2"]
    assert r["movers"][0] == ("q3", 4.0, 8.0)
    assert {q for q, _, _ in r["movers"]} == {"q1", "q2", "q3"}

    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps({"queries_warm": a, "metric": "m"}))
    pb.write_text(json.dumps({"queries_warm": b, "metric": "m"}))
    bc.main(str(pa), str(pb))
    out = capsys.readouterr().out
    assert "common queries: 3" in out
    assert "A 7.0 s, B 11.0 s" in out
    assert "only in A (1): gone" in out


def test_spark_rest_is_read_only_through_perfbench_spans():
    """One REST client: bench.py and tools/ go through
    perfbench.spans.SparkRest instead of scraping the API themselves."""
    paths = [REPO / "bench.py"] + [
        p for p in (REPO / "tools").rglob("*")
        if p.is_file() and "__pycache__" not in p.parts
    ]
    offenders = [
        f"{p.relative_to(REPO)}: {pat.decode()}"
        for p in paths
        for pat in (b"urllib.request.urlopen", b"/api/v1/")
        if pat in p.read_bytes()
    ]
    assert not offenders, offenders
