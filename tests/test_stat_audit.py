"""CI gate for the independent formula-audit harness (VERDICT r10
item 3): every registered audit in tools/stat_audit.py recomputes its
statistic with pure numpy/pandas from raw parquet and must match the
DuckDB oracle value.

Oracle parity (tests/test_registered_queries.py) proves Spark ≡ DuckDB
but both replay the SAME hand-derived formula — the bug class this
suite exists for (r9's AD² normalization, r11's Siegel-Tukey zig-zag
boundary) is invisible to parity by construction.  Running the audits
in CI keeps the replay itself from rotting as the catalog evolves.

Whole suite: ~15 s at sf0.001 (no Spark session — duckdb + numpy only).
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _load_audit_module():
    spec = importlib.util.spec_from_file_location(
        "stat_audit", os.path.join(REPO, "tools", "stat_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_audit_matches_its_oracle():
    """Run the full audit registry as one subprocess (exit code is the
    contract) so a failure prints the per-query MISMATCH detail."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "stat_audit.py"), SF_DIR],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stat_audit failures:\n{proc.stdout[-4000:]}"


def test_round11_queries_all_have_audits():
    """Audit-first discipline: every round-11 catalog query MUST have a
    registered audit — a new r11 query without its numpy replay is a
    regression of the discipline, caught here."""
    mod = _load_audit_module()
    sys.path.insert(0, REPO)
    import importlib

    r11 = []
    for tier in ("a", "b", "c", "d"):
        m = importlib.import_module(
            f"beacon_data_importer_spark.catalog_r11{tier}"
        )
        src = open(m.__file__).read()
        import re

        r11 += re.findall(
            r'^(?:@query|sql_query)\(\s*\n?\s*"([a-z0-9_]+)"', src, re.M
        )
    missing = [q for q in r11 if q not in mod.AUDITS]
    assert len(r11) == 24, f"expected 24 r11 queries, found {len(r11)}"
    assert not missing, f"r11 queries without a stat_audit replay: {missing}"
