"""Automated physical-plan audit: runs .explain("formatted") for every
catalog query and extracts the scale-relevant plan features (pushdown,
exchanges, broadcast vs sort-merge joins, codegen, Python evals).

Usage: python tools/explain_audit.py [sf_dir] > PLAN_AUDIT.json

Caveat: ``whole_stage_codegen`` is only visible for plans WITHOUT
exchanges — an AdaptiveSparkPlan that hasn't executed yet prints no
codegen ids, so the flag reads False for every AQE-wrapped plan
regardless of what will actually codegen at runtime.  Treat it as
meaningful only when ``exchanges == 0``.
"""

from __future__ import annotations

import glob
import hashlib
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def source_sha() -> str:
    """Content hash over every .py that can shape a physical plan.

    Stored in PLAN_AUDIT.json so tools/presnapshot.py regenerates the
    artifact when ANY plan-shaping source changes — not only when the
    query-name set drifts (ADVICE r7: a Python-eval regression inside
    an EXISTING query used to leave the stale artifact passing the CI
    guard)."""
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(os.path.join(REPO, "beacon_data_importer_spark", "**", "*.py"),
                  recursive=True)
    ) + [os.path.join(REPO, "__spark_entry__.py")]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _global_order_windows(txt: str) -> int:
    """Count window specs with an ORDER BY but NO partition columns —
    the global-sort-on-one-executor smell (VERDICT r7 weak #2: such a
    window forces Exchange SinglePartition and ranks the entire frame
    on one task).  A windowspecdefinition prints its partition columns
    first (bare refs), then sort specs (`col ASC/DESC NULLS ...`),
    then the frame: if EVERY token before the frame is a sort spec,
    the partition list is empty."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", txt):
        end = txt.find("specifiedwindowframe", m.end())
        if end < 0 or end - m.end() > 500:
            continue
        toks = [t.strip() for t in txt[m.end():end].split(",") if t.strip()]
        if toks and all(" ASC" in t or " DESC" in t for t in toks):
            n += 1
    return n


def features(txt: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", txt)),
        "broadcast_joins": txt.count("BroadcastHashJoin"),
        "sort_merge_joins": txt.count("SortMergeJoin"),
        "pushed_filter_scans": len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", txt) if m.strip()]
        ),
        "take_ordered": "TakeOrderedAndProject" in txt,
        "python_evals": txt.count("ArrowEvalPython")
        + txt.count("BatchEvalPython")
        + txt.count("FlatMapGroupsInPandas")
        + txt.count("MapInPandas")
        + txt.count("EvalPythonUDTF"),
        "cartesian_products": txt.count("CartesianProduct"),
        "whole_stage_codegen": "WholeStageCodegen" in txt or "codegen id" in txt,
        # VERDICT r7 item 3 counters: SinglePartition exchanges are
        # normal for 1-row final aggregates; the guarded signal is
        # global_order_windows — an ordered window with an EMPTY
        # partition spec, which sorts its whole frame on one task
        # (tests/test_physical_plans.py::test_no_single_partition_windows).
        "single_partition_exchanges": txt.count("SinglePartition"),
        "window_nodes": len(re.findall(r"\(\d+\) Window\b", txt)),
        "global_order_windows": _global_order_windows(txt),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as em
    from beacon_data_importer_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn in em.queries().items():
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            out[name] = features(buf.getvalue())
        except Exception as ex:  # keep auditing the rest
            out[name] = {"error": str(ex)[:200]}
    print(json.dumps(
        {"metric": "plan_audit", "sf_dir": sf_dir,
         "source_sha": source_sha(), "plans": out},
        indent=1,
    ))


if __name__ == "__main__":
    main()
