"""Pre-snapshot artifact-drift gate (VERDICT r5 item 4).

Round 5 ended with the plan-audit CI guard correctly firing because two
catalog queries landed in the snapshot commit without regenerating
PLAN_AUDIT.json.  This tool makes that impossible to repeat: run it
BEFORE every snapshot/milestone commit —

    python tools/presnapshot.py          # check only (exit 1 on drift)
    python tools/presnapshot.py --fix    # regenerate whatever drifted

Checks, in cheap-to-expensive order (the expensive plan regen only
happens under --fix and only when the key set actually drifted):

1. PLAN_AUDIT.json key set == full catalog key set (the same equality
   tests/test_physical_plans.py::test_plan_audit_artifact_covers_whole_catalog
   asserts — caught here before the commit instead of after).
2. QUERIES.md is byte-identical to a fresh tools/gen_query_index.py run
   (slot membership, proof provenance, and counts all live there).
3. ``DRIVER_SLOTS`` names exactly 50 registered queries and every
   query has an oracle (the driver gate's shape).
4. No two catalog queries collide on a NORMALIZED name (underscores
   stripped / token multiset).  Round 7 shipped `k_core_decomposition`
   next to round-5's `kcore_decomposition` and `target_encoding_loo`
   next to `loo_target_encoding` — same computation, different
   spelling, caught only by a human re-reading bench.py.  Both classes
   normalize identically, so this check makes the mistake impossible
   to commit.  (Semantic near-duplicates under DIFFERENT names still
   need the grep-the-catalog-first discipline — with the full output,
   not `| head`.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    fix = "--fix" in sys.argv
    sys.path.insert(0, REPO)
    os.chdir(REPO)
    import __spark_entry__ as entry  # registers the whole catalog

    names = set(entry.queries())
    problems: list[str] = []

    # 1. plan-audit freshness: key set == catalog AND the stored
    # source hash matches the current plan-shaping sources.  The hash
    # check closes ADVICE r7's gap: a regression edited into an
    # EXISTING query leaves the key set unchanged, but its source
    # content (and therefore the sha) drifts, forcing a regen.
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from explain_audit import source_sha

    with open("PLAN_AUDIT.json") as f:
        audit = json.load(f)
    plans = set(audit["plans"])
    drift_msgs = []
    if plans != names:
        drift_msgs.append(
            f"key drift: missing={sorted(names - plans)}"
            f" stale={sorted(plans - names)}"
        )
    if audit.get("source_sha") != source_sha():
        drift_msgs.append("source drift: plan-shaping .py changed since audit")
    if drift_msgs:
        problems.append("PLAN_AUDIT.json drift: " + "; ".join(drift_msgs))
        if fix:
            sf = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.01")
            with open("PLAN_AUDIT.json", "w") as out:
                subprocess.run(
                    [sys.executable, "tools/explain_audit.py", sf],
                    stdout=out, check=True,
                )
            print("  fixed: PLAN_AUDIT.json regenerated")

    # 2. QUERIES.md freshness
    fresh = subprocess.run(
        [sys.executable, "tools/gen_query_index.py"],
        capture_output=True, text=True, check=True,
    ).stdout
    with open("QUERIES.md") as f:
        current = f.read()
    if current != fresh:
        problems.append("QUERIES.md is stale vs gen_query_index.py")
        if fix:
            with open("QUERIES.md", "w") as f:
                f.write(fresh)
            print("  fixed: QUERIES.md regenerated")

    # 3. driver-gate shape
    from beacon_data_importer_spark import catalog as cat

    if len(cat.DRIVER_SLOTS) != 50:
        problems.append(f"driver slots = {len(cat.DRIVER_SLOTS)}, want 50")
    unknown = sorted(set(cat.DRIVER_SLOTS) - set(cat.QUERIES))
    if unknown:
        problems.append(f"driver slots naming no query: {unknown}")
    no_oracle = sorted(set(cat.QUERIES) - set(cat.ORACLES))
    if no_oracle:
        problems.append(f"queries without oracle: {no_oracle}")

    # 4. normalized-name collisions (k_core vs kcore, reordered tokens)
    by_norm: dict[tuple, list[str]] = {}
    for n in names:
        for key in (
            ("flat", n.replace("_", "")),
            ("toks", tuple(sorted(n.split("_")))),
        ):
            by_norm.setdefault(key, []).append(n)
    dupes = sorted(
        {tuple(sorted(v)) for v in by_norm.values() if len(set(v)) > 1}
    )
    if dupes:
        problems.append(
            f"normalized-name collisions (likely duplicate queries): {dupes}"
        )

    if problems:
        print("PRESNAPSHOT DRIFT:" if not fix else "PRESNAPSHOT (fixed):")
        for p in problems:
            print(" -", p)
        return 0 if fix else 1
    print("presnapshot: clean (plan audit, QUERIES.md, slot shape)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
