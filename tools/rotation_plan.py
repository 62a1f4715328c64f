"""Print the slot-rotation plan for the NEXT round: which registered
queries are now driver-proven (demote to extras) and which extras have
no driver row yet (promote into the freed slots, rotation candidates
first).

    python tools/rotation_plan.py

Reads the committed CORRECTNESS_r*.json artifacts (same provenance
logic as gen_query_index.py) and the catalog registries.  The slot cap
is 50 (the driver gate verifies the first 50 entries of ``queries()``).
This tool only PRINTS the plan — the registered= flags are source
literals flipped by hand, each with its provenance comment (see
catalog.py's rotation-policy docstring).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gen_query_index import _first_proven  # noqa: E402

SLOT_CAP = 50


def _rotation_candidates() -> set[str]:
    """Queries whose ``@query``/``sql_query`` comment marks them as
    next-round rotation candidates."""
    out: set[str] = set()
    pat = re.compile(
        r'^(?:@query|sql_query)\(\s*\n\s*"([^"]+)",[^\n]*\n'
        r"\s*registered=False,"
        r"[^\n]*rotation candidate",
        re.M,
    )
    pkg = os.path.join(REPO, "beacon_data_importer_spark")
    for fn in sorted(os.listdir(pkg)):
        if fn.startswith("catalog") and fn.endswith(".py"):
            for m in pat.finditer(open(os.path.join(pkg, fn)).read()):
                out.add(m.group(1))
    return out


def main() -> None:
    import __spark_entry__  # noqa: F401 (registers everything)
    from beacon_data_importer_spark.catalog import EXTRA_QUERIES, QUERIES

    proven = _first_proven()
    registered = list(QUERIES)
    extras = list(EXTRA_QUERIES)
    candidates = _rotation_candidates()

    demote = [q for q in registered if q in proven]
    keep = [q for q in registered if q not in proven]
    unproven_extras = [q for q in extras if q not in proven]
    promote_first = [q for q in unproven_extras if q in candidates]
    promote_rest = [q for q in unproven_extras if q not in candidates]

    free = SLOT_CAP - len(keep)
    plan = (promote_first + promote_rest)[:free]

    print(f"registered: {len(registered)}  extras: {len(extras)}")
    print(f"driver-proven union: {len(proven)}/{len(registered) + len(extras)}")
    print(f"\nDEMOTE (registered, now proven) — {len(demote)}:")
    for q in demote:
        print(f"  {q}  (proven {proven[q]})")
    print(f"\nKEEP (registered, still unproven) — {len(keep)}:")
    for q in keep:
        print(f"  {q}")
    print(f"\nPROMOTE into {free} free slots — {len(plan)}:")
    for q in plan:
        tag = "candidate" if q in candidates else "older extra"
        print(f"  {q}  ({tag})")
    leftover = len(promote_first) + len(promote_rest) - len(plan)
    if leftover:
        print(f"\n(unproven extras left waiting after this rotation: {leftover})")


if __name__ == "__main__":
    main()
