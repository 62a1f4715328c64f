"""Print the slot-rotation plan for the NEXT round: which driver slots
hold queries that are now driver-proven (demote to extras) and which
extras have no driver row yet (promote into the freed slots, in
``queries()`` order), then the resulting ``DRIVER_SLOTS`` tuple.

    python tools/rotation_plan.py

Reads the committed CORRECTNESS_r*.json artifacts (same provenance
logic as gen_query_index.py) and ``catalog.DRIVER_SLOTS``.  The slot
cap is 50 (the driver gate verifies the first 50 entries of
``queries()``); a proven slot stays when no unproven extra is left to
take it.  This tool only PRINTS the plan — rotating is one tuple edited
by hand in catalog.py, the printed tuple ready to paste.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gen_query_index import _first_proven  # noqa: E402

SLOT_CAP = 50


def main() -> None:
    import __spark_entry__  # noqa: F401 (registers everything)
    from beacon_data_importer_spark.catalog import DRIVER_SLOTS, QUERIES

    proven = _first_proven()
    keep = [q for q in DRIVER_SLOTS if q not in proven]
    demote = [q for q in DRIVER_SLOTS if q in proven]
    waiting = [q for q in QUERIES if q not in DRIVER_SLOTS and q not in proven]
    plan = waiting[: SLOT_CAP - len(keep)]
    stay = demote[: SLOT_CAP - len(keep) - len(plan)]
    demote = demote[len(stay):]

    print(f"slots: {len(DRIVER_SLOTS)}  extras: {len(QUERIES) - len(DRIVER_SLOTS)}")
    print(f"driver-proven union: {len(proven)}/{len(QUERIES)}")
    print(f"\nDEMOTE (slot, now proven) — {len(demote)}:")
    for q in demote:
        print(f"  {q}  (proven {proven[q]})")
    print(f"\nKEEP (slot, unproven or not replaceable) — {len(keep) + len(stay)}:")
    for q in keep + stay:
        print(f"  {q}" + (f"  (proven {proven[q]})" if q in proven else ""))
    print(f"\nPROMOTE (unproven extra) — {len(plan)}:")
    for q in plan:
        print(f"  {q}")
    left = len(waiting) - len(plan)
    if left:
        print(f"\n(unproven extras left waiting after this rotation: {left})")
    print("\nDRIVER_SLOTS: tuple[str, ...] = (")
    for q in sorted(keep + stay + plan):
        print(f'    "{q}",')
    print(")")


if __name__ == "__main__":
    main()
