"""Correctness checks, run outside every timed region.

* ``prepare-*`` outputs are compared, as order-insensitive multisets of
  rendered cells, with the independent pure-Python oracle
  ``tests/ref_oracle.py`` (``build``, ``build_contacts``).
* ``run-import`` row counts must equal a plain-Python count over the
  staged CSVs: inner-join matches on NHS number, and N×M notes per
  contact (N triage needs inserted, M staged notes).
* Catalog results must match the DuckDB twin from ``oracle_sql()`` in
  row count and order-insensitive value hash, as ``tools/check_oracle.py``
  computes them.

Each check returns a list of problems; empty means correct.
"""

from __future__ import annotations

import csv
import json
import os
from collections import Counter

PREPARE_OUTPUTS = (
    "quality_assurance", "contact_profile_updates", "original_triage_needs",
    "original_triage_notes", "food_needs", "callback_needs", "remaining_needs",
)
JSON_COLS = {"import_data", "supplemental_data", "gds_import_data"}
NEEDS_FILES = ("original_triage_needs", "food_needs", "callback_needs", "remaining_needs")


def _cell(col: str, v) -> str:
    """petl rendering (None → '', bool → 'True'/'False'); JSON cells
    compare parsed, since key spacing differs between json.dumps and
    Spark's to_json."""
    s = "" if v is None else ("True" if v is True else "False" if v is False else str(v))
    if col in JSON_COLS and s:
        s = json.dumps(json.loads(s), sort_keys=True)
    return s


def read_csv(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    return rows[0], rows[1:]


def _compare(label: str, path: str, want: list[dict]) -> list[str]:
    cols, rows = read_csv(path)
    got = Counter(tuple(_cell(c, v) for c, v in zip(cols, r)) for r in rows)
    exp = Counter(tuple(_cell(c, w.get(c)) for c in cols) for w in want)
    if got == exp:
        return []
    extra = next(iter(got - exp), None)
    missing = next(iter(exp - got), None)
    return [f"{label}: {sum(got.values())} rows vs oracle {sum(exp.values())}; "
            f"first unexpected {extra!r}; first missing {missing!r}"]


def check_contacts(contacts_csv: str, gds_csv: str, now: str) -> list[str]:
    import ref_oracle

    return _compare("contacts", contacts_csv, ref_oracle.build_contacts(gds_csv, now))


def check_prepare_calls(staging_dir: str, calls_csv: str, users: tuple[str, ...]) -> list[str]:
    import ref_oracle

    want = ref_oracle.build(calls_csv, *map(int, users))
    problems = []
    for name in PREPARE_OUTPUTS:
        problems += _compare(name, os.path.join(staging_dir, f"{name}.csv"), want[name])
    return problems


def expected_import_growth(staging_dir: str, contact_nhs: set[str]) -> dict[str, int]:
    """Rows ``run-import`` must add, counted over the staged CSVs."""
    def nhs_counts(name: str) -> Counter:
        cols, rows = read_csv(os.path.join(staging_dir, f"{name}.csv"))
        i = cols.index("nhs_number")
        return Counter(r[i] for r in rows if r[i] in contact_nhs)

    triage = nhs_counts("original_triage_needs")
    notes = nhs_counts("original_triage_notes")
    needs = sum(sum(nhs_counts(n).values()) for n in NEEDS_FILES)
    return {"needs": needs, "notes": sum(n * notes[k] for k, n in triage.items())}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def db_counts(db_dir: str) -> dict[str, int]:
    return {t: parquet_rows(os.path.join(db_dir, f"{t}.parquet"))
            for t in ("contacts", "needs", "notes")}


def check_import(before: dict[str, int], growth: dict[str, int],
                 after: dict[str, int], reported: dict[str, int]) -> list[str]:
    want = {
        "contacts": before["contacts"],
        "needs": before["needs"] + growth["needs"],
        "notes": before["notes"] + growth["notes"],
    }
    problems = []
    if after != want:
        problems.append(f"run-import DB rows {after} != expected {want}")
    if reported != want:
        problems.append(f"run-import reported {reported} != expected {want}")
    return problems


def check_catalog_result(con, name: str, oracle: str, pdf) -> list[str]:
    """Row count + order-insensitive value hash vs the DuckDB twin."""
    from tools.check_oracle import frame_digest

    dpdf = con.execute(oracle).df()
    if len(pdf) != len(dpdf):
        return [f"{name}: rows spark={len(pdf)} duckdb={len(dpdf)}"]
    if sorted(pdf.columns) != sorted(dpdf.columns):
        return [f"{name}: columns {sorted(pdf.columns)} vs {sorted(dpdf.columns)}"]
    if frame_digest(pdf)[0] != frame_digest(dpdf)[0]:
        return [f"{name}: value hash differs from the DuckDB oracle"]
    return []
