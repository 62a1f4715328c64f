"""Generate QUERIES.md — the navigable index of every catalog query:
name, slot status, driver-proof provenance, implementing function, and
the first docstring sentence.  Regenerate after catalog changes:

    python tools/gen_query_index.py > QUERIES.md

Provenance is read from the *git-tracked* CORRECTNESS_r*.json driver
artifacts only — the driver drops each round's artifact into the
worktree untracked *after* the builder's final commit, so counting
untracked files would redden test_queries_md_index_is_fresh every
round the moment the new artifact lands (VERDICT r6 item 1).  A
tracked-only read makes the committed QUERIES.md and a fresh regen
agree by construction; the new artifact is counted at next round's
open, right after the driver commits it.  "proven rNN" = the first
round whose tracked artifact has a fully green row
(rows+schema+hash) for the query; "local gate" = no driver
row yet (verified every round by tools/check_oracle.py and the
per-query CI in tests/test_registered_queries.py /
tests/test_extra_queries.py).  Slot-rotation policy lives in the
docstring of ``DRIVER_SLOTS`` in beacon_data_importer_spark/catalog.py.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _tracked_correctness_files() -> list[str]:
    """Git-tracked CORRECTNESS_r*.json paths (untracked driver drops are
    deliberately excluded — see module docstring).  Falls back to the
    plain glob outside a git checkout (e.g. an exported tarball)."""
    try:
        names = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True, text=True, check=True, cwd=REPO,
        ).stdout.split()
        return sorted(os.path.join(REPO, n) for n in names)
    except (subprocess.CalledProcessError, FileNotFoundError):
        return sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))


def _first_proven() -> dict[str, str]:
    """query -> 'rNN' for the earliest driver artifact with a green row."""
    out: dict[str, str] = {}
    for path in _tracked_correctness_files():
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        rows = json.load(open(path))
        for name, row in rows.items():
            if name in out:
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)  # rows-only checks lack it
                and not row.get("err")
            ):
                out[name] = rnd
    return out


def main() -> None:
    import __spark_entry__  # noqa: F401 (registers everything)
    from beacon_data_importer_spark import catalog as cat

    proven = _first_proven()
    slots = set(cat.DRIVER_SLOTS)
    n_all, n_q = len(cat.QUERIES), len(slots)
    n_x = n_all - n_q
    n_proven = sum(1 for n in cat.QUERIES if n in proven)
    print("# Query catalog index\n")
    print(
        f"{n_q} registered (driver slots) + {n_x} extras = {n_all} queries, "
        "every one with a DuckDB oracle (tools/check_oracle.py; "
        "tests/test_registered_queries.py + tests/test_extra_queries.py). "
        f"{n_proven}/{n_all} carry a green driver CORRECTNESS row "
        "(column *proven*; slot rotation maximizes this union across "
        "rounds — policy in catalog.py)."
        "\nGenerated by tools/gen_query_index.py — regenerate after "
        "catalog changes.\n"
    )
    for title, reg in (("Registered", True), ("Extras", False)):
        names = sorted(n for n in cat.QUERIES if (n in slots) == reg)
        print(f"\n## {title} ({len(names)})\n")
        print("| query | function | proven | summary |")
        print("|---|---|---|---|")
        for name in names:
            fn = cat.QUERIES[name]
            mod = fn.__module__.split(".")[-1]
            doc = (fn.__doc__ or "").strip().split("\n\n")[0]
            doc = " ".join(doc.split())
            if len(doc) > 220:
                doc = doc[:217] + "..."
            doc = doc.replace("|", "\\|")
            prov = proven.get(name, "local gate")
            print(f"| `{name}` | `{mod}.{fn.__name__}` | {prov} | {doc} |")


if __name__ == "__main__":
    main()
