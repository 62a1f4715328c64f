"""Seeded input generator for the benchmark workloads.

Everything the program reads is made here from ``--seed``; the program
receives only the generated files.  Nothing is read from outside the
checkout.

* **Call logs** (``write_calls_csv``): the council spreadsheet export,
  windows-1252, with the byte-exact 29 headers of
  ``config/calls_schema.py``.  Messy cells are injected at the fixed
  rates in ``RATES`` (one independent draw per row and rate).
* **GDS lists** (``write_gds_csv``): the shielded-persons list that
  ``prepare-contacts`` reads; one row per contact, unique NHS numbers.
* **Catalog tables** (``write_catalog_tables``): the star schema plus
  ``events``/``documents``/``embeddings`` that ``queries()`` reads, with
  the shapes and value domains of the engine's test data (uniform keys,
  30-word document vocabulary with 5 % near-duplicates, unit-norm 64-d
  embeddings in 10 loose clusters).
"""

from __future__ import annotations

import csv
import io
import os
from datetime import date, timedelta

import numpy as np

from beacon_data_importer_spark.config.calls_schema import FIELDS, LOGICAL_NAMES

CALLS_HEADERS = [orig for _, orig, _ in FIELDS]

#: Injection rates, each a per-row probability.
RATES = {
    # latest_attempt_date empty: the row is dropped by prepare-calls
    "empty_date": 0.02,
    # latest_attempt_date present but unparseable: dates become NULL
    "malformed_date": 0.02,
    # food_priority that is neither empty nor "Priority N"
    "garbage_priority": 0.03,
    # callback_date text with no parseable date in it
    "garbage_callback": 0.03,
    # a windows-1252 non-ASCII character inside a free-text cell
    "non_ascii": 0.05,
    # NHS number repeated from an earlier row of the same file
    "duplicate_nhs": 0.05,
    # NHS number absent from the contacts table (dropped by run-import's joins)
    "unmatched_nhs": 0.02,
}

USERS = ("101", "102", "103", "104")  # -fnu -cnu -snu -clru

NON_ASCII = ["café", "£20 voucher", "it’s urgent", "7–9pm", "Müller", "naïve", "€5"]
WORDS = (
    "bread milk eggs rice pasta tea soup fruit nappies formula pills "
    "walker bins stairs neighbour daughter son carer keys gate"
).split()

CONTACT_MADE = [
    ("Yes", 0.55),
    ("No -1 attempt made", 0.12),
    ("No 2 attempts made", 0.08),
    ("No 3 attempts made", 0.08),
    ("Invalid phone numbers", 0.05),
    ("yes", 0.05),
    ("", 0.05),
    ("Maybe", 0.02),
]
OUTCOMES = [
    ("No support needed", 0.35),
    ("Food referral ", 0.15),
    ("Food and Other referral", 0.08),
    ("Other referral", 0.1),
    ("Call back ", 0.08),
    ("Left voicemail", 0.14),
    ("", 0.1),
]
COVID = [("no", 0.6), ("yes", 0.1), ("YES ", 0.05), ("unsure", 0.05), ("", 0.2)]
DIETARY = [("", 0.5), ("No ", 0.2), ("no", 0.1), ("vegan", 0.05), ("halal", 0.1),
           ("diabetic", 0.05)]
ADDL = [
    "addl_adult_social_care", "addl_children_services", "addl_safeguarding",
    "addl_mental_wellbeing", "addl_housing_waste", "addl_medication_prescriptions",
    "addl_medical_appt_transport", "addl_financial", "addl_shopping",
    "addl_referrals", "addl_misc_other1", "addl_misc_other2",
]
ADDL_RATE = 0.06


def nhs_number(i: int) -> str:
    return str(9_000_000_000 + i)


def _pick(rng: np.random.Generator, table: list[tuple[str, float]], n: int) -> list[str]:
    vals = [v for v, _ in table]
    p = np.array([w for _, w in table])
    return [vals[i] for i in rng.choice(len(vals), size=n, p=p / p.sum())]


def _phrase(rng: np.random.Generator, lo: int = 2, hi: int = 7) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(lo, hi))))


def _dmy(d: date) -> str:
    return d.strftime("%d/%m/%Y")


def calls_rows(
    rng: np.random.Generator, n_rows: int, contacts: range, unmatched_base: int
) -> list[list[str]]:
    """``n_rows`` call-log rows.  NHS numbers come from the ``contacts``
    index range (first use without replacement), repeat an earlier row's
    number at ``RATES['duplicate_nhs']`` and fall outside the contacts
    table at ``RATES['unmatched_nhs']`` (indices from ``unmatched_base``)."""
    fresh = rng.permutation(np.asarray(contacts))
    made = _pick(rng, CONTACT_MADE, n_rows)
    outcome = _pick(rng, OUTCOMES, n_rows)
    covid = _pick(rng, COVID, n_rows)
    dietary = _pick(rng, DIETARY, n_rows)
    u = rng.random((n_rows, 16))
    day0 = date(2020, 4, 1)
    rows: list[list[str]] = []
    used: list[str] = []
    n_fresh = 0
    for i in range(n_rows):
        r = u[i]
        if used and r[0] < RATES["duplicate_nhs"]:
            nhs = used[int(r[1] * len(used))]
        elif r[2] < RATES["unmatched_nhs"]:
            nhs = nhs_number(unmatched_base + i)
        else:
            nhs = nhs_number(int(fresh[n_fresh % len(fresh)]))
            n_fresh += 1
        used.append(nhs)
        when = day0 + timedelta(days=int(r[3] * 90))
        if r[4] < RATES["empty_date"]:
            attempt = ""
        elif r[4] < RATES["empty_date"] + RATES["malformed_date"]:
            attempt = ["31/02/2020", "2020-04-07", "7 April", "13/13/2020"][i % 4]
        else:
            attempt = _dmy(when)
        if r[5] < 0.25:
            priority = f"Priority {1 + int(r[6] * 3)}"
        elif r[5] < 0.25 + RATES["garbage_priority"]:
            priority = ["high", "urgent", "P1?"][i % 3]
        else:
            priority = ""
        cb_day = when + timedelta(days=6)
        if r[7] < 0.1:
            callback = f"please call {_dmy(cb_day)} after noon"
        elif r[7] < 0.15:
            callback = cb_day.strftime("%d.%m.%y")
        elif r[7] < 0.15 + RATES["garbage_callback"]:
            callback = ["next week sometime", "ask daughter", "32/01/2020"][i % 3]
        else:
            callback = ""
        notes = _phrase(rng) if r[8] < 0.4 else ""
        if r[9] < RATES["non_ascii"]:
            notes = f"{notes} {NON_ASCII[i % len(NON_ASCII)]}".strip()
        if attempt and attempt != _dmy(when):
            # a callback need's start_on is attempt date + 6 days, which
            # the reference leaves undefined for an unparseable date: keep
            # malformed dates on rows that raise no callback need
            priority = callback = ""
            outcome[i] = "No support needed"
        cell = {
            "nhs_number": nhs,
            "is_consolidation_record": "Yes" if r[10] < 0.1 else "",
            "latest_attempt_date": attempt,
            "latest_attempt_time": f"{9 + int(r[11] * 9):02d}:{int(r[12] * 60):02d}",
            "was_contact_made": made[i],
            "outcome": outcome[i],
            "support_already_getting": "family" if r[13] < 0.2 else "",
            "food_priority": priority,
            "book_weekly_food_delivery": ("yes" if r[14] < 0.2 else "no") if priority else "",
            "callback_date": callback,
            "household_count": str(1 + int(r[15] * 5)) if r[15] < 0.7 else "",
            "dietary_requirements": dietary[i],
            "food_notes_or_needs": _phrase(rng) if priority else "",
            "delivery_contact": "call son on arrival" if r[13] > 0.9 else "",
            "delivery_special_info": "ring twice" if r[14] > 0.9 else "",
            "has_covid_symptoms": covid[i],
            "notes": notes,
            "was_told_about_support_line": "Yes" if r[10] > 0.3 else "",
        }
        for name, x in zip(ADDL, rng.random(len(ADDL))):
            cell[name] = _phrase(rng, 1, 4) if x < ADDL_RATE else ""
        rows.append([cell.get(name, "") for name in LOGICAL_NAMES])
    return rows


def write_calls_csv(path: str, rows: list[list[str]]) -> int:
    """Write a windows-1252 calls CSV; returns its size in bytes."""
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(CALLS_HEADERS)
    w.writerows(rows)
    data = buf.getvalue().encode("windows-1252")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


GDS_HEADERS = [
    "NHSNumber", "FirstName", "MiddleName", "LastName",
    "Address1", "Address2", "Address3", "Address4", "Address5",
    "Postcode", "DOB", "Phone", "Mobile", "Sex", "Language", "GPPractice",
]
FIRST = "Ada Alan Grace Mary John Amir Priya Olu Chen Sofia Tom Ruth Kwame Ivy".split()
LAST = "Smith Jones Khan Patel Brown Okafor Li Murphy Evans Rossi Clarke Ward".split()
STREETS = "High St|Camden Rd|Kentish Town Rd|Euston Rd|Malden Rd|Agar Grove".split("|")


def gds_rows(rng: np.random.Generator, contacts: range) -> list[list[str]]:
    """One GDS row per contact index; DOBs 2 % empty and 2 % invalid."""
    n = len(contacts)
    u = rng.random((n, 8))
    rows = []
    for j, i in enumerate(contacts):
        r = u[j]
        if r[0] < 0.02:
            dob = ""
        elif r[0] < 0.04:
            dob = "31/13/1950"
        else:
            dob = _dmy(date(1925, 1, 1) + timedelta(days=int(r[1] * 25000)))
        rows.append([
            nhs_number(i),
            FIRST[int(r[2] * len(FIRST))],
            FIRST[int(r[3] * len(FIRST))] if r[3] < 0.3 else "",
            LAST[int(r[4] * len(LAST))],
            f"{1 + int(r[5] * 200)} {STREETS[i % len(STREETS)]}",
            f"Flat {1 + i % 9}" if r[6] < 0.3 else "",
            "", "", "London" if r[6] > 0.5 else "",
            f"NW{1 + i % 9} {i % 10}AB" if r[7] > 0.05 else "",
            dob,
            f"020 7{i % 1000:03d} {i % 10000:04d}" if r[7] < 0.8 else "",
            f"07700 9{i % 100000:05d}" if r[7] > 0.4 else "",
            "F" if r[2] < 0.5 else "M",
            "English" if r[4] < 0.8 else "Bengali",
            f"Y0{i % 300:04d}",
        ])
    return rows


def write_gds_csv(path: str, rows: list[list[str]]) -> int:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(GDS_HEADERS)
    w.writerows(rows)
    data = buf.getvalue().encode("utf-8")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = [("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13)]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def write_catalog_tables(
    out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """Write the ten catalog tables at scale factor ``sf`` (customer =
    150k × sf rows, lineitem = 6M × sf, events = 1M × sf) plus ``n_docs``
    documents and ``n_vecs`` embeddings.  Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def ts(start: str, span_days: int, n: int, sort: bool = False) -> np.ndarray:
        us = rng.integers(0, span_days * 86_400_000_000, size=n)
        if sort:
            us.sort()
        return np.datetime64(start, "us") + us.astype("timedelta64[us]")

    def day(start: str, span_days: int, n: int) -> np.ndarray:
        return (np.datetime64(start, "D") + rng.integers(0, span_days, size=n)).astype(
            "datetime64[us]")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       rng.integers(0, 8, size=(n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": pa.array(day("1995-01-01", 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, size=n_line).astype(float),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(day("1995-01-02", 2498, n_line), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts("2024-01-01", 30, n_ev, sort=True), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), size=n_ev), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(50.0, size=n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }),
    }

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: first word dropped,
            # marker word appended
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[1:] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, size=int(rng.integers(10, 101)))))
    langs = [v for v, _ in DOC_LANGS]
    lp = np.array([w for _, w in DOC_LANGS])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[k] for k in rng.choice(len(langs), size=n_docs, p=lp / lp.sum())],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, size=n_vecs)
    noise = rng.standard_normal((n_vecs, 64))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vec = 0.15 * centers[label] + noise
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
