"""Reference-fidelity CSV fixtures (SURVEY §5.2 / FIXTURES.md §A):
synthetic gds.csv and calls.csv exercising every branch of the reference
pipelines — all was_contact_made variants, trailing-space outcome
literals, both callback date formats + garbage, yes/no/other covid,
priority present/absent/garbage, duplicate nhs_numbers, windows-1252
bytes, and an empty latest_attempt_date row (dropped)."""

from __future__ import annotations

import csv
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from beacon_data_importer_spark.config.calls_schema import FIELDS, LOGICAL_NAMES

ORIGINAL_HEADERS = [orig for _, orig, _ in FIELDS]


def _row(**kw: str) -> list[str]:
    unknown = set(kw) - set(LOGICAL_NAMES)
    assert not unknown, f"unknown fixture fields: {unknown}"
    return [kw.get(name, "") for name in LOGICAL_NAMES]


CALLS_ROWS: list[list[str]] = [
    # 1: success + voicemail + food referral P1 -> completed food + callback
    _row(nhs_number="900000001", latest_attempt_date="06/04/2020",
         was_contact_made="Yes", outcome="Food referral ",
         food_priority="Priority 1", dietary_requirements="vegan",
         has_covid_symptoms="YES "),
    # 2: one failed attempt, voicemail -> phone_message x1
    _row(nhs_number="900000002", latest_attempt_date="07/04/2020",
         was_contact_made="No -1 attempt made", outcome="Left voicemail",
         has_covid_symptoms="no"),
    # 3: two failed attempts -> phone_failure x2; misc other need
    _row(nhs_number="900000003", latest_attempt_date="08/04/2020",
         was_contact_made="No 2 attempts made", addl_misc_other2="check on cat",
         has_covid_symptoms="unsure"),
    # 4: three failed -> triage completed + phone_failure x3
    _row(nhs_number="900000004", latest_attempt_date="09/04/2020",
         was_contact_made="No 3 attempts made"),
    # 5: invalid numbers -> x1
    _row(nhs_number="900000005", latest_attempt_date="10/04/2020",
         was_contact_made="Invalid phone numbers"),
    # 6: empty was_contact_made -> zero notes (G2 silent drop)
    _row(nhs_number="900000006", latest_attempt_date="11/04/2020",
         was_contact_made="", notes="no answer field left blank"),
    # 7: unmatched was_contact_made -> zero notes
    _row(nhs_number="900000007", latest_attempt_date="12/04/2020",
         was_contact_made="Maybe"),
    # 8: empty latest_attempt_date -> row dropped entirely
    _row(nhs_number="900000008", was_contact_made="Yes"),
    # 9: embedded callback date, d/M/Y
    _row(nhs_number="900000009", latest_attempt_date="13/04/2020",
         was_contact_made="Yes", callback_date="please call 07/03/2021 at noon"),
    # 10: callback date d.M.yy
    _row(nhs_number="900000010", latest_attempt_date="14/04/2020",
         was_contact_made="Yes", callback_date="12.04.20"),
    # 11: callback garbage, nothing else -> no callback need
    _row(nhs_number="900000011", latest_attempt_date="15/04/2020",
         was_contact_made="Yes", callback_date="next week sometime"),
    # 12: outcome 'Call back ' (trailing space) -> callback via outcome
    _row(nhs_number="900000012", latest_attempt_date="16/04/2020",
         was_contact_made="Yes", outcome="Call back "),
    # 13: priority 3 only -> food need, not completed
    _row(nhs_number="900000013", latest_attempt_date="17/04/2020",
         was_contact_made="Yes", food_priority="Priority 3",
         book_weekly_food_delivery="yes"),
    # 14: food referral with garbage priority -> food need, null priority
    _row(nhs_number="900000014", latest_attempt_date="18/04/2020",
         was_contact_made="Yes", outcome="Food and Other referral",
         food_priority="high", addl_shopping="extra bread"),
    # 15: prescriptions (simple) + financial (complex)
    _row(nhs_number="900000015", latest_attempt_date="19/04/2020",
         was_contact_made="Yes", addl_medication_prescriptions="weekly meds",
         addl_financial="rent worries"),
    # 16: complex + simple other-need fields -> complex user wins
    _row(nhs_number="900000016", latest_attempt_date="20/04/2020",
         was_contact_made="Yes", addl_adult_social_care="concerns",
         addl_housing_waste="bins"),
    # 17: windows-1252 bytes + dietary 'No ' -> dietary null
    _row(nhs_number="900000017", latest_attempt_date="21/04/2020",
         was_contact_made="Yes", dietary_requirements="No ",
         notes="café visit preferred", household_count="3 people"),
    # 18: duplicate nhs_number (first-wins QA) + second-row mental wellbeing
    _row(nhs_number="900000001", latest_attempt_date="22/04/2020",
         was_contact_made="No -1 attempt made", addl_mental_wellbeing="low mood",
         support_already_getting="family"),
]

GDS_HEADERS = [
    "NHSNumber", "FirstName", "MiddleName", "LastName",
    "Address1", "Address2", "Address3", "Address4", "Address5",
    "Postcode", "DOB", "Phone", "Mobile", "ExtraColumn",
]

GDS_ROWS = [
    ["900000001", "Ada", "", "Lovelace", "1 High St", "Flat 2", "", "", "",
     "N1 1AA", "31/01/1980", "0201111", "0771111", "extra1"],
    ["900000002", "Alan", "M", "Turing", "", "", "", "", "",
     "", "23/06/1912", "", "", ""],
    ["900000003", "Grace", "", "Hopper", "3 Navy Way", "", "", "", "",
     "SW1 2BB", "31/13/1980", "0203333", "", "x"],  # invalid DOB -> null
    ["900000003", "Grace2", "", "Hopper2", "Dup Row", "", "", "", "",
     "SW1 2BB", "", "", "", ""],  # duplicate NHS number, empty DOB
]


def write_calls_csv(path: str, rows: list[list[str]] = CALLS_ROWS) -> None:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(ORIGINAL_HEADERS)
    w.writerows(rows)
    Path(path).write_bytes(buf.getvalue().encode("windows-1252"))


def write_gds_csv(path: str) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(GDS_HEADERS)
        w.writerows(GDS_ROWS)
