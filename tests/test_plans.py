"""Golden tests: the Spark plans vs the pure-Python reference oracle on
branch-covering fixtures (every output of prepare-contacts and
prepare-calls, including QA)."""

from __future__ import annotations

import json

import pytest

from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
from beacon_data_importer_spark.plans.contacts import prepare_contacts

import fixtures
import ref_oracle

USERS = CallsUsers(
    food_needs_user=101,
    complex_needs_user=102,
    simple_needs_user=103,
    call_log_review_user=104,
)

JSON_COLS = {"import_data", "supplemental_data", "gds_import_data"}


def norm_rows(cols: list[str], rows: list[dict | tuple]) -> list[tuple]:
    """Normalize to sorted tuples of petl-formatted cells; JSON columns
    compare parsed (the reference emits json.dumps with ', '/': '
    separators, Spark to_json emits compact — semantically equal)."""
    out = []
    for r in rows:
        vals = []
        for i, c in enumerate(cols):
            v = r[c] if isinstance(r, dict) else r[i]
            s = "" if v is None else str(v)
            if c in JSON_COLS and s:
                s = json.dumps(json.loads(s), sort_keys=True)
            vals.append(s)
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def calls_outputs(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("fixtures") / "calls.csv"
    fixtures.write_calls_csv(str(p))
    spark_out = prepare_calls(spark, str(p), USERS)
    oracle_out = ref_oracle.build(str(p), 101, 102, 103, 104)
    return spark_out, oracle_out


OUTPUTS = [
    "original_triage_needs",
    "original_triage_notes",
    "food_needs",
    "callback_needs",
    "remaining_needs",
    "contact_profile_updates",
    "quality_assurance",
]


@pytest.mark.parametrize("name", OUTPUTS)
def test_calls_output_matches_reference(calls_outputs, name):
    spark_out, oracle_out = calls_outputs
    df = spark_out[name]
    cols = df.columns
    got = norm_rows(cols, [tuple(r) for r in df.collect()])
    want = norm_rows(cols, oracle_out[name])
    assert got == want, (
        f"{name}: {len(got)} vs {len(want)} rows;"
        f" first diff: {next(((a, b) for a, b in zip(got, want) if a != b), None)}"
    )


def test_contacts_matches_reference(spark, tmp_path):
    p = tmp_path / "gds.csv"
    fixtures.write_gds_csv(str(p))
    now = "2020-05-01T12:00:00"
    df = prepare_contacts(spark, str(p), now)
    got = norm_rows(df.columns, [tuple(r) for r in df.collect()])
    want = norm_rows(df.columns, ref_oracle.build_contacts(str(p), now))
    assert got == want


def test_calls_windows_1252_roundtrip(calls_outputs):
    spark_out, _ = calls_outputs
    qa = spark_out["quality_assurance"]
    row = [r for r in qa.collect() if r.nhs_number == "900000017"][0]
    assert "café visit preferred" in row.call_log


def test_cli_missing_file_fails_fast(tmp_path):
    """A missing input exits 1 with a readable message — before Spark
    startup, not as an AnalysisException stack trace."""
    import pytest

    from beacon_data_importer_spark.cli import main

    with pytest.raises(SystemExit) as ei:
        main(["prepare-contacts", str(tmp_path / "nope.csv")])
    assert ei.value.code == 1


def test_malformed_calls_header_raises_named_error(spark, tmp_path):
    """A calls CSV missing expected headers raises CallsHeaderError
    naming the missing columns (trailing spaces shown via repr)."""
    import pytest

    from beacon_data_importer_spark.plans.calls import (
        CallsHeaderError,
        base_spreadsheet,
    )

    bad = tmp_path / "bad_calls.csv"
    bad.write_text("NHS Number,Something Else\n123,x\n", encoding="windows-1252")
    with pytest.raises(CallsHeaderError) as ei:
        base_spreadsheet(spark, str(bad))
    assert "missing" in str(ei.value)
    assert "'Contact Sucessful '" in str(ei.value) or "expected header" in str(ei.value)


# QA lookup corners the branch fixture leaves open.  The normalized
# comparison above maps NULL and '' to the same cell, so these rows are
# compared raw: NULL must stay NULL.
QA_EDGE_ROWS = [
    # first row passes neither the food nor the callback predicate; the
    # second passes both, so both QA rows show the second row's needs
    fixtures._row(nhs_number="910000001", latest_attempt_date="01/05/2020",
                  was_contact_made="Yes"),
    fixtures._row(nhs_number="910000001", latest_attempt_date="02/05/2020",
                  was_contact_made="Yes", outcome="Food referral ",
                  food_priority="Priority 2"),
    # no row's was_contact_made matches a branch -> zero call notes
    fixtures._row(nhs_number="910000002", latest_attempt_date="03/05/2020",
                  was_contact_made="Perhaps"),
    fixtures._row(nhs_number="910000002", latest_attempt_date="04/05/2020",
                  was_contact_made=""),
    # all four remaining-needs pipelines, spread over two rows in
    # reverse pipeline order
    fixtures._row(nhs_number="910000003", latest_attempt_date="05/05/2020",
                  was_contact_made="Yes", addl_misc_other1="odd jobs",
                  addl_financial="bills"),
    fixtures._row(nhs_number="910000003", latest_attempt_date="06/05/2020",
                  was_contact_made="No 2 attempts made",
                  addl_mental_wellbeing="lonely",
                  addl_medication_prescriptions="inhaler",
                  addl_safeguarding="concern"),
    # rows with an empty NHS number form one group of their own
    fixtures._row(nhs_number="", latest_attempt_date="07/05/2020",
                  was_contact_made="Maybe"),
    fixtures._row(nhs_number="", latest_attempt_date="08/05/2020",
                  was_contact_made="Yes", callback_date="call 09/05/2020",
                  addl_housing_waste="bins"),
    fixtures._row(nhs_number="910000001", latest_attempt_date="09/05/2020",
                  was_contact_made="No 3 attempts made",
                  addl_medication_prescriptions="meds"),
]


def test_quality_assurance_lookup_edges(spark, tmp_path):
    p = tmp_path / "qa_calls.csv"
    fixtures.write_calls_csv(str(p), QA_EDGE_ROWS)
    qa = prepare_calls(spark, str(p), USERS)["quality_assurance"]
    got = [
        {c: (v if v is None or isinstance(v, str) else v.isoformat())
         for c, v in r.asDict().items()}
        for r in qa.collect()
    ]
    want = ref_oracle.build(str(p), 101, 102, 103, 104)["quality_assurance"]
    assert got == want  # row order included

    by_row = {(r["nhs_number"], r["latest_attempt_date"]): r for r in got}
    first = by_row[("910000001", "2020-05-01")]
    assert first["food_need"].startswith("Food need created\nPriority: 2\n")
    assert first["callback_need"] == "Callback need created\nStart on: 2020-05-08"
    assert first["original_triage_status"] == "Completed"
    assert by_row[("910000002", "2020-05-03")]["original_triage_call_notes"] is None
    assert by_row[("910000003", "2020-05-05")]["remaining_needs"] == "\n".join([
        "Prescription Pickups (Assigned to 103)",
        "Physical And Mental Wellbeing (Assigned to 102)",
        "Financial Support (Assigned to 102)",
        "Other (Assigned to 104)",
        "Other (Assigned to 102)",
    ])
    blank = by_row[("", "2020-05-07")]
    assert blank["original_triage_status"] == "To do"
    assert blank["original_triage_call_notes"] == "phone_success"
    assert blank["callback_need"] == "Callback need created\nStart on: 2020-05-09"
    assert blank["remaining_needs"] == "Other (Assigned to 103)"
