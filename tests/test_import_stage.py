"""Tests for the relational import stage (SQL-script emulation):
RETURNING surrogate ids, note fan-out semantics, COALESCE updates,
inner-join drop of unmatched nhs_numbers (FIXTURES.md §A4)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from beacon_data_importer_spark.plans import import_stage as imp

D = datetime.date


def _contacts(spark):
    return spark.createDataFrame(
        [
            Row(id=10, nhs_number="N1", additional_info=None,
                delivery_details="keep-me", dietary_details=None,
                has_covid_symptoms=None),
            Row(id=20, nhs_number="N2", additional_info="old-info",
                delivery_details=None, dietary_details="vegan",
                has_covid_symptoms=False),
        ]
    )


def _empty_needs(spark):
    return spark.createDataFrame(
        [],
        "id long, contact_id long, category string, name string, "
        "created_at date, updated_at date, completed_on date, "
        "supplemental_data string, user_id long, start_on date",
    )


def _empty_notes(spark):
    return spark.createDataFrame(
        [],
        "id long, need_id long, category string, body string, "
        "created_at date, updated_at date, import_data string",
    )


def test_returning_pipeline_ids_and_note_fanout(spark):
    contacts = _contacts(spark)
    tmp_needs = spark.createDataFrame(
        [
            Row(nhs_number="N1", category="phone triage", name="a",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                completed_on=None),
            Row(nhs_number="N1", category="phone triage", name="b",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                completed_on=D(2020, 4, 2)),
            Row(nhs_number="NX", category="phone triage", name="c",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                completed_on=None),  # unmatched -> dropped
        ]
    )
    tmp_notes = spark.createDataFrame(
        [
            Row(nhs_number="N1", category="phone_import", body="note1",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                import_data="{}"),
            Row(nhs_number="N1", category="phone_success", body="note2",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                import_data=None),
            Row(nhs_number="N2", category="phone_import", body="note3",
                created_at=D(2020, 4, 1), updated_at=D(2020, 4, 1),
                import_data=None),  # no inserted need for N2 -> dropped
        ]
    )
    # the RETURNING pipeline as run_import composes it: insert the triage
    # needs, then attach the staged notes to those fresh ids
    needs0, notes0 = _empty_needs(spark), _empty_notes(spark)
    inserted = imp._insert_needs(contacts, [tmp_needs], needs0)
    needs = imp._append(needs0, inserted).collect()
    assert sorted(r.id for r in needs) == [1, 2]  # dense from max(0)
    assert all(r.contact_id == 10 for r in needs)  # NX dropped

    notes = imp._append(
        notes0, imp._attach_notes(contacts, tmp_notes, inserted, notes0)
    ).collect()
    # 2 inserted needs for N1 × 2 staged notes = 4 rows (SQL fan-out)
    assert len(notes) == 4
    assert sorted(r.id for r in notes) == [1, 2, 3, 4]
    assert {r.need_id for r in notes} == {1, 2}


def test_identified_needs_resolution_and_id_offset(spark):
    contacts = _contacts(spark)
    needs = spark.createDataFrame(
        [(7, 10, "x", None, D(2020, 1, 1), D(2020, 1, 1), None, None, None, None)],
        "id long, contact_id long, category string, name string, "
        "created_at date, updated_at date, completed_on date, "
        "supplemental_data string, user_id long, start_on date",
    )
    tmp = spark.createDataFrame(
        [
            ("N2", "groceries and cooked meals", "food", D(2020, 4, 1),
             D(2020, 4, 1), None,
             '{"food_service_type": "Grocery delivery"}', 101, None),
        ],
        "nhs_number string, category string, name string, created_at date, "
        "updated_at date, completed_on date, supplemental_data string, "
        "user_id long, start_on date",
    )
    out = imp._append(needs, imp._insert_needs(contacts, [tmp], needs)).collect()
    assert len(out) == 2
    new = [r for r in out if r.id == 8][0]  # max(7)+1
    assert new.contact_id == 20 and new.user_id == 101


def test_profile_updates_coalesce(spark):
    contacts = _contacts(spark)
    tmp = spark.createDataFrame(
        [
            ("N1", "new-info", None, "halal", True),
            ("NX", "ignored", None, None, None),
        ],
        "nhs_number string, additional_info string, delivery_details string, "
        "dietary_details string, has_covid_symptoms boolean",
    )
    out = {r.nhs_number: r for r in
           imp.import_contact_profile_updates(contacts, tmp).collect()}
    n1 = out["N1"]
    assert n1.additional_info == "new-info"
    assert n1.delivery_details == "keep-me"  # NULL staged -> keep old
    assert n1.dietary_details == "halal"
    assert n1.has_covid_symptoms is True
    n2 = out["N2"]  # untouched
    assert n2.additional_info == "old-info" and n2.has_covid_symptoms is False


def test_run_import_end_to_end(spark, tmp_path):
    """Full workflow: prepare-calls outputs → typed staging (incl.
    multiline quoted bodies) → RETURNING pipeline → identified needs →
    profile updates, against a parquet database dir."""
    import fixtures
    from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
    from beacon_data_importer_spark.plans.contacts import prepare_contacts
    from beacon_data_importer_spark.plans.import_stage import (
        init_contacts_from_csv,
        run_import,
    )
    from beacon_data_importer_spark.sources.csv import write_csv_file

    staging = tmp_path / "staging"
    db = tmp_path / "db"
    staging.mkdir()
    db.mkdir()
    calls_csv = str(tmp_path / "calls.csv")
    gds_csv = str(tmp_path / "gds.csv")
    fixtures.write_calls_csv(calls_csv)
    fixtures.write_gds_csv(gds_csv)

    users = CallsUsers(101, 102, 103, 104)
    for name, df in prepare_calls(spark, calls_csv, users).items():
        write_csv_file(df, str(staging / f"{name}.csv"))
    contacts_csv = str(tmp_path / "contacts.csv")
    write_csv_file(
        prepare_contacts(spark, gds_csv, "2020-05-01T12:00:00"), contacts_csv
    )

    init_contacts_from_csv(spark, contacts_csv).write.parquet(
        str(db / "contacts.parquet")
    )
    counts = run_import(spark, str(db), str(staging))
    assert counts == {"contacts": 4, "needs": 10, "notes": 16}

    needs = spark.read.parquet(str(db / "needs.parquet"))
    ident = needs.filter(needs.category == "groceries and cooked meals").collect()
    assert len(ident) == 1
    assert ident[0].user_id == 101
    assert '"food_priority":"1"' in ident[0].supplemental_data
    # multiline name survived the staging round-trip
    assert "\n" in ident[0].name and ident[0].name.startswith("[Import]:")

    notes = spark.read.parquet(str(db / "notes.parquet"))
    # contact with 2 triage needs x staged notes fan-out preserved
    assert notes.count() == 16
    imp = notes.filter(notes.category == "phone_import").collect()
    assert all(n.import_data for n in imp)


def test_ids_after_watermark_semantics(spark):
    """New ids continue past the table's max id: from 1 on an empty
    table, from max + 1 otherwise, NULL ids ignored."""
    new = spark.createDataFrame([("a",), ("b",)], "k string")

    def ids(table):
        return sorted(r.id for r in imp._ids_after(new, ["k"], table).collect())

    assert ids(_empty_needs(spark)) == [1, 2]
    assert ids(spark.createDataFrame([(3,), (41,), (7,)], "id long")) == [42, 43]
    assert ids(spark.createDataFrame([Row(id=None)], "id long")) == [1, 2]


def test_run_import_twice_into_existing_db(spark, tmp_path):
    """The existing-DB path: two imports of the same staged batch into a
    DB that already holds needs and notes.  New ids continue from each
    table's max, identified-need ids follow the batch's triage ids, notes
    attach to the fresh triage ids only (N×M per contact), and the
    returned counts equal the row counts in the written parquet files."""
    import csv
    import glob
    from collections import Counter

    import pyarrow.parquet as pq

    import fixtures
    from beacon_data_importer_spark.plans.calls import (
        MSG_ORIGINAL_TRIAGE_NEED,
        CallsUsers,
        prepare_calls,
    )
    from beacon_data_importer_spark.sources.csv import write_csv_file

    staging, db = tmp_path / "staging", tmp_path / "db"
    staging.mkdir()
    calls_csv = str(tmp_path / "calls.csv")
    fixtures.write_calls_csv(calls_csv)
    for name, df in prepare_calls(spark, calls_csv, CallsUsers(101, 102, 103, 104)).items():
        write_csv_file(df, str(staging / f"{name}.csv"))

    nhs_by_contact = {10: "900000001", 20: "900000002", 30: "900000004"}
    spark.createDataFrame(
        [(i, n, None, None, None, None) for i, n in nhs_by_contact.items()],
        "id long, nhs_number string, additional_info string, "
        "delivery_details string, dietary_details string, "
        "has_covid_symptoms boolean",
    ).write.parquet(str(db / "contacts.parquet"))
    spark.createDataFrame(
        [(5, 10, "phone triage", "old", D(2020, 1, 1), D(2020, 1, 1),
          None, None, None, None),
         (9, 20, "other", "old", D(2020, 1, 1), D(2020, 1, 1),
          None, None, 104, None)],
        imp.NEEDS_SCHEMA,
    ).write.parquet(str(db / "needs.parquet"))
    spark.createDataFrame(
        [(3, 5, "phone_import", "old", D(2020, 1, 1), D(2020, 1, 1), None),
         (40, 9, "phone_success", "old", D(2020, 1, 1), D(2020, 1, 1), None)],
        imp.NOTES_SCHEMA,
    ).write.parquet(str(db / "notes.parquet"))

    def staged_per_contact(*names: str) -> Counter:
        out: Counter = Counter()
        for name in names:
            with open(staging / f"{name}.csv", newline="") as fh:
                out.update(r["nhs_number"] for r in csv.DictReader(fh))
        return Counter({n: out[n] for n in nhs_by_contact.values() if out[n]})

    triage_per = staged_per_contact("original_triage_needs")
    notes_per = staged_per_contact("original_triage_notes")
    n_triage = sum(triage_per.values())
    n_ident = sum(staged_per_contact(
        "food_needs", "callback_needs", "remaining_needs").values())
    n_notes = sum(k * notes_per[n] for n, k in triage_per.items())
    assert (n_triage, n_ident, n_notes) == (4, 3, 14)

    def parquet_rows(name: str) -> int:
        return sum(pq.read_metadata(f).num_rows
                   for f in glob.glob(str(db / f"{name}.parquet" / "*.parquet")))

    needs_top, notes_top, old_needs, old_notes = 9, 40, 2, 2
    for k in (1, 2):
        counts = imp.run_import(spark, str(db), str(staging))
        assert counts == {name: parquet_rows(name)
                          for name in ("contacts", "needs", "notes")}
        assert counts == {"contacts": 3,
                          "needs": old_needs + k * (n_triage + n_ident),
                          "notes": old_notes + k * n_notes}

        needs = spark.read.parquet(str(db / "needs.parquet"))
        new = needs.filter(needs.id > needs_top).collect()
        triage = [r for r in new if r.name == MSG_ORIGINAL_TRIAGE_NEED]
        ident = [r for r in new if r.name != MSG_ORIGINAL_TRIAGE_NEED]
        triage_ids = sorted(r.id for r in triage)
        assert triage_ids == list(range(needs_top + 1, needs_top + 1 + n_triage))
        assert sorted(r.id for r in ident) == list(
            range(triage_ids[-1] + 1, triage_ids[-1] + 1 + n_ident))
        # triage ids in nhs_number order
        assert [nhs_by_contact[r.contact_id] for r in sorted(triage, key=lambda r: r.id)] \
            == sorted(nhs_by_contact[r.contact_id] for r in triage)

        notes = spark.read.parquet(str(db / "notes.parquet"))
        fresh = notes.filter(notes.id > notes_top).collect()
        assert sorted(r.id for r in fresh) == list(
            range(notes_top + 1, notes_top + 1 + n_notes))
        assert {r.need_id for r in fresh} == set(triage_ids)
        contact_of = {r.id: r.contact_id for r in triage}
        assert Counter(nhs_by_contact[contact_of[r.need_id]] for r in fresh) == Counter(
            {n: k * notes_per[n] for n, k in triage_per.items()})
        # the rows that were there before are untouched
        assert notes.filter(notes.id <= notes_top).count() == old_notes + (k - 1) * n_notes
        needs_top = max(r.id for r in new)
        notes_top = max(r.id for r in fresh)


def test_run_import_ids_do_not_depend_on_the_plan(spark, tmp_path, monkeypatch):
    """Needs and notes are numbered in a total order, so the ids do not
    depend on the physical plan.  Three imports of the fixtures into
    fresh DBs write the same tables, ids included: a plain one, one whose
    inserted needs are materialised before the concurrent writes start
    (the notes query is then planned against the cache), and one whose
    staged CSVs list their rows in reverse (tied rows then reach the
    numbering windows in another order)."""
    import csv

    import fixtures
    from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
    from beacon_data_importer_spark.plans.contacts import prepare_contacts
    from beacon_data_importer_spark.sources.csv import write_csv_file

    staging, reversed_staging = tmp_path / "staging", tmp_path / "reversed"
    staging.mkdir()
    reversed_staging.mkdir()
    calls_csv, gds_csv = str(tmp_path / "calls.csv"), str(tmp_path / "gds.csv")
    contacts_csv = str(tmp_path / "contacts.csv")
    fixtures.write_calls_csv(calls_csv)
    fixtures.write_gds_csv(gds_csv)
    for name, df in prepare_calls(spark, calls_csv, CallsUsers(101, 102, 103, 104)).items():
        write_csv_file(df, str(staging / f"{name}.csv"))
        with open(staging / f"{name}.csv", newline="") as fh:
            header, *rows = csv.reader(fh)
        with open(reversed_staging / f"{name}.csv", "w", newline="") as fh:
            csv.writer(fh).writerows([header, *rows[::-1]])
    write_csv_file(prepare_contacts(spark, gds_csv, "2020-05-01T12:00:00"), contacts_csv)

    def import_into(db, staged=staging):
        imp.init_contacts_from_csv(spark, contacts_csv).write.parquet(
            str(db / "contacts.parquet"))
        imp.run_import(spark, str(db), str(staged))
        return {
            name: sorted(spark.read.parquet(str(db / f"{name}.parquet")).collect(), key=repr)
            for name in ("contacts", "needs", "notes")
        }

    plain = import_into(tmp_path / "plain")
    assert [len(plain[n]) for n in ("contacts", "needs", "notes")] == [4, 10, 16]
    assert import_into(tmp_path / "from_reversed", reversed_staging) == plain

    insert_needs = imp._insert_needs

    def materialised(*args):
        df = insert_needs(*args).cache()
        df.count()
        return df

    monkeypatch.setattr(imp, "_insert_needs", materialised)
    assert import_into(tmp_path / "cached") == plain
