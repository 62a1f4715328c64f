"""The relational import stage — Spark emulation of the reference's
Postgres scripts (SURVEY §2.9, §4.3.1-2; ``sql/*.sql``).

The reference loads the prepared CSVs into typed staging tables and runs
three scripts; the one hard construct is the data-modifying CTE with
RETURNING (insert triage needs, capture generated ids, attach notes to
those fresh ids — ``import_original_triage_needs_and_notes.sql:5-40``).
Spark emulation: assign ``id = max_existing + row_number()`` BEFORE the
append (``max_existing`` a one-row aggregate broadcast in the JVM), keep
the id-bearing frame, and run the notes join against it.
Note multiplication semantics are preserved: a contact with N inserted
needs × M staged notes yields N×M note rows, exactly like the SQL.

Typed staging boundary: ``create_tmp_tables.sql:1-41`` fixes the column
types — enforced here by explicit casts at `stage_*` construction.

100 TB posture: joins are key-shuffles (broadcast the contacts_map side
when bounded); id assignment is the only global window and operates on
the per-import staging batch, never the full fact table.
"""

from __future__ import annotations

import csv
import os
import shutil
from functools import partial
from os.path import join

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.surrogate import assign_surrogate_ids
from ..operators.upsert import update_from
from ..session import run_concurrently

# Typed staging boundary — the engine's equivalent of
# ``create_tmp_tables.sql:1-41`` (S7): the all-string prepared CSVs are
# cast to real types here.
def _st(*fields: tuple[str, object, bool]) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


STAGING_SCHEMAS: dict[str, StructType] = {
    "original_triage_needs": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("name", StringType(), False),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("completed_on", DateType(), True),
    ),
    "original_triage_notes": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("body", StringType(), False),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("import_data", StringType(), True),  # jsonb carried as JSON string
    ),
    "identified_needs": _st(
        ("nhs_number", StringType(), False),
        ("category", StringType(), False),
        ("name", StringType(), True),
        ("created_at", DateType(), False),
        ("updated_at", DateType(), False),
        ("completed_on", DateType(), True),
        ("supplemental_data", StringType(), True),
        ("user_id", LongType(), True),
        ("start_on", DateType(), True),
    ),
    "contact_profile_updates": _st(
        ("nhs_number", StringType(), False),
        ("additional_info", StringType(), True),
        ("delivery_details", StringType(), True),
        ("dietary_details", StringType(), True),
        ("has_covid_symptoms", BooleanType(), True),
    ),
}


def read_staging(spark: SparkSession, csv_path: str, kind: str) -> DataFrame:
    """Load a prepared CSV into its typed staging frame (the ``\\COPY``
    + typed-tmp-table step, S6/S7).  Empty cells → NULL, then cast per
    the declared schema; 'True'/'False' strings → boolean."""
    schema = STAGING_SCHEMAS[kind]
    # the header, read here, names the (all-string) columns: Spark would
    # otherwise run one job per file to infer them
    with open(csv_path, newline="") as fh:
        header = next(csv.reader(fh), [])
    # multiLine: note bodies / need names contain embedded newlines
    # (compose_body); escape='"' matches csv-writer quote doubling.
    raw = (
        spark.read.schema(StructType([StructField(c, StringType()) for c in header]))
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(csv_path)
    )
    cols = []
    for f in schema.fields:
        if f.name not in raw.columns:
            # the three needs CSVs carry different column subsets; the
            # staging table pads the rest (\COPY with a column list)
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        c = F.when(F.col(f.name) != "", F.col(f.name))  # '' -> NULL
        if isinstance(f.dataType, BooleanType):
            c = F.when(F.lower(c) == "true", F.lit(True)).when(
                F.lower(c) == "false", F.lit(False)
            )
        else:
            c = c.cast(f.dataType)
        cols.append(c.alias(f.name))
    return raw.select(*cols)


def _ids_after(
    df: DataFrame, order_by: list[str | Column], table: DataFrame
) -> DataFrame:
    """``assign_surrogate_ids`` numbering past ``table``'s largest ``id``
    (0 when it is empty) — the RETURNING emulation's id watermark.  The
    watermark is a one-row aggregate broadcast onto ``df`` in the JVM,
    never a scalar collected to the driver: reading ``table`` is part of
    the query that writes the ids."""
    top = table.agg(F.coalesce(F.max("id"), F.lit(0)).cast("long").alias("__top"))
    return (
        assign_surrogate_ids(df, order_by, id_col="id")
        .crossJoin(F.broadcast(top))
        .withColumn("id", F.col("id") + F.col("__top"))
        .drop("__top")
    )


def contacts_map(contacts: DataFrame) -> DataFrame:
    """``WITH contacts_map AS (SELECT id AS contact_id, nhs_number …)``
    (M1, ``import_identified_needs.sql:1-5``)."""
    return contacts.select(F.col("id").alias("contact_id"), "nhs_number")


def _append(table: DataFrame, rows: DataFrame) -> DataFrame:
    """``INSERT INTO table SELECT …``: the table's columns that ``rows``
    has, the rest NULL."""
    return table.unionByName(
        rows.select(*[c for c in table.columns if c in rows.columns]),
        allowMissingColumns=True,
    )


# the needs numbering key: the batch, the reference's sort columns, then
# every other column an inserted row can carry (a triage batch lacks the
# last three staged ones; contact_id separates the contacts that share
# an NHS number)
_NEED_ORDER = (
    "__batch",
    "nhs_number",
    "category",
    "name",
    "created_at",
    "updated_at",
    "completed_on",
    "supplemental_data",
    "user_id",
    "start_on",
    "contact_id",
)


def _insert_needs(
    contacts: DataFrame, batches: list[DataFrame], needs: DataFrame
) -> DataFrame:
    """The INSERT…SELECT of staged needs (``import_identified_needs.sql:
    6-27``, ``import_original_triage_needs_and_notes.sql:5-20``): resolve
    each contact id (inner join — unmatched NHS numbers drop out) and
    number the rows past ``needs``' max id in one window, batch by batch,
    then by (nhs_number, category, name), then by the row's remaining
    columns.  Postgres RETURNING order is arbitrary; the engine's order
    is total, so only identical rows tie and the ids do not depend on
    the physical plan (which join the optimizer picks, or whether a
    cached input already exists).  Rows keep ``__batch`` (their index in
    ``batches``)."""
    staged = None
    for i, batch in enumerate(batches):
        batch = batch.withColumn("__batch", F.lit(i))
        staged = (
            batch
            if staged is None
            else staged.unionByName(batch, allowMissingColumns=True)
        )
    resolved = staged.join(F.broadcast(contacts_map(contacts)), "nhs_number")
    order = [c for c in _NEED_ORDER if c in resolved.columns]
    return _ids_after(resolved, order, needs)


def _attach_notes(
    contacts: DataFrame,
    tmp_notes: DataFrame,
    inserted_triage: DataFrame,
    notes: DataFrame,
) -> DataFrame:
    """notes ⋈ contacts_map ⋈ inserted triage needs ON contact_id, numbered
    past ``notes``' max id in the order of all of a note's columns (total,
    as in `_insert_needs`).  N×M fan-out preserved (``…sql:29-39``)."""
    ins_keys = inserted_triage.select(
        F.col("id").alias("need_id"), F.col("contact_id").alias("__cid")
    )
    attached = (
        tmp_notes.join(F.broadcast(contacts_map(contacts)), "nhs_number")
        .join(ins_keys, F.col("contact_id") == F.col("__cid"))
        .select(
            "need_id", "category", "body", "created_at", "updated_at", "import_data"
        )
    )
    return _ids_after(attached, attached.columns, notes)


PROFILE_COLS = [
    "additional_info",
    "delivery_details",
    "dietary_details",
    "has_covid_symptoms",
]

# persistent application tables (FIXTURES.md §A4)
NEEDS_SCHEMA = _st(
    ("id", LongType(), False),
    ("contact_id", LongType(), False),
    ("category", StringType(), False),
    ("name", StringType(), True),
    ("created_at", DateType(), False),
    ("updated_at", DateType(), False),
    ("completed_on", DateType(), True),
    ("supplemental_data", StringType(), True),
    ("user_id", LongType(), True),
    ("start_on", DateType(), True),
)
NOTES_SCHEMA = _st(
    ("id", LongType(), False),
    ("need_id", LongType(), False),
    ("category", StringType(), False),
    ("body", StringType(), False),
    ("created_at", DateType(), False),
    ("updated_at", DateType(), False),
    ("import_data", StringType(), True),
)


def init_contacts_from_csv(spark: SparkSession, contacts_csv: str) -> DataFrame:
    """Create the persistent ``contacts`` table from a prepared
    contacts.csv (the step the Beacon app itself performs): surrogate ids
    assigned deterministically by nhs_number order; profile columns start
    NULL."""
    raw = spark.read.option("header", True).csv(contacts_csv)
    base = raw.select(
        F.when(F.col("nhs_number") != "", F.col("nhs_number")).alias("nhs_number"),
        "first_name",
        "surname",
    )
    with_ids = assign_surrogate_ids(base, ["nhs_number", "surname"], "id", 0)
    return with_ids.select(
        F.col("id").cast("long"),
        "nhs_number",
        "first_name",
        "surname",
        F.lit(None).cast(StringType()).alias("additional_info"),
        F.lit(None).cast(StringType()).alias("delivery_details"),
        F.lit(None).cast(StringType()).alias("dietary_details"),
        F.lit(None).cast(BooleanType()).alias("has_covid_symptoms"),
    )


def _table_or_empty(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The parquet table at ``path``, or — before its first import — an
    empty relation of ``schema`` built in the JVM.  (``createDataFrame([],
    schema)`` would parallelize the empty list through Python workers.)"""
    if os.path.exists(path):
        return spark.read.parquet(path)
    jspark = spark._jsparkSession
    return DataFrame(
        jspark.createDataFrame(
            spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())
        ),
        spark,
    )


def run_import(spark: SparkSession, db_dir: str, staging_dir: str) -> dict[str, int]:
    """Execute the full import workflow (``README.md:64-101``) against a
    parquet database directory:

      1. load staging CSVs into typed frames (tmp tables);
         the three needs files (food/callback/remaining) union into
         tmp_identified_needs exactly like the three ``\\COPY`` calls;
      2. insert triage and identified needs in one numbering window,
         triage ids first — the ids the two scripts give when run in turn;
      3. attach the staged notes to the fresh triage ids (RETURNING);
      4. contact profile UPDATE…FROM;
      5. write each new table version, then swap them in.

    No value is read back to the driver: the id watermarks are JVM-side
    aggregates, the inserted needs are cached once for both the needs and
    the notes write, and the returned row counts per table are observed
    on the writes themselves.  The three writes read none of each
    other's output and run as concurrent jobs (`run_concurrently`).
    They go to ``*.new``, and the renames run once all three are written
    — Spark cannot overwrite an input path it is lazily reading.
    """
    contacts = spark.read.parquet(join(db_dir, "contacts.parquet"))
    needs = _table_or_empty(spark, join(db_dir, "needs.parquet"), NEEDS_SCHEMA)
    notes = _table_or_empty(spark, join(db_dir, "notes.parquet"), NOTES_SCHEMA)

    def staged(name: str, kind: str) -> DataFrame:
        return read_staging(spark, join(staging_dir, f"{name}.csv"), kind)

    tmp_triage = staged("original_triage_needs", "original_triage_needs")
    tmp_notes = staged("original_triage_notes", "original_triage_notes")
    tmp_ident = staged("food_needs", "identified_needs")
    for name in ("callback_needs", "remaining_needs"):
        tmp_ident = tmp_ident.unionByName(staged(name, "identified_needs"))
    tmp_updates = staged("contact_profile_updates", "contact_profile_updates")

    inserted = _insert_needs(contacts, [tmp_triage, tmp_ident], needs).cache()
    triage = inserted.filter(F.col("__batch") == 0)
    outputs = {
        "contacts": import_contact_profile_updates(contacts, tmp_updates),
        "needs": _append(needs, inserted),
        "notes": _append(notes, _attach_notes(contacts, tmp_notes, triage, notes)),
    }

    def write(name: str, df: DataFrame) -> int:
        written = Observation(name)
        df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(join(db_dir, f"{name}.parquet.new"))
        return written.get["rows"]

    rows = run_concurrently([partial(write, n, df) for n, df in outputs.items()])
    counts = dict(zip(outputs, rows))
    inserted.unpersist()
    for name in outputs:
        final = join(db_dir, f"{name}.parquet")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(join(db_dir, f"{name}.parquet.new"), final)
    return counts


def import_contact_profile_updates(
    contacts: DataFrame, tmp_updates: DataFrame
) -> DataFrame:
    """``import_contact_profile_updates.sql:1-7`` — UPDATE…FROM with
    per-column COALESCE, as join-coalesce-overwrite.  The staging side is
    first-wins deduplicated (Postgres picks an arbitrary match on 1:N;
    the engine keeps the lexicographically first profile)."""
    staging = tmp_updates.select("nhs_number", *PROFILE_COLS)
    return update_from(contacts, staging, "nhs_number", PROFILE_COLS, PROFILE_COLS)
