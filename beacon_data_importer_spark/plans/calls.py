"""The call-log pipeline — Spark plans with the semantics of the
reference's ``prepare-calls`` command (``prepare_calls.py:20-191``).

One shared base frame (cached — the direct fix for the reference's ~12×
CSV re-parse, ``prepare_calls.py:145-156,176-191``) that also carries the
labeled "Label: value" pieces of every note body, computed once per row;
nine derived frames; and a QA frame built from one keyed aggregate over
the base (one ``groupBy("nhs_number")`` and one broadcast join back)
instead of five driver-memory hash maps.

Faithfully reproduced quirks (SURVEY §7.6.5):
  * the ``support_already_geting`` typo silently drops that field from
    additional_info (``prepare_calls.py:221``);
  * ``book_weekly_food_delivery == True`` is a dead branch (string
    compared to Python True, ``prepare_calls.py:316``) — omitted as dead,
    flagged here;
  * trailing-space literals ``'Food referral '`` / ``'Call back '``
    (``prepare_calls.py:310,317``);
  * rows whose ``was_contact_made`` matches no branch produce ZERO note
    rows (petl swallows the generator's UnboundLocalError, G2).

First-wins QA lookups need an explicit order (petl used source order;
Spark has none) — the base frame carries ``__source_row`` assigned from
CSV file order via zipWithIndex.

100 TB posture: everything below is filters/projections/explode (narrow)
plus the QA aggregate (one exchange; its result, one row per contact of
the import batch, is broadcast back).  ``.cache()`` replaces re-parse;
at warehouse scale the base would be a written staging table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config.calls_schema import FIELDS, LABELED_FIELDS, LABELS, LOGICAL_NAMES
from ..functions import expressions as E
from ..operators.flatmap import explode_counted
from ..sources.csv import col_exact, read_csv_stringly

MSG_ORIGINAL_TRIAGE_NEED = "[Import]: Imported from call log spreadsheet"
MSG_CALL_LOG_NOTE = "[Import]: Imported call log"
MSG_GENERIC_NEED = "[Import]: Need created automatically from imported call log"
MSG_CALLBACK_NEED = (
    "[Import]: Callback need created automatically because the imported "
    "call log had a food need or callback date specified"
)
MSG_CLOSED_FOOD_NEED = (
    "[Import]: Marked completed because priority 1 and 2 food needs were "
    "all met by the time the call log was imported"
)
MSG_OTHER_NEED = (
    '[Import]: Need created automatically because the imported call log '
    'had an "Other referral" or filled in "Additional support"'
)

NEEDS_FIELDS = ["nhs_number", "category", "name", "created_at", "updated_at"]
NOTES_FIELDS = ["nhs_number", "category", "body", "created_at", "updated_at"]

ROW = "__source_row"
#: the base column holding each row's compose_body pieces, one per
#: LABELED_FIELDS entry ("Label: value", or NULL for a blank value)
PIECES = "__pieces"
_PIECE_AT = {logical: i for i, (_, logical) in enumerate(LABELED_FIELDS)}


@dataclass(frozen=True)
class CallsUsers:
    """The four CLI user-id parameters (``prepare_calls.py:24-27``) —
    query parameters bound as literals at plan-build time."""

    food_needs_user: int
    complex_needs_user: int
    simple_needs_user: int
    call_log_review_user: int


def _with_source_row(df: DataFrame) -> DataFrame:
    """Attach the CSV file-order row index (petl's implicit order, made
    explicit; SURVEY §4.3.5) — entirely JVM-side.

    ``_metadata.row_index`` is parquet-only, so the index is rebuilt
    from what the CSV scan does expose: ``(_metadata.file_path,
    _metadata.file_block_start)`` identifies each scan split in byte
    order, and ``monotonically_increasing_id()`` is a contiguous
    counter within a scan partition (and therefore within each split,
    since splits never straddle partitions).  Global file order is then
    ``block offset + (mid − min(mid within block))`` where block
    offsets are a prefix sum over ``(file, block_start)``.

    Cost/scale: one groupBy whose result is one row per scan split
    (~8k rows per TB at 128 MB splits) + a broadcast join back; the
    prefix-sum window runs over that tiny split table only.  This
    replaces the round-3 ``df.rdd.zipWithIndex()`` JVM→Python→JVM
    round-trip over every row (VERDICT r3 "What's wrong" #2), and —
    unlike zipWithIndex — stays correct when Spark's bin-packing
    orders splits by size rather than by file offset."""
    base = df.select(
        "*",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.file_block_start").alias("__bs"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    blocks = base.groupBy("__f", "__bs").agg(
        F.min("__mid").alias("__mid0"), F.count(F.lit(1)).alias("__n")
    )
    w = (
        Window.orderBy("__f", "__bs")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = blocks.select(
        "__f",
        "__bs",
        "__mid0",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"),
    )
    return (
        base.join(F.broadcast(offsets), ["__f", "__bs"])
        .withColumn(ROW, (F.col("__off") + F.col("__mid") - F.col("__mid0")).cast("long"))
        .drop("__f", "__bs", "__mid", "__mid0", "__off")
    )


class CallsHeaderError(ValueError):
    """The calls CSV is missing expected original headers (several carry
    byte-significant trailing spaces — SURVEY §1.3); raised instead of
    letting the rename select die with a raw AnalysisException."""


def validate_calls_header(df: DataFrame) -> None:
    missing = [orig for _, orig, _ in FIELDS if orig not in df.columns]
    if missing:
        shown = ", ".join(repr(m) for m in missing[:5])
        more = f" (+{len(missing) - 5} more)" if len(missing) > 5 else ""
        raise CallsHeaderError(
            f"calls CSV is missing {len(missing)} expected header(s): "
            f"{shown}{more}.  Headers must match the source spreadsheet "
            "byte-for-byte (several have trailing spaces) and the file "
            "must be windows-1252 encoded."
        )


def base_spreadsheet(spark: SparkSession, calls_file_path: str) -> DataFrame:
    """The shared base plan (``prepare_calls.py:33-41``): windows-1252
    scan → rename → non-empty-date filter → provenance JSON (over RAW
    values — serialization happens before date conversion) → date parse →
    created/updated stamps → the labeled body pieces (``PIECES``).
    Cached: ~12 downstream consumers, 8 of which compose a body."""
    df = read_csv_stringly(spark, calls_file_path, encoding="windows-1252")
    validate_calls_header(df)
    # rename via aliasing select: the original headers contain dots/colons
    # that name-parsing APIs (withColumnsRenamed/F.col) misread; df[...]
    # resolves exact names.  Also pins the 29-column order.
    df = df.select(
        *[col_exact(orig).alias(logical) for logical, orig, _ in FIELDS]
    )
    df = _with_source_row(df)
    df = df.filter(F.col("latest_attempt_date") != "")  # F1: raw truthiness
    df = df.withColumn("import_data", E.json_provenance(list(LOGICAL_NAMES)))
    df = df.withColumn(
        "latest_attempt_date", E.parse_date_dmy("latest_attempt_date")
    )
    df = df.withColumn("created_at", F.col("latest_attempt_date"))
    df = df.withColumn("updated_at", F.col("latest_attempt_date"))
    df = df.withColumn(
        PIECES,
        F.array(*E.labeled_pieces(
            (label, F.col(logical)) for label, logical in LABELED_FIELDS
        )),
    )
    return df.cache()


def _compose(
    prefix: list[str | Column] | None = None,
    override: tuple[str, Column] | None = None,
) -> Column:
    """compose_body over the full labeled field list, from the pieces
    cached on the base: prefix lines (literal, or a Column that is NULL
    when the line is absent) in front, and optionally one converted field
    (food_priority, callback_date) re-rendered at its position."""
    pieces = F.col(PIECES)
    if override is not None:
        logical, value = override
        i = _PIECE_AT[logical]
        pieces = F.concat(
            F.slice(pieces, 1, i),
            F.array(*E.labeled_pieces([(LABELS[logical], value)])),
            F.slice(pieces, i + 2, len(LABELED_FIELDS) - i - 1),
        )
    lines = [F.lit(p) if isinstance(p, str) else p for p in prefix or []]
    return F.concat_ws("\n", *lines, pieces)


# ---------------------------------------------------------------------------
# row rules (F3–F5 and the per-frame expressions, ``prepare_calls.py:
# 235-348``) — shared by derive_frames and the QA aggregate
# ---------------------------------------------------------------------------

def _needs_food_raw() -> Column:
    # trailing space in 'Food referral ' is source-data-faithful
    return F.col("outcome").isin("Food referral ", "Food and Other referral") | (
        F.col("food_priority") != ""
    )


def _has_complex_other_need() -> Column:
    return (
        (F.col("addl_adult_social_care") != "")
        | (F.col("addl_children_services") != "")
        | (F.col("addl_safeguarding") != "")
    )


def _has_simple_other_need() -> Column:
    return (
        (F.col("addl_housing_waste") != "")
        | (F.col("addl_medical_appt_transport") != "")
        | (F.col("addl_referrals") != "")
    )


def _has_misc_other_need() -> Column:
    return (F.col("addl_misc_other1") != "") | (F.col("addl_misc_other2") != "")


def _needs_other_support() -> Column:
    return (
        F.col("outcome").isin("Other referral", "Food and Other referral")
        | _has_complex_other_need()
        | _has_simple_other_need()
        | _has_misc_other_need()
    )


def _status(completed_on: Column) -> Column:
    return F.when(completed_on.isNotNull(), "Completed").otherwise("To do")


def _triage_completed_on() -> Column:
    return E.determine_completion(
        "was_contact_made", ["yes", "no 3 attempts made"], "latest_attempt_date"
    )


def _call_note_category_and_count() -> tuple[Column, Column]:
    """Category and number of the call-note rows a call-log row yields
    (``prepare_calls.py:248-274``)."""
    lwcm = F.lower(F.col("was_contact_made"))
    failure_cat = F.when(
        F.col("outcome") == "Left voicemail", "phone_message"
    ).otherwise("phone_failure")
    category = (
        F.when(lwcm == "yes", "phone_success")
        .when(
            lwcm.isin(
                "no -1 attempt made",
                "invalid phone numbers",
                "no 2 attempts made",
                "no 3 attempts made",
            ),
            failure_cat,
        )
    )
    count = (
        F.when(lwcm == "yes", 1)
        .when(lwcm.isin("no -1 attempt made", "invalid phone numbers"), 1)
        .when(lwcm == "no 2 attempts made", 2)
        .when(lwcm == "no 3 attempts made", 3)
        .otherwise(0)  # G2: unmatched rows yield zero note rows
    )
    return category, count


def _food_priority() -> Column:
    """The parsed priority digit of the raw ``food_priority`` cell."""
    return E.parse_food_priority("food_priority")


def _food_completed_on(priority: Column) -> Column:
    return F.when(priority.isin("1", "2"), F.col("latest_attempt_date"))


def _food_block(priority: Column, user: int) -> Column:
    """The QA sheet's food-need cell for a food need of ``priority``."""
    return F.concat(
        F.lit("Food need created\nPriority: "),
        F.coalesce(priority, F.lit("")),
        F.lit("\nStatus: "),
        _status(_food_completed_on(priority)),
        F.lit("\nAssigned to: "),
        F.lit(user).cast("string"),
    )


def _callback_date() -> Column:
    """The date embedded in the raw ``callback_date`` cell, or NULL."""
    return E.parse_embedded_date("callback_date")


def _needs_callback(callback_date: Column) -> Column:
    # the reference's `book_weekly_food_delivery == True` disjunct is dead
    # (string vs Python True) and is reproduced as dead
    return (
        callback_date.isNotNull()
        | _needs_food_raw()
        | (F.col("outcome") == "Call back ")  # trailing space faithful
    )


def _remaining_pipelines(users: CallsUsers) -> list[tuple[str, Column, str, Column]]:
    """The four remaining-needs pipelines in output order
    (``prepare_calls.py:92-129,342-348``): frame name, row predicate,
    category and assigned user."""
    other_user = (
        F.when(_has_complex_other_need(), users.complex_needs_user)
        .when(_has_simple_other_need(), users.simple_needs_user)
        .otherwise(users.call_log_review_user)
    )
    return [
        (
            "prescription_needs",
            F.col("addl_medication_prescriptions") != "",
            "prescription pickups",
            F.lit(users.simple_needs_user),
        ),
        (
            "mental_wellbeing_needs",
            F.col("addl_mental_wellbeing") != "",
            "physical and mental wellbeing",
            F.lit(users.complex_needs_user),
        ),
        (
            "financial_needs",
            F.col("addl_financial") != "",
            "financial support",
            F.lit(users.complex_needs_user),
        ),
        ("other_needs", _needs_other_support(), "other", other_user),
    ]


# ---------------------------------------------------------------------------
# the nine derived frames
# ---------------------------------------------------------------------------

def derive_frames(base: DataFrame, users: CallsUsers) -> dict[str, DataFrame]:
    """All derived frames, each still carrying __source_row (callers
    project it away via the *_FIELDS lists)."""
    frames: dict[str, DataFrame] = {}

    # original_triage_needs (``prepare_calls.py:46-52``)
    frames["original_triage_needs"] = base.select(
        ROW,
        *[F.col(c) for c in ("nhs_number", "created_at", "updated_at")],
        F.lit("phone triage").alias("category"),
        F.lit(MSG_ORIGINAL_TRIAGE_NEED).alias("name"),
        _triage_completed_on().alias("completed_on"),
    )

    # original_triage_call_notes via flatMap (``prepare_calls.py:55-61,248-274``)
    category, count = _call_note_category_and_count()
    notes_base = base.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        category.alias("category"),
        count.alias("__count"),
    )
    frames["original_triage_call_notes"] = explode_counted(
        notes_base,
        F.col("__count"),
        [ROW, "nhs_number", "created_at", "updated_at", "category"],
        attempt_col="__attempt",
    ).withColumn("body", F.lit(MSG_CALL_LOG_NOTE))

    # original_triage_import_notes (``prepare_calls.py:63-68``)
    frames["original_triage_import_notes"] = base.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        F.lit("phone_import").alias("category"),
        _compose().alias("body"),
        "import_data",
    )

    # food_needs (``prepare_calls.py:70-80``)
    food = base.filter(_needs_food_raw()).withColumn(
        "food_priority", _food_priority()
    )
    supplemental = F.when(
        F.col("food_priority").isNotNull(),
        F.to_json(
            F.struct(
                F.lit("Grocery delivery").alias("food_service_type"),
                F.col("food_priority").alias("food_priority"),
            )
        ),
    ).otherwise(
        F.to_json(F.struct(F.lit("Grocery delivery").alias("food_service_type")))
    )
    food = (
        food.withColumn("supplemental_data", supplemental)
        .withColumn("completed_on", _food_completed_on(F.col("food_priority")))
        .withColumn("user_id", F.lit(users.food_needs_user))
    )
    frames["food_needs"] = food.withColumn(
        "category", F.lit("groceries and cooked meals")
    ).withColumn(
        "name",
        _compose(
            [
                MSG_GENERIC_NEED,
                F.when(F.col("completed_on").isNotNull(), MSG_CLOSED_FOOD_NEED),
            ],
            override=("food_priority", F.col("food_priority")),
        ),
    )

    # callback_needs (``prepare_calls.py:82-90``)
    cb = base.withColumn("callback_date", _callback_date())
    cb = cb.filter(_needs_callback(F.col("callback_date")))
    frames["callback_needs"] = cb.select(
        ROW,
        "nhs_number",
        "created_at",
        "updated_at",
        F.lit("phone triage").alias("category"),
        _compose(
            [MSG_CALLBACK_NEED],
            override=("callback_date", F.col("callback_date").cast("string")),
        ).alias("name"),
        E.callback_start_date("callback_date", "latest_attempt_date").alias(
            "start_on"
        ),
    )

    # prescription / mental-wellbeing / financial / other needs
    # (``prepare_calls.py:92-129``)
    for key, wanted, cat, user in _remaining_pipelines(users):
        frames[key] = base.filter(wanted).select(
            ROW,
            "nhs_number",
            "created_at",
            "updated_at",
            F.lit(cat).alias("category"),
            _compose([MSG_OTHER_NEED]).alias("name"),
            user.alias("user_id"),
        )

    # contact_profile_updates (``prepare_calls.py:132-143``); the
    # additional_info pluck reproduces the reference's
    # 'support_already_geting' typo — that field is silently excluded.
    frames["contact_profile_updates"] = base.select(
        ROW,
        "nhs_number",
        E.compose_body(
            [
                ("How many people in household", F.col("household_count")),
                ("Notes", F.col("notes")),
            ]
        ).alias("additional_info"),
        E.compose_body(
            [
                ("Delivery contact details", F.col("delivery_contact")),
                ("Any special delivery information", F.col("delivery_special_info")),
            ]
        ).alias("delivery_details"),
        E.nullify_no("dietary_requirements").alias("dietary_details"),
        E.parse_yes_no("has_covid_symptoms").alias("has_covid_symptoms"),
    )

    return frames


# ---------------------------------------------------------------------------
# QA (one keyed aggregate replacing five driver hash maps,
# ``prepare_calls.py:145-173``)
# ---------------------------------------------------------------------------

def quality_assurance(base: DataFrame, users: CallsUsers) -> DataFrame:
    """Each call-log row with what its contact got across all frames.

    The reference's five lookups (first triage need, all call notes,
    first food need, first callback need, all remaining needs) are one
    ``groupBy("nhs_number")`` over the base, evaluated with the same row
    rules as :func:`derive_frames`: a first-wins lookup is
    ``min_by(value, when(predicate, __source_row))``, a multi-valued one a
    ``collect_list`` sorted into source order (NULL when empty).  The
    aggregate is broadcast back onto the base, which keeps its row
    order."""
    row = F.col(ROW)
    category, count = _call_note_category_and_count()
    notes = F.array_sort(
        F.collect_list(F.struct(row, F.array_repeat(category, count).alias("c")))
    )["c"]
    # a row's remaining needs, NULL where a pipeline passes it by; sorting
    # on (pipeline, source row) gives the 4-way cat's order
    row_needs = F.array(*[
        F.when(
            wanted,
            F.struct(
                F.lit(i).alias("pipe"),
                row,
                F.concat(
                    F.initcap(F.lit(cat)),
                    F.lit(" (Assigned to "),
                    user.cast("string"),
                    F.lit(")"),
                ).alias("line"),
            ),
        )
        for i, (_, wanted, cat, user) in enumerate(_remaining_pipelines(users))
    ])
    remaining = F.array_sort(
        F.array_compact(F.flatten(F.collect_list(row_needs)))
    )["line"]
    callback_date = _callback_date()
    lookups = base.groupBy("nhs_number").agg(
        F.min_by(_status(_triage_completed_on()), row).alias(
            "original_triage_status"
        ),
        F.nullif(F.array_join(F.flatten(notes), ", "), F.lit("")).alias(
            "original_triage_call_notes"
        ),
        F.min_by(
            _food_block(_food_priority(), users.food_needs_user),
            F.when(_needs_food_raw(), row),
        ).alias("food_need"),
        F.min_by(
            F.concat(
                F.lit("Callback need created\nStart on: "),
                E.callback_start_date(callback_date, "latest_attempt_date").cast(
                    "string"
                ),
            ),
            F.when(_needs_callback(callback_date), row),
        ).alias("callback_need"),
        F.nullif(F.array_join(remaining, "\n"), F.lit("")).alias("remaining_needs"),
    )
    return base.join(F.broadcast(lookups), "nhs_number", "left").select(
        "nhs_number",
        "latest_attempt_date",
        "original_triage_status",
        "original_triage_call_notes",
        "food_need",
        "callback_need",
        "remaining_needs",
        _compose().alias("call_log"),
    )


# ---------------------------------------------------------------------------
# public outputs (the seven CSVs, ``prepare_calls.py:176-191``)
# ---------------------------------------------------------------------------

def prepare_calls(
    spark: SparkSession, calls_file_path: str, users: CallsUsers
) -> dict[str, DataFrame]:
    """All output frames keyed by their reference CSV name (sans .csv)."""
    base = base_spreadsheet(spark, calls_file_path)
    frames = derive_frames(base, users)

    def cut(name: str, cols: list[str]) -> DataFrame:
        return frames[name].select(*cols)

    call_notes = cut("original_triage_call_notes", NOTES_FIELDS)
    import_notes = cut(
        "original_triage_import_notes", [*NOTES_FIELDS, "import_data"]
    )
    remaining = None
    for key in (
        "prescription_needs",
        "mental_wellbeing_needs",
        "financial_needs",
        "other_needs",
    ):
        f = cut(key, [*NEEDS_FIELDS, "user_id"])
        remaining = f if remaining is None else remaining.unionByName(f)

    return {
        "quality_assurance": quality_assurance(base, users),
        "contact_profile_updates": cut(
            "contact_profile_updates",
            [
                "nhs_number",
                "additional_info",
                "delivery_details",
                "dietary_details",
                "has_covid_symptoms",
            ],
        ),
        "original_triage_needs": cut(
            "original_triage_needs", [*NEEDS_FIELDS, "completed_on"]
        ),
        # etl.cat(import_notes, call_notes): call notes have no
        # import_data -> padded NULL (U1 semantics)
        "original_triage_notes": import_notes.unionByName(
            call_notes, allowMissingColumns=True
        ),
        "food_needs": cut(
            "food_needs",
            [*NEEDS_FIELDS, "completed_on", "supplemental_data", "user_id"],
        ),
        "callback_needs": cut("callback_needs", [*NEEDS_FIELDS, "start_on"]),
        "remaining_needs": remaining,
    }
