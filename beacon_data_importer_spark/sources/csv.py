"""CSV scan/sink layer with petl-compatible string semantics.

The reference reads every cell as ``str`` and represents missing data as
the *empty string*, not NULL (``etl.fromcsv`` — reference
``prepare_contacts.py:15``, ``prepare_calls.py:34``; predicates rely on
string truthiness, e.g. ``prepare_calls.py:36``).  Spark's CSV reader
instead yields NULL for empty cells by default.  SURVEY §4.3.4 calls for
deciding the policy once: this scan layer normalizes every column to
non-null strings (``coalesce(col, '')``) so that all downstream
empty-string predicates (F1–F5) behave exactly like petl.

Scale note: the normalization is a narrow projection fused into the scan
stage by codegen — zero extra passes, zero shuffles.  Column pruning
still reaches the FileScan because the projection is per-column.
"""

from __future__ import annotations

import csv
import os
import sys

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def col_exact(name: str) -> Column:
    """Column reference by EXACT name, immune to the attribute-name
    parser (messy spreadsheet headers contain dots/colons that plain
    ``F.col``/``df[...]`` misread as nested-field access)."""
    return F.col("`" + name.replace("`", "``") + "`")


def read_csv_stringly(
    spark: SparkSession,
    path: str,
    encoding: str = "UTF-8",
    empty_as: str = "",
) -> DataFrame:
    """Read a CSV the way petl does: header row = field names, every cell
    a non-null string (missing → ``empty_as``).

    ``encoding='windows-1252'`` reproduces the legacy call-log scan
    (reference ``prepare_calls.py:32-34``).
    """
    df = (
        spark.read.option("header", True)
        .option("inferSchema", False)  # all-string, like petl
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")  # malformed rows -> nulls, not errors
        .csv(path)
    )
    # Normalize NULL -> '' per petl semantics; fused into the scan stage.
    # Headers may contain dots/colons the attribute-name parser misreads
    # as nested access — backtick-quote every reference.
    return df.select(
        *[F.coalesce(col_exact(c), F.lit(empty_as)).alias(c) for c in df.columns]
    )


def _write_rows(df: DataFrame, fh, lineterminator: str) -> None:
    """Header, then every row through ``csv.writer`` — petl's ``tocsv``
    cell formatting (None → '', everything else ``str()``).  Streams
    through the driver (toLocalIterator): CLI parity for council-sized
    outputs, inherently a driver funnel."""
    w = csv.writer(fh, lineterminator=lineterminator)
    w.writerow(df.columns)
    for row in df.toLocalIterator():
        w.writerow(row)


def write_csv_file(df: DataFrame, path: str) -> None:
    """Write ONE real CSV file at ``path`` — byte-parity with the
    reference's ``.tocsv(path)`` (``prepare_calls.py:176-191``)."""
    with open(path, "w", newline="") as fh:
        _write_rows(df, fh, "\r\n")


def csv_to_stdout(df: DataFrame) -> None:
    """Stream the frame as CSV to stdout — parity with ``.tocsv()`` piping
    (reference ``prepare_contacts.py:44``, ``README.md:26-32``)."""
    _write_rows(df, sys.stdout, os.linesep)
