"""Local mimic of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB,
compare row-count, sorted column names, and an order-insensitive
TYPE-SENSITIVE value hash.

Both results go through pandas (``toPandas()`` / ``.df()``) exactly like
the driver, so engine type drift surfaces as a value difference:

- DuckDB ``sum(BIGINT)`` returns HUGEINT, which pandas renders float64 —
  ``123.0`` never equals Spark's int64 ``123`` (this is the round-1
  failure mode: 8/50 queries hash-failed on exactly this).
- Integer width (int32 vs int64) is a failure even though the plain
  string render matches: a schema comparison strict on types would
  reject it, so the fix is a cast at the source.
- Spark DATE arrives as ``datetime.date`` objects while DuckDB DATE
  arrives as midnight ``datetime64`` — the round-1 driver treated those
  equal (scd2_merge passed), so both render "YYYY-MM-DD 00:00:00".

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import os
import sys
import time
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def norm_cell(v) -> str:
    """Type-sensitive canonical render of one pandas cell."""
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "∅"
        # floats keep their float-ness: int64 123 != float64 123.0
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        # arrow decimal128 (DuckDB HUGEINT via .arrow()) — distinct from int
        return f"dec:{v}"
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{v.microsecond:06d}" if v.microsecond else ""
        )
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S") + (
            f".{v.microsecond:06d}" if v.microsecond else ""
        )
    if isinstance(v, datetime.date):
        # Spark DATE is datetime.date; DuckDB DATE lands as midnight
        # datetime64 — the driver treats them equal, so render alike.
        return f"{v.isoformat()} 00:00:00"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_digest(pdf) -> tuple[str, list[str]]:
    import hashlib

    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(norm_cell(row[c]) for c in cols)
        for row in pdf.to_dict("records")
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, lines


def dtype_map(pdf) -> dict[str, str]:
    return {c: str(pdf[c].dtype) for c in pdf.columns}


def compare(spdf, dpdf) -> list[str]:
    """What makes the Spark frame ``spdf`` differ from the oracle's
    ``dpdf``: row count, sorted column names, the type-sensitive value
    hash, then integer-width drift.  Empty when they match."""
    problems = []
    if len(spdf) != len(dpdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
    if sorted(spdf.columns) != sorted(dpdf.columns):
        problems.append(
            f"schema spark={sorted(spdf.columns)} duck={sorted(dpdf.columns)}"
        )
    if problems:
        return problems
    sh, slines = frame_digest(spdf)
    dh, dlines = frame_digest(dpdf)
    if sh != dh:
        diff = [(a, b) for a, b in zip(slines, dlines) if a != b][:3]
        return [
            f"valuehash; dtypes spark={dtype_map(spdf)} "
            f"duck={dtype_map(dpdf)}; first diffs: {diff}"
        ]
    # Equal renders can still differ in dtype (int32 vs int64).  DATE
    # and TIMESTAMP are exempt: the driver treats Spark's
    # datetime.date objects and DuckDB's datetime64 as equal.
    dd = dtype_map(dpdf)
    drift = {
        c: (t, dd[c])
        for c, t in dtype_map(spdf).items()
        if dd.get(c) != t
        and not (t.startswith("datetime64") and dd[c].startswith("datetime64"))
        and not (t == "object" and dd[c].startswith("datetime64"))
    }
    return [f"dtype drift {drift}"] if drift else []


def duck_views(sf_dir: str):
    """DuckDB connection with every catalog table of ``sf_dir`` as a
    view over its parquet file, for running oracles."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from beacon_data_importer_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    warnings = []
    ran = 0  # only queries actually executed count toward the tally
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:400]}")
            failures.append(name)
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:400]}")
            failures.append(name)
            continue
        problems = compare(spdf, dpdf)
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems)[:800])
            failures.append(name)
        else:
            print(f"PASS {name} ({dt:.1f}s): rows={len(spdf)}")
            if len(spdf) == 0:
                # a 0-row match is a vacuous proof: both engines agreeing
                # on the empty set says nothing about the operator (this
                # caught important_parts_q11's GERMANY-vs-NATION_x filter
                # and the every-customer-has-orders anti join)
                warnings.append((name, "0-row result — vacuous check"))
    for name, warning in warnings:
        print(f"WARN {name}: {warning}")
    # VERDICT r7 fix: tally counts only queries actually RUN — a
    # filtered invocation must never read as a full-registry sweep.
    print(
        f"\n{ran - len(failures)}/{ran} pass (registry {len(qs)})"
        + (f"; FAILURES: {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
