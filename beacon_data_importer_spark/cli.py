"""CLI with the reference's command surface (``cli.py:7-12``,
``setup.py:11-14``):

    python -m beacon_data_importer_spark.cli prepare-contacts GDS.csv
    python -m beacon_data_importer_spark.cli prepare-calls \\
        -o OUT_DIR -fnu 1 -cnu 2 -snu 3 -clru 4 CALLS.csv

argparse instead of click (zero extra dependencies); same arguments,
same outputs (stdout CSV / seven CSVs in the output dir).  ``--now``
parameterizes the contacts timestamp for reproducible runs (the
reference stamps wall-clock ``datetime.now()``,
``prepare_contacts.py:14``).
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime
from functools import partial
from os.path import join


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="beacon-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    pc = sub.add_parser("prepare-contacts", help="Prepare GDS contact records")
    pc.add_argument("gds_file_path")
    pc.add_argument("--now", default=None, help="ISO timestamp override")

    pl = sub.add_parser("prepare-calls", help="Prepare call log records")
    pl.add_argument("calls_file_path")
    pl.add_argument("-o", "--output-dir", required=True)
    pl.add_argument("-fnu", "--food-needs-user", required=True, type=int)
    pl.add_argument("-cnu", "--complex-needs-user", required=True, type=int)
    pl.add_argument("-snu", "--simple-needs-user", required=True, type=int)
    pl.add_argument("-clru", "--call-log-review-user", required=True, type=int)

    ri = sub.add_parser(
        "run-import",
        help="Run the relational import stage (the reference's sql/ scripts) "
        "against a parquet database directory",
    )
    ri.add_argument("-d", "--db-dir", required=True)
    ri.add_argument("-s", "--staging-dir", required=True,
                    help="directory with the prepare-calls output CSVs")
    ri.add_argument(
        "--init-contacts",
        default=None,
        help="prepared contacts.csv to (re)create the contacts table from",
    )

    q = sub.add_parser(
        "query",
        help="Run any catalog query against a testdata scale-factor "
        "directory and print the result as CSV to stdout "
        "(use 'query --list' to enumerate)",
    )
    q.add_argument("name", nargs="?", default=None)
    q.add_argument(
        "-d", "--sf-dir", default="/root/testdata/sf0.01",
        help="directory with the parquet tables (default sf0.01)",
    )
    q.add_argument("--list", action="store_true", help="list query names")
    q.add_argument("--limit", type=int, default=0,
                   help="cap printed rows (0 = all)")

    args = parser.parse_args(argv)

    import os

    def _require_file(path: str, what: str) -> None:
        # fail fast with a readable message BEFORE paying Spark startup —
        # a missing input otherwise surfaces as an AnalysisException
        # stack trace several seconds in
        if not os.path.isfile(path):
            print(f"error: {what} not found: {path}", file=sys.stderr)
            raise SystemExit(1)

    if args.command == "prepare-contacts":
        _require_file(args.gds_file_path, "GDS CSV")
    elif args.command == "prepare-calls":
        _require_file(args.calls_file_path, "calls CSV")
    elif args.command == "run-import":
        if not os.path.isdir(args.staging_dir):
            print(
                f"error: staging directory not found: {args.staging_dir}",
                file=sys.stderr,
            )
            raise SystemExit(1)
        if args.init_contacts:
            _require_file(args.init_contacts, "contacts CSV")

    if args.command == "query":
        from . import all_catalogs as _cat  # imports every catalog module

        registry = _cat.QUERIES
        if args.list or not args.name:
            for n in sorted(registry):
                print(n)
            return 0
        if args.name not in registry:
            print(f"error: unknown query: {args.name}", file=sys.stderr)
            return 1

    from .session import get_spark, run_concurrently
    from .sources.csv import csv_to_stdout, write_csv_file

    spark = get_spark(app_name=f"beacon-spark-{args.command}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.command == "prepare-contacts":
        from .plans.contacts import prepare_contacts

        now = args.now or datetime.now().isoformat()
        csv_to_stdout(prepare_contacts(spark, args.gds_file_path, now))
        return 0

    if args.command == "prepare-calls":
        from .plans.calls import CallsHeaderError, CallsUsers, prepare_calls

        users = CallsUsers(
            food_needs_user=args.food_needs_user,
            complex_needs_user=args.complex_needs_user,
            simple_needs_user=args.simple_needs_user,
            call_log_review_user=args.call_log_review_user,
        )
        try:
            outputs = prepare_calls(spark, args.calls_file_path, users)
        except CallsHeaderError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
        os.makedirs(args.output_dir, exist_ok=True)
        # the seven sinks read none of each other's output: run them as
        # concurrent jobs rather than leave the executor idle between them
        run_concurrently([
            partial(write_csv_file, df, join(args.output_dir, f"{name}.csv"))
            for name, df in outputs.items()
        ])
        return 0

    if args.command == "query":
        df = registry[args.name](spark, args.sf_dir)
        if args.limit:
            df = df.limit(args.limit)
        csv_to_stdout(df)
        return 0

    if args.command == "run-import":
        from .plans.import_stage import init_contacts_from_csv, run_import

        os.makedirs(args.db_dir, exist_ok=True)
        if args.init_contacts:
            init_contacts_from_csv(spark, args.init_contacts).write.mode(
                "overwrite"
            ).parquet(join(args.db_dir, "contacts.parquet"))
        counts = run_import(spark, args.db_dir, args.staging_dir)
        print(counts)
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
