#!/usr/bin/env python3
"""The repository benchmark: the reference import pipeline end to end,
and a fixed catalog slice.

    python3 perfbench/run.py --workload council_import --seed 1 --seconds 30 --trace 0

Run from the repository root.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, measured by driving
``cli.main`` exactly as a user runs it; with ``--trace 1`` they are the
per-layer ones, from a separate traced run (see ``README.md``).  The line
before it records the host (nproc, pyspark version, driver memory).
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import io
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
for p in (ROOT, os.path.join(ROOT, "tests"), HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import numpy as np  # noqa: E402

import gen  # noqa: E402
import check  # noqa: E402
from spans import MB, RETENTION_CONF, SparkRest, Tracer  # noqa: E402
import spans as T  # noqa: E402

# -- workload sizes ---------------------------------------------------------
COUNCIL_CALLS = 5_000           # call-log rows of the council_import export
COUNCIL_CONTACTS = 7_500        # GDS rows (every contact the council holds)
CATALOG_SF = 0.01               # customer 1.5k, orders 15k, lineitem 60k, events 10k
CATALOG_DOCS = 500
CATALOG_VECS = 500
SLICE = (
    "rename_project top_revenue first_wins_dedup events_sessionize "
    "high_cardinality_agg minhash_near_dup simhash corpus_clean similarity_topk "
    "prefix_filter_jaccard_join minhash_band_advisor"
).split()
STAGING_FRAMES = ("corpus_sigs", "corpus_pairs", "corpus_shingle_sets")
CALLS_OUTPUTS = check.PREPARE_OUTPUTS
NOW = "2020-05-01T12:00:00"
DRIVER_MEM = "4g"
WORKLOADS = ("council_import", "catalog_slice")


def pin_env(trace: bool, tmp: str) -> dict:
    """Pin the engine's environment: one Spark core per host core, a fixed
    driver heap, no deployment overrides beyond the tracer's REST
    retention, and every temporary file (Spark's local dirs, the JVM's
    and Python's temp dirs) under ``tmp`` inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CONF"] = (
        ";".join(f"{k}={v}" for k, v in RETENTION_CONF.items()) if trace else ""
    )
    os.makedirs(tmp)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    import pyspark

    return {"nproc": cpus, "pyspark": pyspark.__version__, "driver_memory": DRIVER_MEM}


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Attempted/failed bookkeeping for commands, queries and checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{label}: {p}" for p in problems]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session():
    """``session.get_spark()`` plus the first trivial job, timed."""
    from beacon_data_importer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    spark.range(1).count()
    setup = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# the pipeline, two ways
# ---------------------------------------------------------------------------

def _users_argv() -> list[str]:
    return [x for flag, u in zip(("-fnu", "-cnu", "-snu", "-clru"), gen.USERS) for x in (flag, u)]


def cli_command(argv: list[str], stdout_path: str | None = None) -> tuple[float, str]:
    """One ``cli.main`` call, timed; stdout goes to ``stdout_path`` (the
    prepare-contacts CSV) or is captured and returned."""
    from beacon_data_importer_spark import cli

    buf = io.StringIO()
    with contextlib.ExitStack() as stack:
        out = stack.enter_context(open(stdout_path, "w", newline="")) if stdout_path else buf
        stack.enter_context(contextlib.redirect_stdout(out))
        t0 = time.perf_counter()
        rc = cli.main(argv)
        wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}")
    return wall, buf.getvalue()


def traced_prepare_contacts(spark, tr: Tracer, gds: str, out_csv: str) -> None:
    """What ``cli.main prepare-contacts`` calls, with spans."""
    from beacon_data_importer_spark.plans.contacts import prepare_contacts
    from beacon_data_importer_spark.sources.csv import csv_to_stdout

    with tr.span("prepare_contacts"):
        with tr.span("plans.contacts.build"):
            df = prepare_contacts(spark, gds, NOW)
        with tr.span("sources.csv.sink", output="contacts"), \
                open(out_csv, "w", newline="") as fh, contextlib.redirect_stdout(fh):
            csv_to_stdout(df)


def traced_prepare_calls(spark, tr: Tracer, calls: str, out_dir: str) -> None:
    from beacon_data_importer_spark.plans.calls import CallsUsers, prepare_calls
    from beacon_data_importer_spark.sources.csv import write_csv_file

    fnu, cnu, snu, clru = map(int, gen.USERS)
    with tr.span("prepare_calls"):
        with tr.span("plans.calls.build"):
            outputs = prepare_calls(spark, calls, CallsUsers(fnu, cnu, snu, clru))
        os.makedirs(out_dir, exist_ok=True)
        for name, df in outputs.items():
            with tr.span("sources.csv.sink", output=name):
                write_csv_file(df, os.path.join(out_dir, f"{name}.csv"))


def traced_run_import(spark, tr: Tracer, db: str, staging: str,
                      init_contacts: str) -> dict[str, int]:
    from beacon_data_importer_spark.plans.import_stage import (
        init_contacts_from_csv,
        run_import,
    )

    with tr.span("run_import"):
        os.makedirs(db, exist_ok=True)
        with tr.span("import_stage.init_contacts"):
            init_contacts_from_csv(spark, init_contacts).write.mode("overwrite").parquet(
                os.path.join(db, "contacts.parquet"))
        with tr.span("import_stage.run_import"):
            return run_import(spark, db, staging)


def written_under(root: str) -> tuple[int, int]:
    """(bytes, parquet rows) of the files under ``root``."""
    import pyarrow.parquet as pq

    paths = [os.path.join(d, f) for d, _, files in os.walk(root) for f in files]
    rows = sum(pq.read_metadata(p).num_rows for p in paths if p.endswith(".parquet"))
    return sum(os.path.getsize(p) for p in paths), rows


class Pipeline:
    """One import (prepare-contacts, prepare-calls, run-import) into a
    fresh ``db``, untraced through ``cli.main`` or traced through the
    same public functions, followed by its correctness checks."""

    def __init__(self, spark, ops: Ops, work: str, tag: str):
        self.spark, self.ops, self.work, self.tag = spark, ops, work, tag

    def run(self, calls: str, db: str, gds: str, tr: Tracer | None = None) -> dict:
        staging = os.path.join(self.work, f"staging-{self.tag}")
        contacts_csv = os.path.join(self.work, f"contacts-{self.tag}.csv")
        walls: dict[str, float] = {}
        root = None
        if tr is None:
            walls["contacts"], _ = cli_command(
                ["prepare-contacts", gds, "--now", NOW], stdout_path=contacts_csv)
            walls["calls"], _ = cli_command(
                ["prepare-calls", calls, "-o", staging, *_users_argv()])
            walls["import"], out = cli_command(
                ["run-import", "-d", db, "-s", staging, "--init-contacts", contacts_csv])
            reported = ast.literal_eval(out.strip().splitlines()[-1])
        else:
            with tr.span("pipeline", tag=self.tag) as root:
                traced_prepare_contacts(self.spark, tr, gds, contacts_csv)
                traced_prepare_calls(self.spark, tr, calls, staging)
                reported = traced_run_import(self.spark, tr, db, staging, contacts_csv)
            for key, name in (("contacts", "prepare_contacts"), ("calls", "prepare_calls"),
                              ("import", "run_import")):
                walls[key] = tr.find(name, root)[0].wall
        log(f"pipeline {self.tag}: " + ", ".join(f"{k} {v:.2f}s" for k, v in walls.items()))

        # -- checks (untimed) --
        self.ops.record("prepare-contacts", check.check_contacts(contacts_csv, gds, NOW))
        _, rows = check.read_csv(contacts_csv)
        contact_nhs = {r[0] for r in rows if r[0]}
        before_counts = {"contacts": len(rows), "needs": 0, "notes": 0}
        self.ops.record("prepare-calls", check.check_prepare_calls(staging, calls, gen.USERS))
        growth = check.expected_import_growth(staging, contact_nhs)
        self.ops.record("run-import", check.check_import(
            before_counts, growth, check.db_counts(db), reported))

        written_b, written_rows = written_under(db)
        consumed_b = sum(
            os.path.getsize(os.path.join(staging, f"{n}.csv"))
            for n in CALLS_OUTPUTS if n != "quality_assurance"
        )
        log(f"pipeline {self.tag} checked")
        return {
            "walls": walls,
            "root": root,
            "written_b": written_b,
            "written_rows": written_rows,
            "new_rows": growth["needs"] + growth["notes"],
            "consumed_b": consumed_b,
            "rows_out": sum(
                len(check.read_csv(os.path.join(staging, f"{n}.csv"))[1]) for n in CALLS_OUTPUTS
            ) + before_counts["contacts"],
        }


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def council_inputs(seed: int, work: str) -> dict:
    rng = np.random.default_rng(seed)
    gds = os.path.join(work, "gds.csv")
    calls = os.path.join(work, "calls.csv")
    gen.write_gds_csv(gds, gen.gds_rows(rng, range(COUNCIL_CONTACTS)))
    gen.write_calls_csv(calls, gen.calls_rows(
        rng, COUNCIL_CALLS, range(COUNCIL_CONTACTS), unmatched_base=10**8))
    return {"gds": gds, "calls": calls}


def catalog_inputs(seed: int, work: str) -> dict:
    sf_dir = os.path.join(work, "catalog")
    gen.write_catalog_tables(sf_dir, seed, CATALOG_SF, CATALOG_DOCS, CATALOG_VECS)
    return {"sf_dir": sf_dir}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def run_council(spark, seed: int, work: str, ops: Ops, trace: bool) -> dict:
    inp = council_inputs(seed, work)
    if not trace:
        res = Pipeline(spark, ops, work, "0").run(
            inp["calls"], os.path.join(work, "db0"), inp["gds"])
        return {"wall_s": sum(res["walls"].values())}
    return traced_pipeline_protocol(spark, ops, work, inp)


def traced_pipeline_protocol(spark, ops: Ops, work: str, inp: dict) -> dict:
    """Three imports of the same inputs into fresh DBs.  A: traced (cold,
    gives the per-layer numbers), B: untraced through ``cli.main``, C:
    traced again — C − B is the tracing overhead."""
    tr = Tracer(SparkRest(spark), run=f"{os.getpid()}")
    res = [
        Pipeline(spark, ops, work, str(k)).run(
            inp["calls"], os.path.join(work, f"db{k}"), inp["gds"],
            tr=None if k == 1 else tr)
        for k in range(3)
    ]
    tr.attribute()
    a, b, c = res
    m = layer_metrics_pipeline(tr, a)
    # the command walls a user of the CLI sees, from the cold pass
    for key in ("contacts", "calls", "import"):
        m[f"cli.{key}_s"] = a["walls"][key]
    m["cli.rows_per_s"] = COUNCIL_CALLS / sum(a["walls"].values())
    m["trace.overhead_s"] = c["root"].wall - sum(b["walls"].values())
    m["trace.span_gap_s"] = sum(c["walls"].values()) - sum(b["walls"].values())
    m["trace.spans"] = len(tr.spans)
    return {"metrics": m, "tracer": tr}


def layer_metrics_pipeline(tr: Tracer, a: dict) -> dict:
    root = a["root"]
    sinks = tr.find("sources.csv.sink", root)
    sink_s = sum(s.wall for s in sinks)
    sink_spark = T.job_wall(sinks)
    calls = tr.find("prepare_calls", root)
    imp = tr.find("import_stage.run_import", root)
    m = {
        "sources.csv.sink_s": sink_s,
        "sources.csv.sink_spark_s": sink_spark,
        "sources.csv.sink_driver_s": sink_s - sink_spark,
        "sources.csv.sink_jobs": T.job_count(sinks),
        "sources.csv.result_mb": T.stage_sum(sinks, "resultSize") / MB,
        "sources.csv.rows_out": a["rows_out"],
        "plans.contacts.build_s": sum(s.wall for s in tr.find("plans.contacts.build", root)),
        "plans.calls.build_s": sum(s.wall for s in tr.find("plans.calls.build", root)),
        "plans.calls.executor_run_s": T.stage_sum(calls, "executorRunTime") / 1e3,
        "import_stage.run_s": sum(s.wall for s in imp),
        "import_stage.jobs": T.job_count(imp),
        "import_stage.max_id_s": T.job_wall(imp, r"^collect at .*import_stage\.py:"),
        "import_stage.executor_run_s": T.stage_sum(imp, "executorRunTime") / 1e3,
        "import_stage.shuffle_write_mb": T.stage_sum(imp, "shuffleWriteBytes") / MB,
        "import_stage.db_read_mb": T.stage_sum(imp, "inputBytes") / MB,
        "import_stage.db_written_mb": a["written_b"] / MB,
        "import_stage.rows_written_per_new_row": a["written_rows"] / max(a["new_rows"], 1),
        "import_stage.write_amp": a["written_b"] / max(a["consumed_b"], 1),
    }
    for name in CALLS_OUTPUTS:
        m[f"plans.calls.{name}.sink_s"] = sum(s.wall for s in tr.find(
            "sources.csv.sink", root, output=name))
    for name in ("prepare_contacts", "prepare_calls", "run_import"):
        m[f"self.{name}_s"] = sum(tr.self_time(s) for s in tr.find(name, root))
    return m


def run_catalog(spark, seed: int, work: str, ops: Ops, trace: bool) -> dict:
    import duckdb

    import __spark_entry__ as entry

    sf_dir = catalog_inputs(seed, work)["sf_dir"]
    qs, oracles = entry.queries(), entry.oracle_sql()
    tr = Tracer(SparkRest(spark), run=f"{os.getpid()}") if trace else None

    def one_pass(tracer: Tracer | None, label: str) -> tuple[dict, dict]:
        walls, results = {}, {}
        for name in SLICE:
            try:
                if tracer is None:
                    t0 = time.perf_counter()
                    results[name] = qs[name](spark, sf_dir).toPandas()
                    walls[name] = time.perf_counter() - t0
                else:
                    with tracer.span("catalog.query", query=name, pass_=label) as s:
                        with tracer.span("catalog.build", pass_=label):
                            df = qs[name](spark, sf_dir)
                        with tracer.span("catalog.collect", pass_=label):
                            results[name] = df.toPandas()
                    walls[name] = s.wall
            except Exception as ex:  # a failing query is counted, not fatal
                ops.record(f"query {name}", [f"raised {type(ex).__name__}: {ex}"[:300]])
            spark.catalog.clearCache()
        return walls, results

    log("catalog inputs written")
    cold, results = one_pass(tr, "cold")
    log(f"cold pass {sum(cold.values()):.2f}s: "
        + ", ".join(f"{k} {v:.2f}" for k, v in cold.items()))
    if trace:
        warm_untraced, _ = one_pass(None, "warm")
        warm, _ = one_pass(tr, "warm")
        log(f"warm passes {sum(warm_untraced.values()):.2f}s untraced, "
            f"{sum(warm.values()):.2f}s traced")

    con = duckdb.connect()
    for t in gen_tables(sf_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, pdf in results.items():
        ops.record(f"query {name}", check.check_catalog_result(con, name, oracles[name], pdf))
    con.close()
    log("catalog results checked")

    if not trace:
        return {"wall_s": sum(cold.values())}
    tr.attribute()
    return {"metrics": layer_metrics_catalog(tr, cold, warm_untraced, warm), "tracer": tr}


def gen_tables(sf_dir: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))


def layer_metrics_catalog(tr: Tracer, cold: dict, warm_untraced: dict, warm: dict) -> dict:
    from beacon_data_importer_spark.plans.staging_meter import STAGING_SEC

    warm_spans = tr.find("catalog.query", pass_="warm")
    m = {
        "catalog.cold_s": sum(cold.values()),
        "catalog.warm_s": sum(warm.values()),
        "catalog.jobs": T.job_count(warm_spans),
        "catalog.shuffle_write_mb": T.stage_sum(warm_spans, "shuffleWriteBytes") / MB,
        "catalog.spill_mb": (T.stage_sum(warm_spans, "memoryBytesSpilled")
                             + T.stage_sum(warm_spans, "diskBytesSpilled")) / MB,
        "catalog.executor_run_s": T.stage_sum(warm_spans, "executorRunTime") / 1e3,
        "catalog.executor_cpu_s": T.stage_sum(warm_spans, "executorCpuTime") / 1e9,
        "python.run_s": T.sql_metric_total(warm_spans, "time to run Python workers"),
        "python.start_s": T.sql_metric_total(warm_spans, "time to start Python workers"),
        "python.init_s": T.sql_metric_total(warm_spans, "time to initialize Python workers"),
        "python.sent_mb": T.sql_metric_total(warm_spans, "data sent to Python workers") / MB,
        "python.returned_mb": T.sql_metric_total(
            warm_spans, "data returned from Python workers") / MB,
        "staging.build_s": sum(STAGING_SEC.values()),
        "self.catalog.build_s": sum(
            tr.self_time(s) for s in tr.find("catalog.build", pass_="warm")),
        "self.catalog.collect_s": sum(
            tr.self_time(s) for s in tr.find("catalog.collect", pass_="warm")),
        "trace.overhead_s": sum(warm.values()) - sum(warm_untraced.values()),
        "trace.span_gap_s": sum(s.wall for s in warm_spans) - sum(warm_untraced.values()),
        "trace.spans": len(tr.spans),
    }
    for frame in STAGING_FRAMES:
        m[f"staging.{frame}.build_s"] = sum(
            v for k, v in STAGING_SEC.items() if k.split("|")[0] == frame)
    for name in SLICE:
        m[f"catalog.{name}.warm_s"] = warm.get(name, 0.0)
        m[f"catalog.{name}.plan_s"] = cold.get(name, 0.0) - warm.get(name, 0.0)
    return m


RUNNERS = {"council_import": run_council, "catalog_slice": run_catalog}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30,
                    help="measurement budget; every workload runs its fixed "
                         "protocol once, sized to about 30 s on a 4-core host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    host = pin_env(bool(args.trace), os.path.join(work, "tmp"))
    ops = Ops()
    spark = None
    try:
        spark, setup = start_session()
        log(f"session up in {setup:.2f}s")
        out = RUNNERS[args.workload](spark, args.seed, work, ops, bool(args.trace))
        if args.trace:
            metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
            metrics.update(out["metrics"])
            metrics["session.start_s"] = setup
            metrics["session.peak_jvm_heap_mb"] = out["tracer"].rest.peak_heap_mb()
            out["tracer"].dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = {"setup_s": setup, **out}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    log("done")
    for p in ops.problems:
        print(f"check failed: {p}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
