"""SparkSession factory with the engine's semantic + performance defaults.

Semantics (SURVEY §4.3):
  * ``spark.sql.ansi.enabled=false`` — petl's ``convert``/``rowmapmany``
    default to error-as-null / error-as-skip (``failonerror=False``,
    reference ``prepare_calls.py:38,58``); non-ANSI mode makes
    ``to_date``/casts null on malformed input, matching the oracle.
  * session timezone pinned to UTC so timestamp rendering is identical
    across engines and machines.

Performance (the 100 TB posture):
  * AQE on: runtime shuffle-partition coalescing, skew-join splitting,
    and broadcast-join demotion/promotion based on observed sizes.
  * Arrow enabled for the pandas interchange used by the multimodal
    escape hatch (Arrow batches, never row-at-a-time pickling).
  * ``spark.sql.shuffle.partitions`` defaults to the local core count;
    on a real cluster this is expected to be overridden (or left to AQE
    coalescing from a high initial value).
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: SQL confs the engine's results and plans depend on: ``get_spark``
#: builds with them, ``configure_session`` sets them on an
#: externally-owned session.
SQL_CONF = (
    ("spark.sql.ansi.enabled", "false"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.adaptive.enabled", "true"),
    # coalesce small shuffles to the advisory size instead of
    # preserving cluster parallelism: iterative small-frame stages
    # (k-core peel, pagerank rounds, value-level windows) otherwise
    # schedule 32 near-empty tasks per exchange — measured 3.6x on
    # the 8-round peel, no frozen-set regression (BENCH r5 A/B).
    # Explicit repartition() calls (the CPU-parallelism paths, e.g.
    # _docs_parallel) are NOT coalesced by AQE, so wide narrow-CPU
    # stages keep their width.
    ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
    # allow joins whose children are hash-partitioned on the SAME
    # SUBSET of the join keys to run without re-exchanging (r11
    # optimization round, guide §2.4 "remove shuffles outright"):
    # the engine deliberately keys iterative/multi-consumer frames
    # on ONE column (e.g. negative_sampling's custkey feeds a
    # distinct, an anti-join and two aggregates from a single
    # exchange) — with the default `true` Spark re-shuffles both
    # sides onto the full key set even though same-key rows are
    # already co-located.  Measured: negative_sampling warm
    # 7.4 → 1.9 s, shuffle 37 → 17 MB at sf0.1; correctness is the
    # planner's invariant (both sides must share the identical
    # subset partitioning), oracle-verified suite-wide.  Scale
    # note: subset co-partitioning only engages when BOTH sides
    # carry the same explicit partitioning, so the 100 TB skew
    # posture is unchanged — a hot subset key would already be hot
    # in the explicit repartition that created it.
    ("spark.sql.requireAllClusterKeysForCoPartition", "false"),
    # the driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
    # rejects by default; read as long and convert at the scan layer
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # the reference's call-log scan is windows-1252 (prepare_calls.py:32);
    # Spark 4 only allows the full JVM charset list under this flag
    ("spark.sql.legacy.javaCharsets", "true"),
)


def get_spark(
    app_name: str = "beacon-data-importer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    The driver harness passes its own session to ``queries()`` callables;
    those must apply `configure_session` instead of building a new one.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (*SQL_CONF, *(extra_conf or {}).items()):
        builder = builder.config(k, v)
    # Deployment-specific overrides without code edits (the "keep
    # scale-dependent settings parameterised" contract): semicolon-
    # separated key=value pairs, applied last so they win over the
    # local-mode defaults above.  A cluster submit would instead pass
    # --conf flags; this is the local equivalent for the bench/driver
    # harness, which controls the process only through env vars.
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's *semantic* settings to an externally-owned session.

    Only runtime-settable SQLConf keys are touched (never master/memory):
    the error-as-null contract and UTC rendering are correctness
    requirements for oracle parity, not tuning.
    """
    for k, v in SQL_CONF:
        try:
            spark.conf.set(k, v)
        except Exception:
            # the legacy keys are static in some builds; get_spark sets
            # them at construction
            if not k.startswith("spark.sql.legacy."):
                raise
    return spark


def run_concurrently(actions: Sequence[Callable[[], Any]]) -> list[Any]:
    """Run independent Spark actions at once, one driver thread each, and
    return their results in submission order.

    Every action's jobs carry the caller's job group, description and
    tags (``inheritable_thread_target`` copies them when the action is
    wrapped, in the caller's thread).  Spark's scheduler queues the
    concurrent jobs.  All actions run to the end; then the first failure
    in submission order, if any, is raised.
    """
    spark = SparkSession.active()
    results: list[Any] = [None] * len(actions)
    errors: list[BaseException | None] = [None] * len(actions)

    def run(i: int, action: Callable[[], Any]) -> None:
        try:
            results[i] = action()
        except BaseException as e:  # re-raised in the caller's thread
            errors[i] = e

    target = inheritable_thread_target(spark)(run)
    threads = [
        threading.Thread(target=target, args=(i, a)) for i, a in enumerate(actions)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
