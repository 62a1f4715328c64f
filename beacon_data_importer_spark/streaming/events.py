"""Structured Streaming surface (SURVEY §2.10: the reference is strictly
batch — this is the engine's forward-looking extension for the driver's
``events`` table shape).

Patterns covered:
  * file-source stream over parquet events (``readStream``), with the
    same NANOS-timestamp conversion as the batch scan layer;
  * watermarked tumbling-window aggregation (late data dropped after the
    watermark horizon);
  * session windows via ``F.session_window`` (gap-merged);
  * ``Trigger.AvailableNow`` batch-parity execution for tests: the same
    query semantics, run incrementally to completion.

100 TB posture: streaming aggregation state is partitioned by group key
across executors; the watermark bounds state size (windows older than
the horizon are evicted).  File sources at scale become Kafka/queue
sources with identical plan shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.staging_meter import stage_dir
from .versioned import each_batch


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (schema taken from the
    batch reader; nano-long ts converted to a real timestamp).

    The file-stream source requires a DIRECTORY; the testdata ships one
    file, so a staged dir with a symlink stands in (a real deployment
    streams an arriving-files directory or a queue source)."""
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stream_dir = stage_dir(
        spark,
        f"events_stream|{sf_dir}",
        lambda path: os.symlink(src, os.path.join(path, "events.parquet")),
    )

    batch_schema = spark.read.parquet(src).schema
    df = spark.readStream.schema(batch_schema).parquet(stream_dir)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks/event-time require TIMESTAMP; session TZ is UTC so
        # the naive parquet values keep their instant semantics
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type.  In streaming
    mode, state for a (window, event_type) group is dropped once the
    watermark passes window.end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-merged session windows per user (native session_window —
    streaming state merges adjacent sessions as events arrive)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, table_name: str) -> None:
    """Execute a streaming frame to completion against current data
    (Trigger.AvailableNow) into an in-memory sink table — the test/batch
    parity harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_to_parquet(stream_df, out_dir: str) -> None:
    """Incremental parquet sink via ``versioned.each_batch`` — the
    pattern for sinks Spark has no native streaming writer for (JDBC
    upserts, MERGE targets): each micro-batch arrives as a regular
    DataFrame with an id and overwrites its own ``__batch_id=N``
    partition, so a batch that checkpoint recovery replays (its write
    finished, its commit did not) is stored once, not twice."""

    def sink(batch_df, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"__batch_id={batch_id}")
        )

    each_batch(stream_df, out_dir, sink)


def interval_join_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range: each purchase
    is attributed to same-user clicks in ``[click_ts, click_ts +
    horizon]``.

    Both sides carry watermarks and the join condition bounds event-time
    distance — together they let the streaming engine evict buffered
    rows once the other side's watermark passes ``ts + horizon``
    (unbounded state otherwise; this is THE correctness requirement for
    stream-stream joins).  Batch twin: catalog ``click_attribution``.

    State scales with (events inside the horizon) × (join key
    cardinality), partitioned by user_id across executors.
    """
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_seconds"),
    )


def interval_join_attribution_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every click emits —
    joined rows as matches arrive, and a NULL-purchase row once the
    purchase-side watermark proves no match can still come (state
    expiry IS the negative answer; this is how "clicks that never
    converted" becomes a streaming result instead of a batch backfill).

    Emission contract (the part every production design doc must state,
    MEASURED here rather than assumed): an unmatched click is emitted
    only when the join's LEFT-side state watermark passes its match
    window — and that state watermark lags the global watermark by the
    horizon itself (the range condition widens how long a left row
    could still match), so the guaranteed-emission bound is
    ``click_ts + 2·horizon < max_event_ts − delay``.  A bounded run
    (``availableNow``) therefore ends with that tail still buffered;
    the equivalence test encodes exactly this contract instead of
    pretending outer joins are free of it.

    Same state-size posture as the inner form: both sides watermarked,
    the range condition bounds buffered event-time, state partitioned
    by user_id."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "leftOuter",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        "click_ts",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_seconds"),
    )


def windowed_distinct_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    exact: bool = True,
) -> DataFrame:
    """Watermarked per-window DISTINCT-user counts per event type — the
    streaming twin of the rolling/windowed distinct family.

    Streaming aggregation forbids ``count_distinct`` outright, so
    ``exact=True`` CHAINS two stateful operators (Spark 3.4+): a
    watermarked ``dropDuplicatesWithinWatermark`` on (user, type,
    window-start) emits each user's first event per window, and the
    downstream windowed count then counts exactly the distinct users.
    EXACTNESS CAVEAT: ``dropDuplicatesWithinWatermark`` only
    guarantees dedup of duplicates arriving within the watermark
    delay of each other — the dedup state for a key is eligible for
    eviction once the watermark passes it, so a duplicate user event
    for the same window arriving MORE than ``watermark`` after the
    first is double-counted.  "Exact" therefore holds under bounded
    disorder (all copies of an event within the watermark delay),
    which is the same contract under which the windowed aggregation
    itself admits the late rows at all; size ``watermark`` to the
    real disorder bound, or use ``exact=False`` when duplicates can
    straggle arbitrarily.  State per window is the user set — fine
    while window-cardinality × window-count fits streaming state.  ``exact=False`` is the single
    ``approx_count_distinct`` (HLL) aggregation instead: constant
    ~1.5 KB state per (window, type) group regardless of cardinality —
    the 100 TB-stream form, with the error budget measured batch-side
    by hll_distinct_audit's discipline."""
    wm = events.withWatermark("ts", watermark)
    if exact:
        if window != "1 hour":
            # the dedup key derives window membership via date_trunc,
            # which only lines up with calendar-hour tumbling windows
            raise ValueError(
                "exact=True supports window='1 hour' only; use the HLL "
                "variant for other widths"
            )
        deduped = wm.withColumn(
            "w_start", F.date_trunc("hour", F.col("ts"))
        ).dropDuplicatesWithinWatermark(["user_id", "event_type", "w_start"])
        return (
            deduped.groupBy(
                F.window("ts", window).alias("w"), F.col("event_type")
            )
            .agg(F.count(F.lit(1)).alias("distinct_users"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "distinct_users",
            )
        )
    return (
        wm.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.approx_count_distinct("user_id", 0.05).alias("distinct_users"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "distinct_users",
        )
    )
