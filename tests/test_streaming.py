"""Streaming ↔ batch parity: the watermarked streaming aggregation over
the events file-source must equal the batch groupBy at AvailableNow
completion."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from beacon_data_importer_spark.sources.parquet import read_table
from beacon_data_importer_spark.streaming import events as SE
from beacon_data_importer_spark.streaming import versioned


def test_streaming_windowed_counts_match_batch(spark, sf_dir):
    stream = SE.stream_events(spark, sf_dir)
    SE.run_available_now(SE.windowed_counts(stream), "stream_counts")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value_cents)
        for r in spark.table("stream_counts").collect()
    }

    batch = read_table(spark, sf_dir, "events")
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value_cents)
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_session_windows_complete(spark, sf_dir):
    stream = SE.stream_events(spark, sf_dir)
    SE.run_available_now(SE.session_windows(stream), "stream_sessions")
    rows = spark.table("stream_sessions").collect()
    assert len(rows) > 0
    # sessions are per-user, end >= start, n_events >= 1
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)


def test_streaming_first_seen_matches_batch_first_wins(spark, sf_dir):
    from pyspark.sql import functions as F

    from beacon_data_importer_spark.operators.dedup import first_wins
    from beacon_data_importer_spark.streaming.stateful import streaming_first_seen

    stream = SE.stream_events(spark, sf_dir)
    out = streaming_first_seen(stream.select("user_id", "ts", "event_id"))
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.first_ts, r.first_event_id)
        for r in spark.table("first_seen").collect()
    }

    batch = read_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in first_wins(batch, "user_id", ["ts", "event_id"])
        .select("user_id", "ts", "event_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_first_seen_tws_matches_batch_first_wins(spark, sf_dir):
    """Same first-wins semantics through the Spark 4 State V2 API
    (transformWithStateInPandas).  Skips (with the gate exercised) when
    protobuf — required by the V2 state-server protocol — is absent."""
    import importlib.util

    import pytest

    from beacon_data_importer_spark.operators.dedup import first_wins
    from beacon_data_importer_spark.streaming.stateful import (
        streaming_first_seen_tws,
    )

    stream = SE.stream_events(spark, sf_dir)
    try:
        _pb = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:  # no parent 'google' package at all
        _pb = None
    if _pb is None:
        with pytest.raises(ModuleNotFoundError, match="protobuf"):
            streaming_first_seen_tws(stream.select("user_id", "ts", "event_id"))
        pytest.skip("protobuf unavailable: transformWithStateInPandas "
                    "cannot run in this environment (gate verified)")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out = streaming_first_seen_tws(stream.select("user_id", "ts", "event_id"))
    q = (
        out.writeStream.format("memory")
        .queryName("first_seen_tws")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.first_ts, r.first_event_id)
        for r in spark.table("first_seen_tws").collect()
    }

    batch = read_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in first_wins(batch, "user_id", ["ts", "event_id"])
        .select("user_id", "ts", "event_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_foreach_batch_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sink")
    stream = SE.stream_events(spark, sf_dir)
    SE.run_foreach_batch_to_parquet(stream.select("event_id", "user_id"), out)
    back = spark.read.parquet(out)
    batch = read_table(spark, sf_dir, "events")
    assert back.count() == batch.count()
    assert back.select("event_id").distinct().count() == batch.count()


def test_streaming_dedup_with_watermark(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates on a watermarked stream
    keeps one event per (user_id) — state bounded by the watermark."""
    stream = SE.stream_events(spark, sf_dir)
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicates(["user_id"])
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    batch = read_table(spark, sf_dir, "events")
    assert got.count() == batch.select("user_id").distinct().count()
    assert got.select("user_id").distinct().count() == got.count()


def test_stream_stream_outer_join_contract(spark, sf_dir):
    """LEFT-OUTER stream-stream join: matched rows must equal the batch
    inner join exactly; null-purchase rows must be exactly batch-
    unmatched clicks; and the emission CONTRACT holds — every unmatched
    click whose expiry bound (click_ts + horizon) lies at least one
    second before the final watermark (max_ts − delay) must have been
    emitted (later ones may legitimately stay buffered when the stream
    ends)."""
    from pyspark.sql import functions as F

    from beacon_data_importer_spark.sources.parquet import read_table

    clicks = SE.stream_events(spark, sf_dir)
    purchases = SE.stream_events(spark, sf_dir)
    joined = SE.interval_join_attribution_outer(clicks, purchases)
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_attrib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("outer_attrib_stream")

    e = read_table(spark, sf_dir, "events")
    c = e.filter("event_type='click'").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = e.filter("event_type='purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (c["user_id"] == p["pu"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr("INTERVAL 1 hour"))
    )
    inner = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(p, cond).collect()
    }
    got_matched = {
        (r["click_id"], r["purchase_id"])
        for r in got.filter("purchase_id IS NOT NULL").collect()
    }
    assert got_matched == inner

    unmatched_truth = {
        r["click_id"] for r in c.join(p, cond, "left_anti").collect()
    }
    got_null = {
        r["click_id"] for r in got.filter("purchase_id IS NULL").collect()
    }
    assert got_null <= unmatched_truth  # no false negatives invented
    max_ts = e.agg(F.max("ts")).first()[0]
    # the interval join's LEFT state watermark lags the global watermark
    # by the horizon (the range condition widens how long a left row
    # could still match), so the guaranteed-emission bound is
    # click_ts + 2·horizon < max_ts − delay, with a 1 s truncation band
    must_emit = {
        r["click_id"]
        for r in c.join(p, cond, "left_anti")
        .filter(
            F.col("click_ts") + F.expr("INTERVAL 2 hours")  # 2 × horizon
            < F.lit(max_ts) - F.expr("INTERVAL 2 hours")
            - F.expr("INTERVAL 1 second")
        )
        .collect()
    }
    assert must_emit <= got_null  # the contract: expired state emitted
    assert len(got_null) >= len(must_emit) > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream click→purchase attribution (watermarked interval
    join) produces exactly the batch twin's pairs."""
    clicks = SE.stream_events(spark, sf_dir)
    purchases = SE.stream_events(spark, sf_dir)
    joined = SE.interval_join_attribution(clicks, purchases)
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("attrib_stream")

    import __spark_entry__ as entrymod

    batch = entrymod.queries()["click_attribution"](spark, sf_dir)
    assert got.count() == batch.count()
    assert (
        got.exceptAll(batch.select(*got.columns)).count() == 0
        and batch.select(*got.columns).exceptAll(got).count() == 0
    )


def test_watermark_drops_late_events(spark, tmp_path):
    """REAL late-data semantics, not just AvailableNow parity: three
    micro-batches (maxFilesPerTrigger=1).  Batch 1 carries the watermark
    to 11:00, batch 2 an on-time event (watermark filtering engages one
    trigger after the update — observed Spark propagation delay), batch
    3 delivers an event at 08:30, beyond the 1-hour lateness horizon:
    its window must be dropped (numRowsDroppedByWatermark) and never
    emitted, while the finalized on-time window is."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m)

    d = tmp_path / "stream_src"
    d.mkdir()
    batches = [
        [Row(ts=ts(10, 10)), Row(ts=ts(10, 40)), Row(ts=ts(12, 0))],
        [Row(ts=ts(13, 0))],
        [Row(ts=ts(8, 30))],  # late: horizon is max(ts)-1h = 12:00
    ]
    now = dt.datetime.now().timestamp()
    for i, rows in enumerate(batches):
        sub = d / f"b{i}"
        spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.parquet(
            str(sub)
        )
        # file source orders micro-batches by modification time
        mtime = now - 600 * (len(batches) - i)
        for f in sub.iterdir():
            os.utime(f, (mtime, mtime))

    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    got = {r.ws: r.n for r in spark.table("late_drop").collect()}
    assert dropped == 1
    assert got.get(ts(10)) == 2
    assert ts(8) not in got


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SOAK"),
    reason="wall-clock soak (up to 90s, timing-sensitive under load); "
    "set SPARK_GRAFT_SOAK=1 to run",
)
def test_rate_source_soak_windowed_agg(spark):
    """Soak against the rate source: a watermarked tumbling-window agg
    runs live micro-batches for a few seconds and must (a) make batch
    progress, (b) process rows at the configured rate, (c) keep state
    bounded (watermark evicts closed windows rather than accumulating
    them forever).  This exercises the continuous trigger path that the
    AvailableNow parity tests never touch.

    Soak-gated: on a loaded CI box the eviction assert can race the
    watermark commit, so it is also retried over several progress
    snapshots below instead of read once."""
    import time as _t

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .withWatermark("timestamp", "2 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_soak")
        .outputMode("update")
        .start()
    )
    try:
        # generous deadline: the suite may run this alongside 32-core
        # batch work, so micro-batch cadence can lag heavily
        deadline = _t.time() + 90
        batches = 0
        while _t.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] > 0:
                batches += 1
            # keep soaking until enough DISTINCT windows exist for the
            # eviction check below to be meaningful
            seen = (
                spark.sql("SELECT count(DISTINCT w.start) FROM rate_soak")
                .first()[0]
            )
            if batches >= 3 and seen >= 10:
                break
            _t.sleep(1)
        assert batches >= 3, "stream made no sustained progress"
        # load-insensitive eviction check: without watermark eviction,
        # live state holds one row per window EVER seen; with it, closed
        # windows leave state, so live rows < windows seen (strictly,
        # once enough windows have closed).  The watermark commit can
        # lag the sink on a loaded box, so retry over a few snapshots
        # before calling it a failure.
        evicted = False
        last = (None, None)
        for _ in range(10):
            ops = q.lastProgress["stateOperators"][0]
            windows_seen = (
                spark.sql("SELECT count(DISTINCT w.start) FROM rate_soak")
                .first()[0]
            )
            last = (ops["numRowsTotal"], windows_seen)
            if windows_seen >= 10 and ops["numRowsTotal"] < windows_seen:
                evicted = True
                break
            _t.sleep(2)
        assert evicted, f"state not evicted: rowsTotal/windows = {last}"
        total = spark.sql("SELECT sum(n) FROM rate_soak").first()[0]
        assert total and total > 500, total
    finally:
        q.stop()


def test_streaming_dedup_exact_matches_batch_distinct(spark, tmp_path):
    """dropDuplicatesWithinWatermark on a content fingerprint drops the
    duplicate storm: a synthetic stream where every doc arrives 1-3
    times (duplicates within the watermark window) ends with exactly
    the batch-distinct fingerprint set."""
    import datetime

    from pyspark.sql import functions as F

    from beacon_data_importer_spark.streaming.stateful import (
        streaming_dedup_exact,
    )

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(60):
        for copy in range(1 + i % 3):  # 1-3 arrivals per doc
            rows.append(
                (
                    i * 10 + copy,
                    base + datetime.timedelta(seconds=i * 5 + copy),
                    f"doc body {i}",
                )
            )
    batch = spark.createDataFrame(rows, ["arrival_id", "ts", "content"])
    src = str(tmp_path / "dup_stream")
    batch.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .parquet(src)
        .withColumn("fp", F.md5("content"))
    )
    out = streaming_dedup_exact(stream, ["fp"], ts_col="ts", delay="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream")
    want_fps = {
        r.fp
        for r in batch.select(F.md5("content").alias("fp")).distinct().collect()
    }
    assert {r.fp for r in got.collect()} == want_fps
    assert got.count() == len(want_fps), "exactly one survivor per fingerprint"


def test_streaming_near_dup_flags_match_batch_lsh(spark, tmp_path):
    """The streaming band-collision detector must flag exactly the docs
    the BATCH LSH pairing would flag as later-than-first in some bucket
    (single micro-batch ⇒ identical 'earlier' semantics)."""
    from pyspark.sql import functions as F

    from beacon_data_importer_spark.operators import dedup as DD
    from beacon_data_importer_spark.streaming.stateful import (
        streaming_near_dup_flags,
    )

    rows = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta grp{i // 4}"
        # 4 near-identical docs per group (distinct tail token)
        rows.append((i, base + f" tail{i % 4}"))
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    src = str(tmp_path / "neardup_stream")
    batch.repartition(2).write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = streaming_near_dup_flags(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_flags")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.table("neardup_flags").collect()}

    sigs = DD.minhash_signatures(batch, "text", "doc_id", 16)
    bands = DD.lsh_bands(sigs, 4, 4)
    want = {
        r.doc_id
        for r in bands.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .select(F.explode("ids").alias("doc_id"), F.array_min("ids").alias("m"))
        .filter(F.col("doc_id") != F.col("m"))
        .collect()
    }
    assert got == want
    assert len(got) > 0, "the planted near-dup groups must collide"


def test_streaming_windowed_distinct_users_match_batch(spark, sf_dir):
    """Exact streaming distinct per window == batch count_distinct; the
    HLL variant must land within its 3*rsd error bound per window."""
    stream = SE.stream_events(spark, sf_dir)
    SE.run_available_now(
        SE.windowed_distinct_users(stream), "stream_distinct"
    )
    got = {
        (r.window_start, r.event_type): r.distinct_users
        for r in spark.table("stream_distinct").collect()
    }

    batch = read_table(spark, sf_dir, "events")
    want = {
        (r.window_start, r.event_type): r.distinct_users
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count_distinct("user_id").alias("distinct_users"))
        .collect()
    }
    assert got == want
    assert len(got) > 0

    stream2 = SE.stream_events(spark, sf_dir)
    SE.run_available_now(
        SE.windowed_distinct_users(stream2, exact=False),
        "stream_distinct_hll",
    )
    approx = {
        (r.window_start, r.event_type): r.distinct_users
        for r in spark.table("stream_distinct_hll").collect()
    }
    assert set(approx) == set(want)
    for k, est in approx.items():
        assert abs(est - want[k]) <= max(2, 0.15 * want[k]), (k, est, want[k])


def test_streaming_checkpoint_recovery_is_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed stream must be exactly-once: a rerun
    with no new files adds zero rows; appending a file adds exactly its
    rows — the recovery contract a production pipeline stands on."""
    import shutil

    src_dir = tmp_path / "src"
    out_dir = str(tmp_path / "out")
    src_dir.mkdir()

    # seed: first half of events (split by event_id parity for determinism)
    full = read_table(spark, sf_dir, "events")
    full.filter(F.col("event_id") % 2 == 0).write.parquet(
        str(src_dir / "part_a.parquet")
    )

    schema = full.schema

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src_dir))
        SE.run_foreach_batch_to_parquet(
            stream.select("event_id"), out_dir
        )

    run_once()
    n_even = full.filter(F.col("event_id") % 2 == 0).count()
    assert spark.read.parquet(out_dir).count() == n_even

    # restart with NO new data: checkpoint must suppress reprocessing
    run_once()
    assert spark.read.parquet(out_dir).count() == n_even

    # append the second half and restart: exactly the delta arrives
    full.filter(F.col("event_id") % 2 == 1).write.parquet(
        str(src_dir / "part_b.parquet")
    )
    run_once()
    got = spark.read.parquet(out_dir)
    assert got.count() == full.count()
    # and no event was ever written twice
    assert got.select("event_id").distinct().count() == full.count()

    # a crash after the last batch's write, before its checkpoint commit:
    # the restart re-runs that batch, and its rows must be stored once
    commits = os.path.join(out_dir + "_ckpt", "commits")
    last = max(int(c) for c in os.listdir(commits) if c.isdigit())
    for name in (str(last), f".{last}.crc"):  # the commit and its checksum
        os.remove(os.path.join(commits, name))
    run_once()
    assert os.path.isfile(os.path.join(commits, str(last)))
    got = spark.read.parquet(out_dir)
    assert got.count() == full.count()
    assert got.select("event_id").distinct().count() == full.count()


def test_streaming_cdc_merge_matches_batch_snapshot(spark, sf_dir, tmp_path):
    """streaming/cdc.py end-to-end: the changelog stream applied in
    REAL micro-batches (4 files, maxFilesPerTrigger=1) must land the
    identical live dimension as a one-shot batch last-writer-wins —
    verified with an INDEPENDENT formulation (window row_number, not
    the sink's max_by aggregate).  Also checks multi-version commits,
    tombstone retention (a last-op-delete key is absent from the live
    view), and the per-key changelog audit count."""
    from beacon_data_importer_spark.streaming.cdc import (
        apply_changes,
        changelog_from_events,
        live,
    )
    from pyspark.sql import Window

    batch = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "changelog_src")
    batch.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "dim_user")
    versioned.fold_stream(changelog_from_events(stream), target, apply_changes)

    versions = sorted(os.listdir(target))
    assert len([v for v in versions if v.startswith("v")]) >= 2

    live = {
        (r.key, r.seq, r.cents, r.n_changes)
        for r in live(versioned.latest(spark, target)).collect()
    }

    log = changelog_from_events(batch)
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    ranked = log.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_changes", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    want_df = ranked.filter((F.col("rn") == 1) & (F.col("op") == "U"))
    want = {
        (r.key, r.seq, r.cents, r.n_changes) for r in want_df.collect()
    }
    assert live == want
    assert len(live) > 0

    deleted = ranked.filter(
        (F.col("rn") == 1) & (F.col("op") == "D")
    ).count()
    assert deleted > 0  # the scenario actually exercises tombstones
    live_keys = {k for (k, _, _, _) in live}
    for r in (
        ranked.filter((F.col("rn") == 1) & (F.col("op") == "D"))
        .limit(5)
        .collect()
    ):
        assert r.key not in live_keys


def _versioned_state(name):
    """(step, batch preparation) of one versioned streaming state."""
    from beacon_data_importer_spark.streaming import cdc, drift, sketches, topk

    return {
        "cdc": (cdc.apply_changes, cdc.changelog_from_events),
        "hll": (sketches.union_hll, lambda events: events),
        "theta": (sketches.union_theta, lambda events: events),
        "mg": (topk.merge_counts, lambda events: events),
        "ph": (drift.fold_volume, lambda events: events),
    }[name]


@pytest.mark.parametrize("state", ["cdc", "hll", "theta", "mg", "ph"])
def test_versioned_state_replay_contract(spark, sf_dir, tmp_path, state):
    """Checkpoint-replay contract (ADVICE r5) of streaming/versioned.py,
    for every state it stores: re-running a merge for the SAME batch id
    after its version was already written must (a) not throw (prev is
    keyed to the batch id, never the directory it is about to
    overwrite), (b) rewrite the same rows (CDC: n_changes included — no
    double-count), and (c) a crashed write — a version directory
    without _SUCCESS — must be invisible to both ``latest`` and the next
    merge's prev-lookup.  A batch whose previous version is not
    committed raises."""
    step, prepare = _versioned_state(state)
    events = read_table(spark, sf_dir, "events")
    b0 = prepare(events.filter(F.col("event_id") % 2 == 0))
    b1 = prepare(events.filter(F.col("event_id") % 2 == 1))
    target = str(tmp_path / state)

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    versioned.merge(spark, b0, 0, target, step)
    versioned.merge(spark, b1, 1, target, step)
    after_once = rows(spark.read.parquet(target + "/v00000002"))
    assert after_once

    # Crash-after-write replay: batch 1 runs again against the same dir.
    versioned.merge(spark, b1, 1, target, step)
    assert rows(spark.read.parquet(target + "/v00000002")) == after_once

    # Crashed (uncommitted) write: v3 without _SUCCESS is ignored.
    part = os.path.join(target, "v00000003")
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write")
    assert versioned.committed(target) == ["v00000001", "v00000002"]
    assert rows(versioned.latest(spark, target)) == after_once
    if state == "cdc":
        from beacon_data_importer_spark.streaming.cdc import live

        v2 = spark.read.parquet(target + "/v00000002").collect()
        assert live(versioned.latest(spark, target)).count() == len(
            [r for r in v2 if r.op == "U"]
        )

    # Batch 3 has no committed v3 to read, and neither has batch 1 in an
    # empty directory.
    with pytest.raises(RuntimeError, match="v00000003"):
        versioned.merge(spark, b0, 3, target, step)
    empty = str(tmp_path / "empty")
    with pytest.raises(RuntimeError, match="v00000001"):
        versioned.merge(spark, b1, 1, empty, step)
    with pytest.raises(FileNotFoundError):
        versioned.latest(spark, empty)

    # And batch 2 merges on top of v2, not the torn v3.
    versioned.merge(spark, b0.limit(0), 2, target, step)
    assert versioned.committed(target) == ["v00000001", "v00000002", "v00000003"]


def test_versioned_contract_lives_in_one_module():
    """Ratchet: the package runs ``foreachBatch``, names the ``_SUCCESS``
    marker and formats an ``:08d`` version name only in
    streaming/versioned.py (docstrings may still mention them)."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "beacon_data_importer_spark",
    )
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("streaming", "versioned.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "foreachBatch":
                found.append(f"{rel}:{node.lineno}: .foreachBatch")
            elif (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in docs
                and ("_SUCCESS" in node.value
                     or re.search(r"(^|[:%])08d", node.value))
            ):
                found.append(f"{rel}:{node.lineno}: {node.value!r}")
    assert not found, (
        f"{len(found)} versioned-snapshot pieces outside "
        f"streaming/versioned.py: {found}"
    )


def test_streaming_session_timers_match_batch_sessionize(spark, sf_dir, tmp_path):
    """The EventTimeTimeout session featurizer over a 5-chunk
    time-ordered availableNow stream must equal the batch lag/running-
    sum sessionizer for every session the final watermark proves
    closed; sessions still open at the final watermark must NOT be
    emitted."""
    import os
    import shutil
    from collections import defaultdict

    from beacon_data_importer_spark.streaming.stateful import (
        SESSION_GAP_SECONDS,
        streaming_session_features,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rows = ev.sort("ts", "event_id").collect()
    assert rows, "events table empty"

    # stage 5 strictly time-ordered chunks, one file each, ascending
    # mtime so maxFilesPerTrigger=1 replays them in order
    src = tmp_path / "session_stream"
    src.mkdir()
    n = len(rows)
    bounds = [round(i * n / 5) for i in range(6)]
    for i in range(5):
        chunk = rows[bounds[i] : bounds[i + 1]]
        if not chunk:
            continue
        tmp_out = str(tmp_path / f"chunk_build_{i}")
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            tmp_out
        )
        part = next(
            p for p in os.listdir(tmp_out) if p.endswith(".parquet")
        )
        dest = str(src / f"chunk_{i}.parquet")
        shutil.copyfile(os.path.join(tmp_out, part), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_session_features(
        stream, watermark_delay="30 minutes"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("session_timers")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_rows = spark.table("session_timers").collect()
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_cents)
        for r in got_rows
    )

    # pure-Python reference with the same gap + final-watermark rule
    gap = SESSION_GAP_SECONDS
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.ts, r.event_id, round(r.value * 100)))
    import datetime

    # engine semantics: watermark and timers are millisecond-floored,
    # and event-time timers fire on STRICT < watermark
    max_ms = max(
        int(r.ts.timestamp() * 1_000_000) // 1000 for r in rows
    )
    wm_ms = max_ms - 30 * 60 * 1000
    want = []
    open_by_user = {}
    for uid, evs in by_user.items():
        evs.sort()
        sess = None
        sessions = []
        for ts, _eid, cents_v in evs:
            if sess is None:
                sess = [ts, ts, 1, cents_v]
            elif (ts - sess[1]).total_seconds() > gap:
                sessions.append(sess)
                sess = [ts, ts, 1, cents_v]
            else:
                sess[1], sess[2], sess[3] = ts, sess[2] + 1, sess[3] + cents_v
        # last session closes only if the final watermark passed its gap
        last_ms = int(sess[1].timestamp() * 1_000_000) // 1000
        if last_ms + gap * 1000 < wm_ms:
            sessions.append(sess)
        else:
            open_by_user[uid] = sess
        want.extend((uid, s[0], s[1], s[2], s[3]) for s in sessions)
    assert got == sorted(want)
    assert len(open_by_user) > 0, (
        "test vacuous: every session closed — shrink the watermark delay"
    )
    assert {r.closed_by for r in got_rows} <= {"gap", "timer"}
    assert any(r.closed_by == "timer" for r in got_rows), (
        "timer path never fired"
    )


def test_streaming_hll_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    """streaming/sketches.py: per-type distinct-user HLL state
    maintained across REAL micro-batches (4 files, 1 per trigger) must
    estimate exactly what one batch sketch pass estimates — HLL union
    is register-wise max, so micro-batching cannot change the merged
    sketch (the exactness CONTRACT the module states, verified here).
    Also: estimates are within the lgK=12 error envelope of the exact
    distinct counts, and a replayed batch leaves the snapshot
    estimates unchanged (idempotency)."""
    from beacon_data_importer_spark.streaming.sketches import (
        batch_type_sketches,
        sketch_estimates,
        union_hll,
    )

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "sketch_src")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "hll_state")
    versioned.fold_stream(stream, target, union_hll)

    got = {
        r.event_type: r.n_distinct_est
        for r in sketch_estimates(versioned.latest(spark, target)).collect()
    }
    want = {
        r.event_type: r.n_distinct_est
        for r in sketch_estimates(batch_type_sketches(events)).collect()
    }
    assert got == want and len(got) > 0

    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, est in got.items():
        assert abs(est - exact[t]) <= max(3, exact[t] // 10), (t, est)

    # monotone idempotency: HLL union is register-wise max, so
    # re-merging ALREADY-SEEN data (here: the whole stream, replayed
    # as the final batch id — a superset of what batch N really held)
    # rewrites v{N+1} with identical registers; estimates cannot move.
    last_batch = len(versioned.committed(target)) - 1
    before = {
        r.event_type: r.n_distinct_est
        for r in sketch_estimates(versioned.latest(spark, target)).collect()
    }
    versioned.merge(spark, events, last_batch, target, union_hll)
    after = {
        r.event_type: r.n_distinct_est
        for r in sketch_estimates(versioned.latest(spark, target)).collect()
    }
    assert after == before


def test_streaming_theta_state_equals_batch_sketch(spark, sf_dir, tmp_path):
    """streaming/sketches.py round-8 theta path: per-type distinct-user
    THETA state maintained across real micro-batches must estimate
    exactly what one batch sketch pass estimates (theta union is
    associative/commutative over the retained-hash sets), and the
    set-algebra surface (theta_overlap) must agree between the
    streamed state and the batch sketches — the capability that
    justifies theta next to HLL."""
    from beacon_data_importer_spark.streaming.sketches import (
        batch_type_theta_sketches,
        theta_estimates,
        theta_overlap,
        union_theta,
    )

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "theta_src")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "theta_state")
    versioned.fold_stream(stream, target, union_theta)

    got = {
        r.event_type: r.n_distinct_est
        for r in theta_estimates(versioned.latest(spark, target)).collect()
    }
    want = {
        r.event_type: r.n_distinct_est
        for r in theta_estimates(
            batch_type_theta_sketches(events)
        ).collect()
    }
    assert got == want and len(got) > 0

    # the set-algebra surface: streamed state and batch sketches must
    # produce identical overlap rows
    versions = versioned.committed(target)
    streamed = spark.read.parquet(os.path.join(target, versions[-1]))
    ov_stream = theta_overlap(streamed, "view", "purchase").collect()[0]
    ov_batch = theta_overlap(
        batch_type_theta_sketches(events), "view", "purchase"
    ).collect()[0]
    assert ov_stream.asDict() == ov_batch.asDict()
    # sanity: algebra is internally consistent on exact-mode sketches
    assert ov_stream.union_est >= max(ov_stream.a_est, ov_stream.b_est)
    assert ov_stream.overlap_est <= min(ov_stream.a_est, ov_stream.b_est)


def test_mg_state_contract_equals_catalog_fold(spark, sf_dir, tmp_path):
    """streaming/topk.py round-8 Misra-Gries path, part 1: driving the
    versioned contract (merge_counts at batch ids 0..3) over the
    SAME event_id%4 slice sequence the catalog query folds must yield
    the IDENTICAL summary — stream == fold over the same sequence is
    the strongest true claim for an order-dependent mergeable summary
    (the docstring states why stream == one-pass is not asserted)."""
    import pyspark.sql.functions as F

    from beacon_data_importer_spark.streaming.topk import (
        heavy_hitters,
        merge_counts,
    )

    events = read_table(spark, sf_dir, "events")
    target = str(tmp_path / "mg_state")
    for i in range(4):
        versioned.merge(
            spark, events.filter(F.col("event_id") % 4 == i), i, target,
            merge_counts,
        )
    got = {
        (r.user_id, r.cnt_lo, r.cnt_hi)
        for r in heavy_hitters(versioned.latest(spark, target)).collect()
    }
    import __spark_entry__ as entry

    want = {
        (r.user_id, r.cnt_lo, r.cnt_hi)
        for r in entry.queries()["heavy_hitters_merge_audit"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(got) > 0


def test_mg_streaming_bound_holds_and_state_is_k_bounded(
    spark, sf_dir, tmp_path
):
    """streaming/topk.py part 2: a REAL availableNow stream (4-file
    source, maxFilesPerTrigger=1) maintains a ≤ K-row snapshot whose
    MG bound cnt_lo ≤ true ≤ cnt_hi holds for every surviving item —
    the order-free guarantees, asserted without assuming file order."""
    from beacon_data_importer_spark.streaming.topk import (
        K,
        heavy_hitters,
        merge_counts,
    )

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "mg_src")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "mg_hh")
    versioned.fold_stream(stream, target, merge_counts)

    import pyspark.sql.functions as F

    hh = heavy_hitters(versioned.latest(spark, target))
    rows = hh.collect()
    assert 0 < len(rows) <= K
    exact = {
        r.user_id: r.true_cnt
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .collect()
    }
    for r in rows:
        assert r.cnt_lo <= exact[r.user_id] <= r.cnt_hi


def test_ph_state_contract_equals_scalar_fold(spark, sf_dir, tmp_path):
    """streaming/drift.py round-9 Page-Hinkley path, part 1: driving
    the versioned contract (fold_volume at batch ids 0..3) over
    the event_id%4 slice sequence must equal the pure-Python ph_step
    fold over the same slice counts BIT-FOR-BIT (the state is all
    integers, so equality is literal — the MG stream==fold doctrine)."""
    import pyspark.sql.functions as F

    from beacon_data_importer_spark.streaming.drift import fold_volume, ph_step

    events = read_table(spark, sf_dir, "events")
    target = str(tmp_path / "ph_state")
    state = None
    for i in range(4):
        sl = events.filter(F.col("event_id") % 4 == i)
        versioned.merge(spark, sl, i, target, fold_volume)
        state = ph_step(state, sl.count())
    got = versioned.latest(spark, target).collect()[0]
    assert (
        got.n_batches, got.sum_x, got.m_e6, got.m_min_e6,
        got.ph_e6, got.lambda_e6, got.n_alarms, got.last_x,
    ) == state
    assert got.n_batches == 4
    assert got.sum_x == events.count()


def test_ph_streaming_invariants_hold(spark, sf_dir, tmp_path):
    """streaming/drift.py part 2: a REAL availableNow stream (4-file
    source, maxFilesPerTrigger=1) maintains a ONE-ROW snapshot whose
    order-free invariants hold: PH = m − min(m) ≥ 0, min ≤ m, the
    volume total is exact, and λ was fixed by the first batch."""
    from beacon_data_importer_spark.streaming.drift import fold_volume

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "ph_src")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "ph_mon")
    versioned.fold_stream(stream, target, fold_volume)

    r = versioned.latest(spark, target).collect()[0]
    assert r.n_batches >= 1
    assert r.sum_x == events.count()
    assert r.m_min_e6 <= r.m_e6
    assert r.ph_e6 == r.m_e6 - r.m_min_e6 >= 0
    assert r.lambda_e6 > 0
    assert 0 <= r.n_alarms < r.n_batches


def test_windowed_distinct_users_matches_batch_twin(spark, sf_dir):
    """VERDICT r9 item 8: the watermarked dropDuplicatesWithinWatermark
    → windowed-count chain (windowed_distinct_users, exact=True) must
    reproduce the registered batch twin (watermark_dedup_batch_twin)
    exactly.  The testdata arrives as ONE file → one micro-batch, so
    the bounded-disorder contract under which the streaming path is
    exact (see the operator docstring) holds by construction."""
    import __spark_entry__ as entry

    stream = SE.stream_events(spark, sf_dir)
    SE.run_available_now(
        SE.windowed_distinct_users(stream), "stream_distinct_users"
    )
    got = {
        (r.window_start, r.event_type): r.distinct_users
        for r in spark.table("stream_distinct_users").collect()
    }
    want = {
        (r.window_start, r.event_type): r.distinct_users
        for r in entry.queries()["watermark_dedup_batch_twin"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert len(got) > 0
