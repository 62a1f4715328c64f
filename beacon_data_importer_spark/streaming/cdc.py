"""Streaming CDC apply: a changelog stream merged into a keyed
dimension snapshot per micro-batch (last-writer-wins compaction with
tombstones) — the streaming twin of the batch ``cdc_apply`` catalog
query, and the composition VERDICT r4's roadmap sketched (streaming
joins/merges against a CDC-changing dimension).  Storage, commit and
replay are ``streaming/versioned.py``'s: run it with
``versioned.fold_stream(changelog, dir, apply_changes)`` and read it
with ``live(versioned.latest(spark, dir))``.

Tombstones are RETAINED in the stored snapshot (op='D' rows keep
their seq): a delete must keep beating any stale lower-seq upsert
that arrives in a later micro-batch — the read view filters them.
At warehouse scale the snapshot becomes partitioned merge-on-read
state; the per-batch cost here is one keyed hash-aggregate over
snapshot ∪ batch, which is the lower bound for eager compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def changelog_from_events(events: DataFrame) -> DataFrame:
    """Interpret the event stream as a keyed CDC changelog: key =
    user_id, monotone sequence = event_id (the ingest order), 'error'
    events delete the user's row, everything else upserts the event's
    value in exact cents."""
    return events.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("value").alias("val"),
    ).withColumn(
        "cents",
        F.when(
            F.col("op") == "U",
            F.round(F.col("val") * 100).cast("bigint"),
        ),
    ).drop("val")


def collapse_last_writer(log: DataFrame) -> DataFrame:
    """Last-writer-wins compaction of a changelog fragment: one row per
    key — the highest-seq operation, tombstones included.  max_by keeps
    it a single hash aggregate (no window sort); seq is unique by
    construction so ties cannot arise."""
    return log.groupBy("key").agg(
        F.max("seq").alias("seq"),
        F.max_by("op", "seq").alias("op"),
        F.max_by("cents", "seq").alias("cents"),
        F.sum(F.lit(1)).alias("n_changes"),
    )


def apply_changes(log: DataFrame, prev: DataFrame | None) -> DataFrame:
    """The CDC ``versioned.merge`` step: compact the batch, union it with
    the previous snapshot and compact again.  Last writer wins across
    the union because seq is globally monotone; n_changes accumulates
    across versions, so the stored row also audits how many changelog
    entries ever touched the key."""
    compacted = collapse_last_writer(log)
    if prev is None:
        return compacted
    return (
        prev.unionByName(compacted)
        .groupBy("key")
        .agg(
            F.max("seq").alias("seq"),
            F.max_by("op", "seq").alias("op"),
            F.max_by("cents", "seq").alias("cents"),
            F.sum("n_changes").alias("n_changes"),
        )
    )


def live(snapshot: DataFrame) -> DataFrame:
    """The live dimension of a stored snapshot: tombstones filtered out."""
    return snapshot.filter(F.col("op") == "U").drop("op")
