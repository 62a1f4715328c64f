"""Versioned snapshot directories: the one commit, replay and read
contract behind every ``foreachBatch`` state (CDC dimension, HLL and
theta sketches, Misra-Gries counters, the Page-Hinkley walk).

The reference gets crash safety from Postgres transactions around its
staging loads (``INSERT … ON CONFLICT DO UPDATE``, README.md:64-101).
Spark has no native streaming MERGE sink for plain parquet, so each
micro-batch arrives through ``foreachBatch`` as a regular DataFrame and
is folded into a directory of full snapshots:

* ``v00000001/…`` is written by batch 0, ``v{N+1}`` by batch N.  Each
  batch writes a FULL snapshot; readers take the highest committed
  version.
* A version counts once its Hadoop ``_SUCCESS`` marker exists.  A crash
  mid-write leaves part files but no marker, so the partial directory
  is invisible to readers and to the next merge.
* The previous version is keyed to the BATCH ID, not to the highest
  version on disk: batch N reads ``v{N}`` and writes ``v{N+1}``, and
  raises if ``v{N}`` is not committed.  Checkpoint recovery re-runs the
  last uncommitted batch, and that replay rewrites the same version
  idempotently.  Reading the highest version instead would make the
  replay read the very directory it then overwrites (Spark refuses) and
  double-count.

A state module supplies only ``step(batch, prev)``: the batch DataFrame
and the previous snapshot (``None`` at batch 0) in, the next snapshot
out.  Mergeable summaries (HLL, theta, Misra-Gries) need nothing more
from storage than "merge into the next version".  At warehouse scale
the same loop runs against a table format with native MERGE
(Delta/Iceberg).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

Step = Callable[[DataFrame, DataFrame | None], DataFrame]


def _version(n: int) -> str:
    return f"v{n:08d}"


def committed(target_dir: str) -> list[str]:
    """Committed version names under ``target_dir``, oldest first."""
    if not os.path.isdir(target_dir):
        return []
    return sorted(
        d for d in os.listdir(target_dir)
        if d.startswith("v") and d[1:].isdigit()
        and os.path.isfile(os.path.join(target_dir, d, "_SUCCESS"))
    )


def merge(
    spark: SparkSession, batch: DataFrame, batch_id: int, target_dir: str,
    step: Step,
) -> None:
    """Fold micro-batch ``batch_id`` into ``target_dir``: ``step`` gets
    the committed ``v{batch_id}`` (``None`` at batch 0) and its result
    is written as ``v{batch_id+1}``."""
    prev = None
    if batch_id > 0:
        name = _version(batch_id)
        found = committed(target_dir)
        if name not in found:
            raise RuntimeError(
                f"batch {batch_id} expects committed snapshot {name} "
                f"under {target_dir}; found {found}"
            )
        prev = spark.read.parquet(os.path.join(target_dir, name))
    step(batch, prev).write.mode("overwrite").parquet(
        os.path.join(target_dir, _version(batch_id + 1))
    )


def each_batch(
    stream: DataFrame, out_dir: str, sink: Callable[[DataFrame, int], None]
) -> None:
    """Run ``stream`` to completion (Trigger.AvailableNow), calling
    ``sink(batch_df, batch_id)`` per micro-batch; the checkpoint lives
    at ``out_dir + "_ckpt"``."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def fold_stream(stream: DataFrame, target_dir: str, step: Step) -> None:
    """Run ``stream`` to completion, merging each micro-batch into the
    versioned snapshot with ``step``."""
    spark = stream.sparkSession
    each_batch(
        stream, target_dir,
        lambda batch, batch_id: merge(spark, batch, batch_id, target_dir, step),
    )


def latest(spark: SparkSession, target_dir: str) -> DataFrame:
    """The highest committed snapshot."""
    found = committed(target_dir)
    if not found:
        raise FileNotFoundError(f"no committed snapshot under {target_dir}")
    return spark.read.parquet(os.path.join(target_dir, found[-1]))
