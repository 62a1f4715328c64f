"""Invariant tests for the round-5o tier (off-policy replay)."""

from __future__ import annotations

from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r5o  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_replay_matches_python_recompute(spark, sf_dir):
    """Recompute the whole replay pipeline sequentially: per-order
    reward, hash split, quantized-argmax policy, matched-subset value,
    behavior value, lift."""
    from beacon_data_importer_spark.catalog_r5o import _REPLAY_SEED
    from beacon_data_importer_spark.functions.expressions import (
        portable_hash64,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    c = read_table(spark, sf_dir, "customer")
    subj = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy("o_orderkey", "c_mktsegment", "o_orderpriority")
        .agg(
            (
                F.lit(1)
                - F.max(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                )
            ).alias("reward")
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("action"),
            "reward",
            (
                portable_hash64(
                    F.col("o_orderkey").cast("string"), seed=_REPLAY_SEED
                )
                % 10
            ).alias("bucket"),
        )
        .collect()
    )
    train: dict[tuple, list[int]] = {}
    for r in subj:
        if r["bucket"] <= 6:
            train.setdefault((r["segment"], r["action"]), []).append(
                r["reward"]
            )
    policy: dict[str, tuple] = {}
    for (seg, act), rs in train.items():
        r_ppm = sum(rs) * 1000000 // len(rs)
        cur = policy.get(seg)
        if cur is None or (-r_ppm, act) < (-cur[0], cur[1]):
            policy[seg] = (r_ppm, act, len(rs))
    expected = {}
    for seg, (_, act, n_tr) in policy.items():
        ev = [r for r in subj if r["bucket"] >= 7 and r["segment"] == seg]
        matched = [r for r in ev if r["action"] == act]
        behav = sum(r["reward"] for r in ev) * 1000000 // len(ev)
        repl = (
            sum(r["reward"] for r in matched) * 1000000 // len(matched)
        )
        expected[seg] = (
            act,
            n_tr,
            len(ev),
            len(matched),
            behav,
            repl,
            repl - behav,
        )

    got = {
        r["segment"]: (
            r["chosen_action"],
            r["n_train_chosen"],
            r["n_eval"],
            r["n_matched"],
            r["behavior_value_ppm"],
            r["replay_value_ppm"],
            r["lift_ppm"],
        )
        for r in QUERIES["bandit_replay_eval"](spark, sf_dir).collect()
    }
    assert got == expected
