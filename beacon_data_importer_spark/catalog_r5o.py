"""Round-5o catalog tier: off-policy evaluation —

* ``bandit_replay_eval`` — the REPLAY method for offline policy
  evaluation (Li et al. '11): learn a per-segment best action on a
  train split, then estimate the new policy's value on the eval split
  using ONLY the logged events whose logged action happens to match
  the policy's choice — the unbiased-under-uniform-logging estimator
  every recommendation/bidding team uses before an online test.

Same parity discipline as catalog.py; extra marked "rotation
candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_r2 import _duck_hash64
from .functions.expressions import portable_hash64
from .sources.parquet import read_table

_REPLAY_SEED = 53  # split hash; buckets 0-6 train, 7-9 eval


@query(
    "bandit_replay_eval",
    oracle=f"""
    WITH subj AS (
      SELECT o.o_orderkey,
             c.c_mktsegment AS segment,
             o.o_orderpriority AS action,
             1 - max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS reward,
             {_duck_hash64("CAST(o.o_orderkey AS VARCHAR)", seed=_REPLAY_SEED)}
               % 10 AS bucket
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_orderkey, c.c_mktsegment, o.o_orderpriority
    ),
    train AS (
      SELECT segment, action,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(reward) * 1000000 // count(*) AS BIGINT) AS r_ppm
      FROM subj WHERE bucket <= 6 GROUP BY segment, action
    ),
    policy AS (
      SELECT segment, action AS chosen_action, n AS n_train_chosen FROM (
        SELECT t.*, row_number() OVER (PARTITION BY segment
          ORDER BY r_ppm DESC, action) AS rn
        FROM train t
      ) x WHERE rn = 1
    ),
    eval_all AS (
      SELECT s.segment,
             CAST(count(*) AS BIGINT) AS n_eval,
             CAST(sum(s.reward) * 1000000 // count(*) AS BIGINT)
               AS behavior_value_ppm
      FROM subj s WHERE s.bucket >= 7 GROUP BY s.segment
    ),
    matched AS (
      SELECT s.segment,
             CAST(count(*) AS BIGINT) AS n_matched,
             CAST(sum(s.reward) * 1000000 // count(*) AS BIGINT)
               AS replay_value_ppm
      FROM subj s JOIN policy p
        ON p.segment = s.segment AND p.chosen_action = s.action
      WHERE s.bucket >= 7
      GROUP BY s.segment
    )
    SELECT p.segment, p.chosen_action, p.n_train_chosen,
           e.n_eval, m.n_matched,
           e.behavior_value_ppm, m.replay_value_ppm,
           CAST(m.replay_value_ppm - e.behavior_value_ppm AS BIGINT)
             AS lift_ppm
    FROM policy p
    JOIN eval_all e ON e.segment = p.segment
    JOIN matched m ON m.segment = p.segment
    """,
)
def q_bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFF-POLICY REPLAY evaluation (Li et al. '11): actions are order
    priorities, contexts are customer market segments, reward = 1 when
    no line of the order is returned.  A per-segment greedy policy is
    learned on the hash-train split (argmax of exact-ppm train reward,
    priority-ascending tie-break — a deterministic quantized argmax);
    the eval split then scores that policy by REPLAY: keep only the
    logged orders whose logged priority equals the policy's choice and
    average their rewards — unbiased when logging is uniform (the
    demo's stated premise; TPC-H priorities are uniform by
    construction), which is precisely the condition a production OPE
    readout must document.  ``behavior_value_ppm`` (all eval orders)
    rides alongside so the lift column is the decision number.

    Exactness: rewards are 0/1 integers, every value is a floor-ppm of
    exact counts, the argmax compares quantized integers with a total
    tie-break — no float anywhere.

    Plan: one orderkey aggregate (the reward), a customer broadcast,
    two (segment, action)-keyed aggregates, and ≤5-row policy/eval
    joins — nothing after the first exchange scales with lineitem."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    c = read_table(spark, sf_dir, "customer")
    # Aggregate lineitem by order BEFORE the joins (r11 optimization
    # round, guide §2.3 "aggregate before you shuffle"): the reward is
    # per-order, so the map-side-combinable groupBy runs on the scan
    # and the joins carry one row per order instead of one per line.
    # (segment, priority) are functionally dependent on the order key,
    # so the old 3-key post-join groupBy produced the identical rows.
    rew = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        (
            F.lit(1)
            - F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        ).alias("reward")
    )
    subj = (
        rew.join(o, "o_orderkey")
        .join(c, c["c_custkey"] == o["o_custkey"])
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
        .localCheckpoint()  # consumed by train, eval, and matched arms
    )
    train = (
        subj.filter(F.col("bucket") <= 6)
        .groupBy("segment", "action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("sum(reward) * 1000000 div count(*)")
            .cast("bigint")
            .alias("r_ppm"),
        )
    )
    w_pol = Window.partitionBy("segment").orderBy(
        F.col("r_ppm").desc(), F.col("action")
    )
    policy = (
        train.withColumn("rn", F.row_number().over(w_pol))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.col("action").alias("chosen_action"),
            F.col("n").alias("n_train_chosen"),
        )
    )
    eval_all = (
        subj.filter(F.col("bucket") >= 7)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.expr("sum(reward) * 1000000 div count(*)")
            .cast("bigint")
            .alias("behavior_value_ppm"),
        )
    )
    pol_keys = policy.select(
        F.col("segment").alias("p_segment"),
        F.col("chosen_action").alias("p_action"),
    )
    matched = (
        subj.filter(F.col("bucket") >= 7)
        .join(
            F.broadcast(pol_keys),
            (F.col("segment") == F.col("p_segment"))
            & (F.col("action") == F.col("p_action")),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.expr("sum(reward) * 1000000 div count(*)")
            .cast("bigint")
            .alias("replay_value_ppm"),
        )
    )
    return (
        policy.join(eval_all, "segment")
        .join(matched, "segment")
        .select(
            "segment",
            "chosen_action",
            "n_train_chosen",
            "n_eval",
            "n_matched",
            "behavior_value_ppm",
            "replay_value_ppm",
            (F.col("replay_value_ppm") - F.col("behavior_value_ppm"))
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )
