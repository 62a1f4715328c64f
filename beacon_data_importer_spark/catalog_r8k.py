"""Round-8 catalog, tier 11 (post-slot extra, round-9 promotion
candidate) —

``heavy_hitters_merge_audit``: the Misra-Gries MERGEABLE-summary
algebra, audited end to end.  Four deterministic event slices
(event_id % 4, in order) play the micro-batch sequence; each stage
sums the previous ≤ K counters with the slice's exact counts and
re-compresses (subtract the (K+1)-th largest, drop ≤ 0, accumulate the
error scalar) — the EXACT code path streaming/topk.py's foreachBatch
sink runs, so the batch twin proves the streaming state machine the
same way ``event_type_distinct_sketch`` proves the HLL sink.  The
output carries the MG bound (cnt_lo ≤ true ≤ cnt_hi) next to the exact
counts, and the DuckDB oracle replays the identical fold as four
unrolled SQL stages.

``heavy_hitters_audit`` (r5) checks a SINGLE-pass summary;
``sketch_reaggregation_audit`` merges HLL (distinct); this is the
merge story for FREQUENCY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table
from .streaming.topk import K, batch_counts, mg_compress

_SLICES = 4


def _hhm_oracle() -> str:
    k = K
    stages = []
    prev_m, prev_e = None, None
    for i in range(_SLICES):
        src = (
            f"s{i}"
            if prev_m is None
            else f"(SELECT user_id, CAST(sum(cnt) AS BIGINT) AS cnt FROM "
            f"(SELECT user_id, cnt FROM {prev_m} UNION ALL"
            f" SELECT user_id, cnt FROM s{i}) u GROUP BY user_id)"
        )
        stages.append(f"""t{i} AS (
      SELECT user_id, cnt,
        row_number() OVER (ORDER BY cnt DESC, user_id) AS rn
      FROM {src} z
    ),
    o{i} AS (
      SELECT CASE WHEN (SELECT count(*) FROM t{i}) <= {k} THEN 0
        ELSE (SELECT cnt FROM t{i} WHERE rn = {k + 1}) END AS off
    ),
    m{i} AS (
      SELECT user_id, CAST(cnt - o{i}.off AS BIGINT) AS cnt
      FROM t{i} CROSS JOIN o{i}
      WHERE rn <= {k} AND cnt - o{i}.off > 0
    ),
    e{i} AS (
      SELECT CAST({'o' + str(i) + '.off' if prev_e is None
                   else f'{prev_e}.err + o{i}.off'} AS BIGINT) AS err
      FROM o{i}{'' if prev_e is None else f' CROSS JOIN {prev_e}'}
    )""")
        prev_m, prev_e = f"m{i}", f"e{i}"
    chain = ",\n    ".join(stages)
    slice_ctes = ",\n    ".join(
        f"s{i} AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt"
        f" FROM events WHERE event_id % {_SLICES} = {i} GROUP BY user_id)"
        for i in range(_SLICES)
    )
    return f"""
    WITH {slice_ctes},
    {chain},
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id
    )
    SELECT m.user_id, m.cnt AS cnt_lo,
      CAST(m.cnt + e.err AS BIGINT) AS cnt_hi,
      x.true_cnt,
      m.cnt <= x.true_cnt AND x.true_cnt <= m.cnt + e.err AS bound_ok
    FROM {prev_m} m CROSS JOIN {prev_e} e
    JOIN exact x ON x.user_id = m.user_id
    """


@query(
    "heavy_hitters_merge_audit",
    oracle=_hhm_oracle(),
)
def q_heavy_hitters_merge_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fold the four event_id%4 slices through streaming/topk.py's
    Misra-Gries merge (exact slice counts → sum with the ≤ K carried
    counters → TakeOrdered top-(K+1) → subtract the (K+1)-th, drop
    ≤ 0, accumulate err) and audit the survivors' MG bound against the
    exact per-user counts.  The carried state is a ≤ K-row bounded
    collect per stage (the kmeans device); the only wide work per
    stage is one groupBy + one TakeOrderedAndProject, both scale-safe
    regardless of the item-domain size — which is the whole point of
    the summary.

    Deliberately shares mg_compress/batch_counts with the streaming
    sink; tests/test_streaming.py asserts the streamed state over the
    same slice sequence is IDENTICAL to this fold and that the bound
    holds (MG merging is order-dependent, so stream == fold over the
    same sequence is the strongest true claim — stated honestly,
    unlike a fake stream == one-pass assertion)."""
    events = read_table(spark, sf_dir, "events")
    rows: list = []
    err = 0
    for i in range(_SLICES):
        counts = batch_counts(
            events.filter(F.col("event_id") % _SLICES == i)
        )
        if rows:
            prev = spark.createDataFrame(
                [(r.user_id, r.cnt) for r in rows],
                "user_id bigint, cnt bigint",
            )
            merged = (
                prev.unionByName(counts)
                .groupBy("user_id")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        else:
            merged = counts
        rows, err = mg_compress(merged, err)
    summary = spark.createDataFrame(
        [(r.user_id, r.cnt) for r in rows], "user_id bigint, cnt bigint"
    )
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_cnt")
    )
    return (
        F.broadcast(summary)
        .join(exact, "user_id")
        .select(
            "user_id",
            F.col("cnt").alias("cnt_lo"),
            (F.col("cnt") + F.lit(err)).cast("bigint").alias("cnt_hi"),
            "true_cnt",
            (
                (F.col("cnt") <= F.col("true_cnt"))
                & (F.col("true_cnt") <= F.col("cnt") + F.lit(err))
            ).alias("bound_ok"),
        )
    )
