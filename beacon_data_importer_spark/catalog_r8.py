"""Round-8 catalog, tier 1: scale-posture closures from VERDICT r7.

``propensity_caliper_match_capped`` promotes the per-bucket control
cap that PERF.md's caliper-match adversary probe measured (312× candidate
reduction; the uncapped form filled the scratch disk under the
mega-bucket adversary at 400k rows — PERF.md round-7 close) from a
probe into a registered, oracle-checked operator, mirroring the
``hard_negative_mining`` / ``_ivf`` exact/production twin pattern:
the uncapped ``propensity_caliper_match`` (catalog_r7b.py) stays as
the exactness twin; this capped form is the one a 100 TB run should
use, and it carries its own exactness evidence — the cap-violation
census — in every output row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# propensity_caliper_match_capped
# ---------------------------------------------------------------------------

_CALIPER_C = 10_000  # match window: |price difference| ≤ $100, in cents
_CTRL_CAP = 64       # max controls kept per bucket (probe-backed)


@query(
    "propensity_caliper_match_capped",
    oracle=f"""
    WITH sc AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS s,
             (o_orderpriority = '1-URGENT') AS treated
      FROM orders
    ),
    t AS (SELECT k, s, s // {_CALIPER_C} AS b FROM sc WHERE treated),
    c0 AS (SELECT k, s, s // {_CALIPER_C} AS b FROM sc WHERE NOT treated),
    census AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN cnt > {_CTRL_CAP} THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS n_buckets_over_cap,
        CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_bucket_controls
      FROM (SELECT b, count(*) AS cnt FROM c0 GROUP BY b)
    ),
    c AS (
      SELECT k, s, b FROM (
        SELECT k, s, b,
          row_number() OVER (PARTITION BY b ORDER BY s, k) AS rn
        FROM c0
      ) WHERE rn <= {_CTRL_CAP}
    ),
    cand AS (
      SELECT t.k AS treated_key, c.k AS control_key, abs(t.s - c.s) AS d
      FROM t JOIN c ON c.b BETWEEN t.b - 1 AND t.b + 1
      WHERE abs(t.s - c.s) <= {_CALIPER_C}
    ),
    r AS (
      SELECT treated_key, control_key, d,
        row_number() OVER (PARTITION BY treated_key
                           ORDER BY d, control_key) AS rn
      FROM cand
    )
    SELECT treated_key, control_key, CAST(d AS BIGINT) AS score_diff_cents,
      census.n_buckets_over_cap, census.max_bucket_controls
    FROM r CROSS JOIN census WHERE rn = 1
    """,
)
def q_propensity_caliper_match_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Caliper matching with a per-bucket control cap — the
    production form of ``propensity_caliper_match`` (its exactness
    twin, catalog_r7b.py).

    The uncapped bucket join's candidate volume is a DATA property:
    a price-point adversary concentrates all controls into one bucket
    and the join degenerates to |treated| × |controls| — measured
    scratch-disk death at 400k rows (PERF.md, "Probe: caliper-match
    mega-bucket adversary").  The cap ranks controls within each bucket by
    (score, key) and keeps the first {cap} BEFORE the join, bounding
    candidates per treated unit at 3·{cap} regardless of skew.  The
    match is exact wherever per-bucket control counts ≤ {cap}; every
    output row carries the census (`n_buckets_over_cap`,
    `max_bucket_controls`) so a consumer can SEE whether the capped
    run was exact instead of trusting a doctrine.

    Scale shape: cap via a bucket-partitioned window (per-bucket
    linear sort, no quadratic join), census via one bounded groupBy
    broadcast onto the output, candidate join bounded by construction.
    Bucket ids use integer `div` (exact past 2^53 — ADVICE r7)."""
    sc = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("s"),
        (F.col("o_orderpriority") == "1-URGENT").alias("treated"),
    )
    bucket = F.expr(f"s div {_CALIPER_C}")  # s ≥ 0: trunc = floor
    t = sc.filter("treated").select(
        F.col("k").alias("treated_key"),
        F.col("s").alias("ts"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("b"),
    )
    c0 = sc.filter(~F.col("treated")).select(
        F.col("k").alias("control_key"),
        F.col("s").alias("cs"),
        bucket.alias("b"),
    )
    counts = c0.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    census = F.broadcast(
        counts.agg(
            F.coalesce(
                F.sum(F.when(F.col("cnt") > _CTRL_CAP, 1).otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias("n_buckets_over_cap"),
            F.coalesce(F.max("cnt"), F.lit(0))
            .cast("bigint").alias("max_bucket_controls"),
        )
    )
    wc = Window.partitionBy("b").orderBy("cs", "control_key")
    c = (
        c0.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= _CTRL_CAP)
        .drop("__rn")
    )
    cand = (
        t.join(c, "b")
        .withColumn("d", F.abs(F.col("ts") - F.col("cs")))
        .filter(F.col("d") <= _CALIPER_C)
    )
    w = Window.partitionBy("treated_key").orderBy("d", "control_key")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .crossJoin(census)
        .select(
            "treated_key",
            "control_key",
            F.col("d").cast("bigint").alias("score_diff_cents"),
            "n_buckets_over_cap",
            "max_bucket_controls",
        )
    )


q_propensity_caliper_match_capped.__doc__ = (
    q_propensity_caliper_match_capped.__doc__ or ""
).format(cap=_CTRL_CAP)


# ---------------------------------------------------------------------------
# hard_negative_mining_ivf_scaled + its recall audit
# ---------------------------------------------------------------------------

# nprobe = ceil(num·nlist/den) in EXACT integer arithmetic — the
# PERF-doctrine ratio that holds the scanned fraction (hence recall)
# as nlist scales √n.  4/5 is the measured production point: 0.96/0.96
# pos/neg agreement vs brute truth at sf0.1 (nprobe sweep, PERF.md) —
# past the ≥0.9 bar VERDICT r7 item 4 set — for a 20% candidate saving.
_HNM_RATIO = (4, 5)
_HNM_RATIO_SQL = (
    f"greatest(1, ({_HNM_RATIO[0]} * (SELECT count(*) FROM cent)"
    f" + {_HNM_RATIO[1]} - 1) // {_HNM_RATIO[1]})"
)


def _hnm_scaled_triples(spark: SparkSession, sf_dir: str):
    from .catalog_r7 import _hnm_ivf_triples

    return _hnm_ivf_triples(spark, sf_dir, nprobe_ratio=_HNM_RATIO)


def _hnm_scaled_oracle() -> str:
    from .catalog_r7 import _hnm_ivf_scored_ctes, _hnm_triples_sql

    return (
        "WITH " + _hnm_ivf_scored_ctes(_HNM_RATIO_SQL).strip()
        + ",\n" + _hnm_triples_sql("scored")
    )


@query(
    "hard_negative_mining_ivf_scaled",
    oracle=_hnm_scaled_oracle(),
)
def q_hard_negative_mining_ivf_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``hard_negative_mining_ivf`` at production recall: the SAME
    cell-bounded equi-join (nothing query-sided broadcast, candidates
    ≤ nprobe × cell population), but nprobe is the PERF-doctrine
    RATIO of nlist — ceil(4·nlist/5), exact integer arithmetic on
    both engines — instead of the fixed count whose covered fraction
    shrinks as nlist scales √n (the 0.36 pos-agreement VERDICT r7
    item 4 flagged at nprobe=2/20).  Measured at sf0.1: pos/neg
    agreement 0.96/0.96 vs the brute-exact truth (nprobe sweep table,
    PERF.md), recorded per-run by
    ``hard_negative_scaled_recall_audit`` and the bench quality rows
    (hnm_scaled_pos/neg_agree).

    On this near-orthogonal synthetic corpus agreement ≈ scanned
    fraction, so ≥0.9 pins the ratio at 4/5; real embedding corpora
    cluster (the ivf_search recall-1.0-at-25%-scan evidence), where
    the same ratio overshoots or a smaller one suffices — the knob is
    one pair of integers.

    Reference parity: beyond-reference embedding tier."""
    return _hnm_scaled_triples(spark, sf_dir)


def _hnm_scaled_audit_oracle() -> str:
    from .catalog_r7 import _DUCK_COS, _hnm_ivf_scored_ctes, _hnm_triples_sql

    return f"""
    WITH {_hnm_ivf_scored_ctes(_HNM_RATIO_SQL).strip()},
    ivf AS (
      WITH {_hnm_triples_sql("scored")}
    ),
    bscored AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
             {_DUCK_COS.format(a="e.embedding", b="q.qvec")} AS raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    brute AS (
      WITH {_hnm_triples_sql("bscored").replace("ranked AS", "branked AS").replace("FROM ranked", "FROM branked")}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN i.pos_id IS NOT DISTINCT FROM b.pos_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS pos_agree,
           CAST(sum(CASE WHEN i.neg_id IS NOT DISTINCT FROM b.neg_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS neg_agree,
           CAST(count(i.margin_e6) AS BIGINT) AS n_margin_both,
           CAST(coalesce(sum(abs(i.margin_e6 - b.margin_e6)), 0)
                AS BIGINT) AS sum_abs_margin_err_e6
    FROM brute b JOIN ivf i USING (query_id)
    """


@query(
    "hard_negative_scaled_recall_audit",
    oracle=_hnm_scaled_audit_oracle(),
)
def q_hard_negative_scaled_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``hard_negative_recall_audit`` pointed at the ratio-scaled
    variant: the doctrine's claim — a ratio holds agreement where a
    fixed count decays — carried as a per-run measurement next to the
    query it audits, same null-safe agreement counts and integer
    margin-error sum.  tests/test_r8_queries.py asserts the ≥0.9 bar
    on the test corpus; the bench quality rows record it at sf0.1.

    Both sides reuse the shipped builders — the audit measures the
    production plan, not a reimplementation."""
    from .catalog_r6c import q_hard_negative_mining

    brute = q_hard_negative_mining(spark, sf_dir)
    ivf = _hnm_scaled_triples(spark, sf_dir).select(
        "query_id",
        F.col("pos_id").alias("i_pos_id"),
        F.col("neg_id").alias("i_neg_id"),
        F.col("margin_e6").alias("i_margin_e6"),
    )
    j = brute.join(ivf, "query_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(
            F.when(F.col("i_pos_id").eqNullSafe(F.col("pos_id")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("pos_agree"),
        F.sum(
            F.when(F.col("i_neg_id").eqNullSafe(F.col("neg_id")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("neg_agree"),
        F.count(F.col("i_margin_e6")).cast("bigint").alias("n_margin_both"),
        F.coalesce(
            F.sum(F.abs(F.col("i_margin_e6") - F.col("margin_e6"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_abs_margin_err_e6"),
    )
