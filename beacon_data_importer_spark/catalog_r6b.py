"""Round-6 catalog tier (b): forecasting, survey reweighting, and
multimodal chunk planning —

* ``holt_linear_forecast`` — Holt double exponential smoothing (level +
  trend) over the monthly revenue series via a TRUE ``WITH RECURSIVE``
  CTE in BOTH engines (Spark 4 SPARK-24497 ↔ DuckDB): the recursion
  carries (level, trend) month to month — a genuinely sequential
  computation that unrolled CTEs (ewma_daily_revenue's device) can
  only approximate for fixed horizons — plus a 3-month linear-trend
  forecast.  All integer ppm smoothing with truncating division,
  identical in both engines (Spark ``div`` / DuckDB ``//``, measured
  on negatives — trends go negative).
* ``ipf_raking_weights`` — iterative proportional fitting (raking):
  reweight the ORDER sample so its (nation × segment) cell weights hit
  the CUSTOMER population's marginals on both axes — the classic
  survey-statistics algorithm and the exact tool for hitting a target
  domain mixture when assembling a training corpus from skewed
  sources.  3 full IPF rounds (row step + column step), every scale
  factor floored to ppm identically in both engines.
* ``audio_chunk_plan`` — fixed-window / 50%-overlap chunk boundaries
  for variable-length media (documents stand in for audio sample
  streams): the deterministic fan-out plan every audio featurizer
  consumes, as pure JVM sequence arithmetic (the multimodal family's
  planning member next to decode / frame-sample / resize-plan).

Parity devices as in catalog_r6.py; reference parity: beyond-reference
analytics tier (the reference has no forecasting/reweighting surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Dialect, query, sql_query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# holt_linear_forecast
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 300_000  # level smoothing, ppm
_HOLT_BETA = 100_000  # trend smoothing, ppm
_HOLT_H = 3  # forecast horizon, months


_HOLT_FINAL_SQL = """
    SELECT bb.t AS t, bb.y_c AS y_c,
           CAST(p.l + p.b AS BIGINT) AS pred_c
    FROM __holt_base bb LEFT JOIN rec p ON p.t = bb.t - 1
    UNION ALL
    SELECT f.t + h.h, CAST(NULL AS BIGINT),
           CAST(f.l + h.h * f.b AS BIGINT)
    FROM (SELECT r2.t, r2.l, r2.b FROM rec r2
          WHERE r2.t = (SELECT max(t) FROM __holt_base)) f
    CROSS JOIN (SELECT 1 AS h UNION ALL SELECT 2 UNION ALL SELECT 3) h
"""


def _holt_spark_sql() -> str:
    """Spark recursion in ARRAY-CARRY form: the anchor folds the month
    series into one array and each step consumes its head — NO join
    per iteration.  Measured 29.3 s (join-per-step) → 6.3 s cold /
    2.8 s warm for the identical 80-step recursion and bit-identical
    (l, b) paths; Spark's recursive-CTE steps are scheduled jobs, so
    the per-step plan must be join-free.  DuckDB's oracle keeps the
    textbook join form (its recursion is in-process and cheap) —
    structural divergence, value identity, both derived from the same
    update constants below."""
    a, b1, one = _HOLT_ALPHA, _HOLT_BETA, 1_000_000
    # l_t appears inside b_t's update, so the expression is repeated —
    # SQL has no let-binding.
    y_t = "element_at(r.rest, 1)"
    l_t = f"((({a} * {y_t}) + ({one - a} * (r.l + r.b))) div {one})"
    return f"""
    WITH RECURSIVE arr AS (
      SELECT transform(array_sort(collect_list(struct(t, y_c))),
                       x -> x.y_c) AS ys
      FROM __holt_base
    ),
    rec(t, l, b, rest) AS (
      SELECT CAST(1 AS BIGINT), element_at(ys, 1),
             element_at(ys, 2) - element_at(ys, 1),
             slice(ys, 2, size(ys) - 1)
      FROM arr
      UNION ALL
      SELECT r.t + 1,
             {l_t},
             ((({b1} * ({l_t} - r.l)) + ({one - b1} * r.b)) div {one}),
             slice(r.rest, 2, size(r.rest) - 1)
      FROM rec r WHERE size(r.rest) > 0
    )
    {_HOLT_FINAL_SQL}
    """


def _holt_duck_sql() -> str:
    """DuckDB oracle: textbook join-per-step recursion (base CTE
    hoisted inside the RECURSIVE with-list), `//` division — truncates
    toward zero exactly like Spark ``div``, measured on negatives
    (trends go negative)."""
    a, b1, one = _HOLT_ALPHA, _HOLT_BETA, 1_000_000
    l_t = f"((({a} * nx.y_c) + ({one - a} * (r.l + r.b))) // {one})"
    return f"""
    WITH RECURSIVE __holt_base AS ({_HOLT_BASE_SQL}),
    rec(t, l, b) AS (
      SELECT b1.t, b1.y_c, b2.y_c - b1.y_c
      FROM __holt_base b1 JOIN __holt_base b2 ON b2.t = 2
      WHERE b1.t = 1
      UNION ALL
      SELECT nx.t,
             {l_t},
             ((({b1} * ({l_t} - r.l)) + ({one - b1} * r.b)) // {one})
      FROM rec r JOIN __holt_base nx ON nx.t = r.t + 1
    )
    {_HOLT_FINAL_SQL}
    """


_HOLT_BASE_SQL = """
    SELECT CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS t, y_c
    FROM (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y_c
      FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
    ) m
"""


@query(
    "holt_linear_forecast",
    oracle=_holt_duck_sql(),
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of monthly revenue + a 3-month
    forecast, through a TRUE recursive CTE in both engines.

    The recursion carries (levelₜ, trendₜ): lₜ = (α·yₜ + (1−α)(l+b))
    and bₜ = (β·(lₜ−l) + (1−β)·b), α=0.3, β=0.1, all in integer ppm
    with one truncating division per update — the sequential
    dependency that makes this the genuine use case for Spark 4's
    ``WITH RECURSIVE`` (vs recursive_bom_rollup's data-defined walk
    and ewma's single-coefficient unroll).  Output: every month with
    its one-step-ahead prediction lₜ₋₁+bₜ₋₁ (NULL at t=1), plus 3
    future months with ŷ = l_N + h·b_N and NULL actuals.

    Scale: the recursion frame is the MONTH series — bounded by
    calendar (84 rows here, thousands at most), so the per-step join
    is trivially small; the only volume-bearing exchange is the
    monthly aggregate, which map-side combines.  The ordered
    row_number window runs on the same bounded month frame."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    spark.sql(f"SELECT * FROM ({_HOLT_BASE_SQL})").createOrReplaceTempView(
        "__holt_base"
    )
    return spark.sql(_holt_spark_sql())


# ---------------------------------------------------------------------------
# ipf_raking_weights
# ---------------------------------------------------------------------------

_IPF_ROUNDS = 3


def _ipf_sql(dialect: Dialect) -> str:
    """Full raking chain for one dialect.  ``spark`` uses DECIMAL(38,0)
    + `` div ``; ``duck`` uses HUGEINT + ``//``.  Identical structure,
    identical floor placement — every weight stays an exact ppm
    integer in both engines."""
    steps = []
    prev = "w0"
    for r in range(_IPF_ROUNDS):
        for axis, key in (("r", "nation"), ("c", "segment")):
            cur = f"w{r}{axis}"
            tcol = "t_n" if key == "nation" else "t_s"
            steps.append(
                f"""
    {cur} AS (
      SELECT nation, segment, n, t_n, t_s,
             CAST(CAST(w AS {dialect.big})
                  * ((CAST({tcol} AS {dialect.big}) * 1000000)
                     {dialect.div} sum(CAST(n AS {dialect.big}) * w)
                           OVER (PARTITION BY {key}))
                  {dialect.div} 1000000 AS BIGINT) AS w
      FROM {prev}
    )"""
            )
            prev = cur
    chain = ",".join(steps)
    return f"""
    WITH sample_cells AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, c.c_mktsegment
    ),
    pop_n AS (
      SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS pop
      FROM customer GROUP BY c_nationkey
    ),
    pop_s AS (
      SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS pop
      FROM customer GROUP BY c_mktsegment
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS s,
             (SELECT CAST(count(*) AS BIGINT) FROM customer) AS p
      FROM sample_cells
    ),
    w0 AS (
      SELECT sc.nation, sc.segment, sc.n,
             CAST(CAST(pn.pop AS {dialect.big}) * t.s * 1000000 {dialect.div} t.p
                  AS BIGINT) AS t_n,
             CAST(CAST(ps.pop AS {dialect.big}) * t.s * 1000000 {dialect.div} t.p
                  AS BIGINT) AS t_s,
             CAST(1000000 AS BIGINT) AS w
      FROM sample_cells sc
      JOIN pop_n pn ON pn.nation = sc.nation
      JOIN pop_s ps ON ps.segment = sc.segment
      CROSS JOIN tot t
    ),{chain}
    SELECT nation, segment, n, w AS w_ppm FROM {prev}
    """


sql_query(
    "ipf_raking_weights", _ipf_sql, "orders", "customer",
    doc="""Iterative proportional fitting (raking): per-cell weights that
    pull the ORDER sample's (nation × segment) composition toward the
    CUSTOMER population's marginals on both axes — {r} full rounds,
    each one row-scale then column-scale, every adjustment factor
    floored to ppm.  The survey-statistics classic, and exactly how a
    training-corpus assembler hits a target (domain × language)
    mixture from skewed crawls: ``mixture_config_sample`` consumes
    per-cell rates; this PRODUCES them from marginal targets when the
    full joint target is unknown.

    Targets are exact integer micro-counts (population marginal scaled
    to sample size: pop·S·1e6 div P); each step multiplies w by the
    floored ppm ratio target/current-marginal, so weights remain exact
    integers and the two engines agree bit-for-bit (DECIMAL(38,0) ↔
    HUGEINT intermediates).

    Scale: the iteration runs on the CELL frame (QI cross-product —
    125 rows here, bounded by attribute cardinality, NEVER by data
    volume); the only volume-bearing work is the one sample aggregate.
    The partitioned window sums are per-axis (≤ max marginal
    cardinality per partition), not global.""".format(r=_IPF_ROUNDS),
)


# ---------------------------------------------------------------------------
# audio_chunk_plan
# ---------------------------------------------------------------------------

_CHUNK_WIN = 4096
_CHUNK_HOP = 2048  # 50% overlap


@query(
    "audio_chunk_plan",
    oracle=f"""
    SELECT d.doc_id,
           CAST(k.k AS BIGINT) AS chunk_idx,
           CAST(k.k * {_CHUNK_HOP} AS BIGINT) AS start_off,
           CAST(least(k.k * {_CHUNK_HOP} + {_CHUNK_WIN}, d.n_chars)
                AS BIGINT) AS end_off,
           CASE WHEN k.k * {_CHUNK_HOP} + {_CHUNK_WIN} > d.n_chars
                THEN 1 ELSE 0 END AS is_partial
    FROM documents d
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(
        0,
        CASE WHEN d.n_chars > {_CHUNK_WIN}
             THEN (d.n_chars - {_CHUNK_WIN} + {_CHUNK_HOP} - 1)
                  // {_CHUNK_HOP}
             ELSE 0 END
      )) AS k
    ) k
    WHERE d.n_chars > 0
    """,
)
def q_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic chunk-boundary plan for variable-length media:
    window {w} / hop {h} (50% overlap), final partial window kept and
    flagged — the planning stage every audio featurizer (and every
    long-document splitter) fans out over, emitted as pure JVM
    ``sequence``+``explode`` arithmetic with no UDF.  ``n_chars``
    stands in for the per-object sample count exactly as the
    multimodal tier's typed metadata does (operators/multimodal.py:
    decode / frame-sample / resize-plan; this adds the 1-D chunking
    member).  At 100 TB the fan-out is bounded by Σ len/hop — the
    chunk count the downstream featurizer must process anyway — and
    collapses map-side; no shuffle is introduced at all."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    n_full = F.when(
        F.col("n_chars") > _CHUNK_WIN,
        F.floor(
            (F.col("n_chars") - _CHUNK_WIN + _CHUNK_HOP - 1) / _CHUNK_HOP
        ),
    ).otherwise(F.lit(0))
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.explode(
                F.sequence(F.lit(0), n_full.cast("bigint"))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * _CHUNK_HOP).cast("bigint").alias(
                "start_off"
            ),
            F.least(
                F.col("chunk_idx") * _CHUNK_HOP + _CHUNK_WIN,
                F.col("n_chars"),
            )
            .cast("bigint")
            .alias("end_off"),
            F.when(
                F.col("chunk_idx") * _CHUNK_HOP + _CHUNK_WIN
                > F.col("n_chars"),
                1,
            )
            .otherwise(0)
            .alias("is_partial"),
        )
    )


q_audio_chunk_plan.__doc__ = (q_audio_chunk_plan.__doc__ or "").format(
    w=_CHUNK_WIN, h=_CHUNK_HOP
)
