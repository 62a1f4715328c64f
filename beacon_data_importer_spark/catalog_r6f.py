"""Round-6 catalog tier (f): the Spark-4 collation surface and
time-series autocorrelation —

* ``collated_distinct_audit`` — Spark 4 COLLATION support
  (SPARK-46830): DISTINCT under ``UNICODE_CI`` on a column with
  PLANTED case variants (every even part's name upper-cased), next to
  binary-collation and lower()-normalized counts.  On ASCII data
  UNICODE_CI equality ≡ lower() equality, which is exactly what the
  cross-engine hash checks: Spark counts through the collated type,
  DuckDB through lower() — equal numbers prove the collation actually
  collapsed the planted variants.
* ``acf_daily_revenue`` — the autocorrelation function of the daily
  revenue series at lags 1 / 7 / 28 (day, week, lunar-ish month):
  r_k = Σ(yₜ−ȳ)(yₜ₊ₖ−ȳ) / Σ(yₜ−ȳ)², computed DIVISION-FREE until the
  final ppm floor by clearing ȳ = S/n denominators —
  n²·num = n²·Pₖ − nS·(Σ_head + Σ_tail) + (n−k)·S² and
  n²·den = n²·Q − n·S², all DECIMAL(38,0)/HUGEINT exact.  The lag
  pairing runs on the bounded day frame (calendar-bounded, the
  kaplan_meier window sanction).

Reference parity: beyond-reference tiers (collation is a migration
surface the reference's Postgres dialect exposes as citext/ILIKE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Dialect, query, sql_query
from .sources.parquet import read_table

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# collated_distinct_audit
# ---------------------------------------------------------------------------

_VARIANT_SQL = (
    "CASE WHEN p_partkey % 2 = 0 THEN upper(p_name) ELSE p_name END"
)


@query(
    "collated_distinct_audit",
    oracle=f"""
    WITH v AS (SELECT {_VARIANT_SQL} AS name FROM part)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT name) AS BIGINT) AS distinct_binary,
           CAST(count(DISTINCT lower(name)) AS BIGINT) AS distinct_ci,
           CAST(count(DISTINCT lower(name)) AS BIGINT) AS distinct_lower
    FROM v
    """,
)
def q_collated_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations, proven by construction: every even-keyed
    part name is upper-cased, then DISTINCT is counted three ways —
    binary collation (UTF8_BINARY: variants stay distinct), the
    ``UNICODE_CI`` collated type (variants collapse), and a plain
    lower() normalization (the pre-collation idiom).  The DuckDB twin
    has no Spark collated type, so its ci column is lower() — the
    value-hash equality IS the semantic claim: on this ASCII corpus
    UNICODE_CI equality coincides with case-folding, and the collated
    DISTINCT really collapsed the planted variants (distinct_binary >
    distinct_ci, asserted in tests).

    Collation runs inside the hash aggregate (the collated type's
    sort/compare keys are engine-internal) — no UDF, no extra
    exchange vs the binary count.

    Reference parity: the reference's Postgres stack exposes the same
    need as citext / ILIKE (SURVEY §1 CSV header normalization);
    Spark 4 closes it natively (SPARK-46830)."""
    p = read_table(spark, sf_dir, "part")
    v = p.select(F.expr(_VARIANT_SQL).alias("name"))
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("name").cast("bigint").alias("distinct_binary"),
        F.countDistinct(F.expr("collate(name, 'UNICODE_CI')"))
        .cast("bigint")
        .alias("distinct_ci"),
        F.countDistinct(F.lower("name")).cast("bigint").alias(
            "distinct_lower"
        ),
    )


# ---------------------------------------------------------------------------
# acf_daily_revenue
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 7, 28)


def _acf_sql(dialect: Dialect) -> str:
    lag_rows = " UNION ALL ".join(f"SELECT {k} AS k" for k in _ACF_LAGS)
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY o_orderdate
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, y
      FROM daily
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(CAST(y AS {dialect.big}) * y) AS {dialect.big}) AS q
      FROM idx
    ),
    lags AS ({lag_rows}),
    paired AS (
      SELECT l.k,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(a.y AS {dialect.big}) * b.y) AS {dialect.big}) AS p,
             CAST(sum(a.y) AS BIGINT) AS sh,
             CAST(sum(b.y) AS BIGINT) AS st
      FROM lags l
      JOIN idx a ON 1 = 1
      JOIN idx b ON b.t = a.t + l.k
      GROUP BY l.k
    )
    SELECT p.k AS lag, p.n_pairs,
           CAST((CAST(t.n AS {dialect.big}) * t.n * p.p
                 - CAST(t.n AS {dialect.big}) * t.s * (p.sh + p.st)
                 + CAST(p.n_pairs AS {dialect.big}) * t.s * t.s) * 1000000
                {dialect.div} (CAST(t.n AS {dialect.big}) * t.n * t.q
                       - CAST(t.n AS {dialect.big}) * t.s * t.s)
                AS BIGINT) AS r_ppm
    FROM paired p CROSS JOIN tot t
    ORDER BY p.k
    """


sql_query(
    "acf_daily_revenue", _acf_sql, "orders",
    doc="""Autocorrelation of daily revenue at lags {lags} — the first
    chart every forecaster draws (is there weekly structure? monthly?)
    and the diagnostic that justifies (or kills) the seasonal terms in
    ``hourly_seasonality`` / ``holt_linear_forecast``.

    r_k is the textbook estimator with the series mean cleared
    symbolically: numerator n²·Pₖ − nS·(Σhead+Σtail) + (n−k)S² and
    denominator n²·Q − nS², every product exact in
    DECIMAL(38,0)/HUGEINT, ONE truncating division to ppm at the end
    (sign-correct on negative correlations in both engines).  TPC-H
    order dates are i.i.d. uniform, so the honest expectation is
    r ≈ 0 at every lag — the white-noise calibration the test
    asserts; a real sales series would light up at 7.

    The lag pairing is an index self-join on the DAY frame — bounded
    by the calendar (≈2 400 rows), the same bounded-frame sanction as
    kaplan_meier's windows; the only volume-bearing exchange is the
    daily aggregate (map-side combined).

    Reference parity: beyond-reference time-series tier.""".format(
        lags=_ACF_LAGS
    ),
)
