"""Round-6 catalog tier (j): how-much-is-missing estimators + trend
breaks —

* ``capture_recapture_estimate`` — the Chapman capture-recapture
  estimator of a population you can only sample: two independent
  md5-hash samples of order-active customers, overlap m, population
  ≈ (n₁+1)(n₂+1)/(m+1) − 1 — exact integers, with the TRUE count
  alongside (the planted-truth calibration: the estimate must cover
  it).  The crawl-engineering use: estimate the true deduplicated
  entity count from two cheap samples before paying for the full
  dedup pass.
* ``chao1_unseen_vocab`` — Chao1 richness + Good-Turing unseen mass
  over the document token stream: observed vocabulary V, singletons
  f₁, doubletons f₂ ⇒ Chao1 = V + f₁²/(2f₂) (how many types exist)
  and GT = f₁/N (how much probability mass the next token draws from
  unseen types) — exact integer ratios.  The corpus-linguistics
  classics that tell a tokenizer/corpus team how far from vocabulary
  saturation a crawl is; extends ``vocab_coverage`` (which measures a
  FIXED vocab) with open-vocabulary extrapolation.
* ``chow_break_test`` — the Chow structural-break test on the monthly
  revenue trend at a known cutoff: pooled-vs-segmented OLS residuals,
  each SSE one IEEE chain over exact integer sufficient statistics
  (identical expression text both engines, the logrank device),
  F-statistic vs the critical value by cross-multiplication.  The
  intervention-analysis sibling of DiD: DiD needs a control group,
  Chow asks the series itself whether the slope broke.

Reference parity: beyond-reference estimation tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# capture_recapture_estimate
# ---------------------------------------------------------------------------

#: two independent ~40% md5 samples (different seeds)
_CR_P_PPM = 400_000


def _cr_u(seed: str, dialect: Dialect) -> str:
    if dialect.spark:
        return (
            f"CAST(conv(substring(md5(concat('{seed}|',"
            " cast(c_custkey as string))), 1, 15), 16, 10) AS BIGINT)"
            " % 1000000"
        )
    return (
        f"CAST('0x' || substring(md5('{seed}|' ||"
        " CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 1000000"
    )


def _cr_sql(dialect: Dialect) -> str:
    u1, u2 = _cr_u("cr1", dialect), _cr_u("cr2", dialect)
    return f"""
    WITH active AS (
      SELECT DISTINCT c.c_custkey
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    tagged AS (
      SELECT c_custkey,
             CASE WHEN {u1} < {_CR_P_PPM} THEN 1 ELSE 0 END AS s1,
             CASE WHEN {u2} < {_CR_P_PPM} THEN 1 ELSE 0 END AS s2
      FROM active
    )
    SELECT CAST(count(*) AS BIGINT) AS true_n,
           CAST(sum(s1) AS BIGINT) AS n1,
           CAST(sum(s2) AS BIGINT) AS n2,
           CAST(sum(s1 * s2) AS BIGINT) AS m,
           CAST((sum(s1) + 1) * (sum(s2) + 1)
                {dialect.div} (sum(s1 * s2) + 1) - 1 AS BIGINT) AS chapman_est
    FROM tagged
    """


sql_query(
    "capture_recapture_estimate", _cr_sql, "customer", "orders",
    doc="""Chapman capture-recapture: estimate the order-active customer
    population from two independent ~40% hash samples and their
    overlap — N̂ = (n₁+1)(n₂+1)/(m+1) − 1, exact integers.  The true
    count rides along, so the output IS the calibration (the test
    asserts the estimate within the Chapman standard error of truth).

    Why a warehouse needs it: when full deduplication is the expensive
    step (cross-silo entity resolution, web-crawl URL dedup), two
    CHEAP independent samples + one intersect estimate the deduplicated
    cardinality before anyone pays for the real pass — the same
    mark-recapture logic ecologists use on fish.

    One distinct + one hash-tag scan + one 1-row aggregate; the
    samples are md5-deterministic (catalog.py portable-hash device,
    CAST-before-modulo per the round-6 coercion audit).

    Reference parity: beyond-reference estimation tier.""",
)


# ---------------------------------------------------------------------------
# chao1_unseen_vocab
# ---------------------------------------------------------------------------

def _chao_sql(dialect: Dialect) -> str:
    split = (
        "explode(split(text, ' ')) AS tok"
        if dialect.spark
        else "unnest(string_split(text, ' ')) AS tok"
    )
    return f"""
    WITH toks AS (
      SELECT {split} FROM documents
    ),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS f
      FROM toks WHERE tok <> '' GROUP BY tok
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_observed,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*)
                + sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                  * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                  {dialect.div} (2 * greatest(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END),
                                      1))
                AS BIGINT) AS chao1_est,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1000000
                {dialect.div} sum(f) AS BIGINT) AS gt_unseen_ppm
    FROM freq
    """


@query(
    "chao1_unseen_vocab",
    oracle=_chao_sql(DUCK),
)
def q_chao1_unseen_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-vocabulary extrapolation from the token frequency spectrum:
    Chao1 richness V + f₁²/(2f₂) estimates how many word types EXIST
    (seen + unseen) and Good-Turing f₁/N estimates the probability
    that the next token is a type never seen — both exact integer
    ratios over the (singleton, doubleton) counts, with the standard
    max(f₂,1) guard.

    This is the saturation gauge for a growing crawl: gt_unseen_ppm
    near zero says more data buys no new vocabulary; a Chao1 far above
    V says the type inventory is still mostly unseen.  Extends
    ``vocab_coverage`` (coverage of a FIXED vocab) and
    ``corpus_diversity_report`` (within-corpus mix) with the
    beyond-the-sample estimate.

    One token explode → one frequency aggregate → a 1-row spectrum
    rollup; everything map-side combines.

    Reference parity: beyond-reference corpus tier."""
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_chao_sql(SPARK))


# ---------------------------------------------------------------------------
# chow_break_test
# ---------------------------------------------------------------------------

_CHOW_CUTOFF_YM = 199801  # split the monthly series at 1998-01
#: F(2, 60..120, 0.05) ≈ 3.07..3.15 for n≈84; we embed F(2, 80, 0.05)
_CHOW_F_CRIT_E6 = 3_110_766


def _chow_sql(dialect: Dialect) -> str:
    # SSE of OLS y~x from exact integer sufficient statistics, as ONE
    # IEEE chain (identical text both engines): sse = syy - sxy^2/sxx

    # UNIT CHOICE IS A PARITY DEVICE HERE: with y in cents, Σy² needs a
    # wide integer (int64 wraps — measured: negative SSEs in Spark), and
    # DuckDB's HUGEINT→DOUBLE cast is NOT correctly rounded (measured:
    # CAST(34643312993258563948 AS DOUBLE) differs from Python/Spark by
    # 1 ulp → SSEs drift by 128 at 7e17).  Coarsening y to $1000 units
    # (identical floor both engines) bounds every sufficient statistic
    # well inside int64, where both engines' int→double is exact.

    def stats(pred: str, pref: str) -> str:
        return f"""
      SELECT count(*) AS {pref}_n,
             sum(t) AS {pref}_sx, sum(y_k) AS {pref}_sy,
             count(*) * sum(t * t) - sum(t) * sum(t) AS {pref}_sxx_n,
             count(*) * sum(t * y_k) - sum(t) * sum(y_k) AS {pref}_sxy_n,
             count(*) * sum(y_k * y_k) - sum(y_k) * sum(y_k)
               AS {pref}_syy_n
      FROM monthly WHERE {pred}
    """

    return f"""
    WITH monthly AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             CAST(row_number() OVER (
               ORDER BY year(o_orderdate) * 100 + month(o_orderdate))
               AS BIGINT) AS t,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) {dialect.div} 100000 AS y_k
      FROM orders
      GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
    ),
    p AS ({stats("1 = 1", "p")}),
    a AS ({stats(f"ym < {_CHOW_CUTOFF_YM}", "a")}),
    b AS ({stats(f"ym >= {_CHOW_CUTOFF_YM}", "b")}),
    sses AS (
      SELECT p.p_n AS n,
             CAST(floor((CAST(p.p_syy_n AS DOUBLE)
                         - CAST(p.p_sxy_n AS DOUBLE)
                           * CAST(p.p_sxy_n AS DOUBLE)
                           / CAST(p.p_sxx_n AS DOUBLE))
                        / CAST(p.p_n AS DOUBLE)) AS BIGINT) AS sse_p,
             CAST(floor((CAST(a.a_syy_n AS DOUBLE)
                         - CAST(a.a_sxy_n AS DOUBLE)
                           * CAST(a.a_sxy_n AS DOUBLE)
                           / CAST(a.a_sxx_n AS DOUBLE))
                        / CAST(a.a_n AS DOUBLE)) AS BIGINT) AS sse_a,
             CAST(floor((CAST(b.b_syy_n AS DOUBLE)
                         - CAST(b.b_sxy_n AS DOUBLE)
                           * CAST(b.b_sxy_n AS DOUBLE)
                           / CAST(b.b_sxx_n AS DOUBLE))
                        / CAST(b.b_n AS DOUBLE)) AS BIGINT) AS sse_b
      FROM p CROSS JOIN a CROSS JOIN b
    )
    SELECT n, sse_p, sse_a, sse_b,
           CAST(floor(1e6 * (CAST(sse_p - sse_a - sse_b AS DOUBLE) / 2.0)
                      / (CAST(sse_a + sse_b AS DOUBLE)
                         / CAST(n - 4 AS DOUBLE))) AS BIGINT) AS f_e6,
           CASE WHEN floor(1e6 * (CAST(sse_p - sse_a - sse_b AS DOUBLE)
                                  / 2.0)
                           / (CAST(sse_a + sse_b AS DOUBLE)
                              / CAST(n - 4 AS DOUBLE)))
                     > {_CHOW_F_CRIT_E6}
                THEN 1 ELSE 0 END AS reject_05
    FROM sses
    """


sql_query(
    "chow_break_test", _chow_sql, "orders",
    doc="""Chow structural-break test: did the monthly revenue TREND change
    at {cut}?  Pooled OLS vs two segment OLS fits; F = ((SSE_p −
    SSE₁ − SSE₂)/k) / ((SSE₁+SSE₂)/(n−2k)), k=2 (intercept + slope).

    Exactness: every sufficient statistic (n·Σxy − ΣxΣy etc.) is an
    exact integer; each SSE is ONE IEEE double chain over those
    integers with IDENTICAL expression text in both engines, floored
    once (the logrank/kaplan_meier device — scaled by n to keep the
    variance-form statistics integer); the F decision compares against
    the embedded F(2, 80, 0.05) literal.  TPC-H monthly revenue is a
    flat line with a partial-month edge artifact, so the test's answer
    is data-honest, not planted — the Python recomputation in tests is
    the value check.

    The bounded month frame (calendar) sanctions the row_number
    window; the only volume-bearing work is the monthly aggregate.
    Completes the intervention family: DiD (control group), RDD
    (cutoff locality), CUPED (variance reduction), Chow (trend break).

    Reference parity: beyond-reference time-series tier.""".format(
        cut=_CHOW_CUTOFF_YM
    ),
)
