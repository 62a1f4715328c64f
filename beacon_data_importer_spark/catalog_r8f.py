"""Round-8 catalog, tier 6: corpus language-model scoring, rank-based
changepoint, intermittent-demand smoothing, normality, and ordered
repeated-measures trend —

* ``bigram_lm_perplexity`` — CCNet-style quality filter: an add-one
  smoothed bigram LM is trained on the WHOLE corpus in one pass
  (bigram + context counts), then every document is scored by its
  average negative log-likelihood under that model.  High-avg-NLL
  docs are the gibberish/boilerplate candidates the Gopher rules miss.
* ``pettitt_changepoint`` — nonparametric single changepoint in daily
  revenue: U_t from midranks (U_t = Σ_{i≤t} 2R_i − t(n+1), EXACT
  integers via the doubled-midrank device), K = max|U_t|, and the
  exp-free significance gate 6K² > ln(2/α)·(n³+n²) cross-multiplied
  to ppm literals.  The location-shift complement to
  ``cusum_changepoints`` (mean-based) and ``chow_break_test`` (OLS).
* ``croston_intermittent`` — Croston's method for intermittent demand
  (a single supplier's shipment days are sparse on the calendar):
  separate EWMA of demand SIZE and demand INTERVAL, forecast = z/p,
  as a ppm-integer recursive CTE in BOTH engines.
* ``jarque_bera_test`` — moment-based normality of daily revenue:
  JB = n/6·(S² + K²/4) assembled from the exact integer central
  moments Σd², Σd³, Σd⁴ (d = n·y − S, no mean ever divides) with
  staged quotients so nothing approaches the 1e38 ceiling.
* ``page_trend_test`` — Page's L for ORDERED alternatives across
  repeated measures: within-year ranks of the 12 monthly revenues,
  L = Σ month·rank summed over complete years; the ordered sibling of
  ``friedman_test`` exactly as ``jonckheere_terpstra`` is the ordered
  sibling of ``kruskal_wallis``.

Parity devices (catalog.py doctrine): doubled midranks for tie-exact
rank statistics, cross-multiplied deviations, DECIMAL(38,0)/HUGEINT
products, per-term floored ln (woe_iv device) for the LM only,
published constants as ppm literals.

Reference parity: beyond-reference statistics/corpus tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .catalog_r8d import _day_sql


# ---------------------------------------------------------------------------
# bigram_lm_perplexity
# ---------------------------------------------------------------------------


def _lm_sql(dialect: Dialect) -> str:
    if dialect.spark:
        words = "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"
        # [1..size-1] via filter (sequence(1, 0) would run DOWNWARD)
        bigs = (
            "transform(filter(sequence(1, size(ws)), i -> i < size(ws)),"
            " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
        )
        explode_b = "SELECT doc_id, explode(bgs) AS bg FROM barr"
        explode_w = "SELECT explode(ws) AS w FROM tok"
        lnterm = (
            "CAST(floor(1000000 * ln(CAST(u.c1 + v.v AS DOUBLE)"
            " / CAST(bc.cb + 1 AS DOUBLE))) AS BIGINT)"
        )
    else:
        words = (
            "list_filter(string_split_regex(lower(text), '[^a-z]+'),"
            " x -> x <> '')"
        )
        bigs = (
            "list_transform(range(1, greatest(len(ws), 1)),"
            " i -> ws[i] || ' ' || ws[i + 1])"
        )
        explode_b = "SELECT doc_id, unnest(bgs) AS bg FROM barr"
        explode_w = "SELECT unnest(ws) AS w FROM tok"
        lnterm = (
            "CAST(floor(1000000 * ln((u.c1 + v.v)::DOUBLE"
            " / (bc.cb + 1)::DOUBLE)) AS BIGINT)"
        )
    tok_sql = f"SELECT doc_id, {words} AS ws FROM documents"
    rest = f"""
    WITH barr AS (SELECT doc_id, {bigs} AS bgs FROM tok),
    big AS ({explode_b}),
    bc AS (
      SELECT split_part(bg, ' ', 1) AS w1, bg,
        CAST(count(*) AS BIGINT) AS cb
      FROM big GROUP BY bg
    ),
    uni AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          FROM ({explode_w}) t),
    scored AS (
      SELECT big.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        CAST(sum({lnterm}) AS BIGINT) AS nll_e6
      FROM big
      JOIN bc ON bc.bg = big.bg
      JOIN uni u ON u.w1 = bc.w1
      CROSS JOIN v
      GROUP BY big.doc_id
    )
    SELECT doc_id, n_bigrams, nll_e6,
      nll_e6{dialect.div}n_bigrams AS avg_nll_e6
    FROM scored
    """
    return tok_sql, rest


_LM_DUCK_TOK, _LM_DUCK_REST = _lm_sql(DUCK)


@query(
    "bigram_lm_perplexity",
    oracle=_LM_DUCK_REST.replace(
        "WITH barr AS (",
        f"WITH tok AS ({_LM_DUCK_TOK}),\n    barr AS (",
        1,
    ),
)
def q_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document negative log-likelihood under an add-one-smoothed
    corpus bigram LM (CCNet's wikipedia-LM filter, self-trained):
    P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V), doc score = Σ −ln P over its
    bigram OCCURRENCES (per-term floored micro-nats — the woe_iv ln
    device, placed identically in both engines), average exposed for
    thresholding.  ``lang_profile_score`` ranks by character trigrams;
    this ranks by word-transition plausibility.

    Scale: LM training is two map-side-combinable groupBys over the
    bigram stream; scoring is a hash join of that stream against the
    count tables keyed on the bigram (skew on frequent bigrams is the
    usual Zipf head — the join carries only (bg, counts)).  The doc
    scan goes through the ``_docs_parallel`` repartition so the
    regex tokenization isn't serialized onto one input split's core."""
    from .catalog_ext import _docs_parallel

    _docs_parallel(spark, sf_dir).createOrReplaceTempView("documents")
    tok_sql, rest = _lm_sql(SPARK)
    # The token-array frame feeds the bigram stream TWICE (LM training
    # groupBys + per-doc scoring join) and the vocab count once: left
    # as a CTE, Catalyst re-inlines it and the regex tokenization runs
    # 3× (measured 14 s warm at sf0.1 → ~5 s cached).  localCheckpoint,
    # not persist (r11): the columnar-cache build for the array<string>
    # column is ~10× the checkpoint's row-block write, and the blocks
    # are GC-released — no cross-run handle bookkeeping needed.
    spark.sql(tok_sql).localCheckpoint().createOrReplaceTempView("tok")
    return spark.sql(rest)


# ---------------------------------------------------------------------------
# pettitt_changepoint
# ---------------------------------------------------------------------------

#: floor(1e6 · ln(2/0.05)) — the Pettitt significance gate constant
_PETTITT_LN_E6 = 3_688_879


def _pettitt_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    dist AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM day GROUP BY y),
    rmap AS (
      SELECT y, c,
        2 * (sum(c) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
          + c + 1 AS r2
      FROM dist
    ),
    u AS (
      SELECT day.t,
        sum(rmap.r2) OVER (ORDER BY day.t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - (row_number() OVER (ORDER BY day.t)) * (st.n + 1) AS u_t
      FROM day JOIN rmap ON rmap.y = day.y CROSS JOIN st
    ),
    k AS (
      SELECT t AS change_day, abs(u_t) AS k_stat, u_t
      FROM u ORDER BY abs(u_t) DESC, t LIMIT 1
    )
    SELECT st.n AS n_days, k.change_day,
      CAST(k.k_stat AS BIGINT) AS k_stat,
      k.u_t > 0 AS level_drop_side,
      CAST(6 AS {dialect.big}) * k.k_stat * k.k_stat * 1000000
        > CAST({_PETTITT_LN_E6} AS {dialect.big})
          * (CAST(st.n AS {dialect.big}) * st.n * st.n + CAST(st.n AS {dialect.big}) * st.n)
        AS reject_no_change
    FROM k CROSS JOIN st
    """


sql_query(
    "pettitt_changepoint", _pettitt_sql, "orders",
    doc="""Pettitt's nonparametric changepoint on daily revenue: midranks
    via the doubled-rank device over the DISTINCT-value frame (tie
    exact, all integer), U_t = Σ_{i≤t}2R_i − t(n+1) from one cumulative
    window over the calendar-day frame, K = max|U_t| picked by
    TakeOrdered, and significance decided WITHOUT exp by
    cross-multiplying the inversion 6K² > ln(2/α)(n³+n²) with the ln
    constant as a ppm literal.

    Scale: both windows run over calendar-bounded frames (distinct
    day values / days) — documented in BOUNDED_FRAME_AUDITED; the only
    full pass is the orders scan into daily sums.""",
)


# ---------------------------------------------------------------------------
# croston_intermittent
# ---------------------------------------------------------------------------

_CROSTON_ALPHA_PPM = 100_000  # α = 0.1


def _croston_sql(dialect: Dialect) -> str:
    """Croston as TWO independent scalar integer folds — the z (size)
    recurrence reads only the demand sizes and the p (interval)
    recurrence only the inter-arrival gaps, so neither needs the
    other's carry.  A WITH RECURSIVE join-per-level formulation was
    measured at ~1.5 s/level in Spark (196 s for 144 demand days); the
    array fold is one job."""
    a = _CROSTON_ALPHA_PPM
    na = 1_000_000 - a
    if dialect.spark:
        ts_agg = "transform(array_sort(collect_list(struct(t, q))), x -> x.t)"
        qs_agg = "transform(array_sort(collect_list(struct(t, q))), x -> x.q)"
        ivs = (
            "zip_with(slice(ts, 2, size(ts) - 1), slice(ts, 1, size(ts) - 1),"
            " (x, y) -> x - y)"
        )
        qtail = "slice(qs, 2, size(qs) - 1)"
        head = "element_at(qs, 1)"
        n_iv = "size(ivs)"
        sum_iv = (
            "aggregate(ivs, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        zfold = (
            f"aggregate(qtail, CAST({head} AS BIGINT),"
            f" (z, q) -> ({a} * q + {na} * z){dialect.div}1000000)"
        )
        pfold = (
            f"aggregate(ivs, p0,"
            f" (p, iv) -> ({a} * (iv * 1000000) + CAST({na} AS BIGINT) * p)"
            f"{dialect.div}1000000)"
        )
        kk = "size(qs)"
    else:
        ts_agg = "list(t ORDER BY t)"
        qs_agg = "list(q ORDER BY t)"
        ivs = "list_transform(range(1, len(ts)), i -> ts[i + 1] - ts[i])"
        qtail = "qs[2:len(qs)]"
        head = "qs[1]"
        n_iv = "len(ivs)"
        sum_iv = "CAST(list_sum(ivs) AS BIGINT)"
        zfold = (
            f"list_reduce(list_prepend(CAST({head} AS BIGINT), qtail),"
            f" (z, q) -> ({a} * q + {na} * z){dialect.div}1000000)"
        )
        pfold = (
            f"list_reduce(list_prepend(p0, ivs),"
            f" (p, iv) -> ({a} * (iv * 1000000) + {na}::BIGINT * p)"
            f"{dialect.div}1000000)"
        )
        kk = "len(qs)"
    return f"""
    WITH dem AS (
      SELECT
        CAST({dialect.datediff("DATE '1995-01-01'", "l.l_shipdate")}
             AS BIGINT) AS t,
        CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
          AS q
      FROM lineitem l
      WHERE l.l_suppkey = (SELECT min(l_suppkey) FROM lineitem)
      GROUP BY l.l_shipdate
    ),
    arr AS (SELECT {ts_agg} AS ts, {qs_agg} AS qs FROM dem),
    pre AS (SELECT ts, qs, {ivs} AS ivs FROM arr),
    ini AS (
      SELECT ts, qs, ivs, {qtail} AS qtail,
        CAST(({sum_iv} * 1000000){dialect.div}{n_iv} AS BIGINT) AS p0
      FROM pre
    ),
    fin AS (
      SELECT CAST({kk} AS BIGINT) AS demand_days,
        CAST({zfold} AS BIGINT) AS size_ewma_c,
        CAST({pfold} AS BIGINT) AS interval_ewma_ppm
      FROM ini
    )
    SELECT demand_days, size_ewma_c, interval_ewma_ppm,
      CAST((size_ewma_c * 1000000){dialect.div}interval_ewma_ppm AS BIGINT)
        AS demand_rate_c_per_day
    FROM fin
    """


sql_query(
    "croston_intermittent", _croston_sql, "lineitem",
    doc="""Croston's intermittent-demand smoother on ONE supplier's
    shipment series (deterministically the min suppkey — per-supplier
    density is sf-invariant, so the series stays sparse at any scale):
    demand-size EWMA z over the size array and demand-interval EWMA p
    over the gap array, each a SCALAR integer left fold in ppm (z in
    cents, p in day-ppm; α = 0.1; every step's floored division placed
    identically in both engines), initial interval = the series' mean
    gap.  Demand rate forecast = z/p in cents/day.
    ``holt_linear_forecast``/``holt_winters_seasonal`` smooth DENSE
    series; Croston is the sparse-series member of the family.  The
    two recurrences are INDEPENDENT, which is what lets each be a
    scalar fold (no struct carry — see the DuckDB list_reduce bug
    pinned in tests/test_r8e_vectors.py) instead of a recursive CTE
    (measured ~1.5 s/level in Spark — 196 s for this series).

    Scale: the full scan reduces to one supplier's demand days
    (calendar-bounded ~150 rows), collected into one row's arrays by
    the holt ys_agg device; both folds run in a single job.""",
)


# ---------------------------------------------------------------------------
# jarque_bera_test
# ---------------------------------------------------------------------------

#: floor(1e6 · χ²(df=2, α=0.05)) = 5.991465
_CHI2_DF2_E6 = 5_991_464
#: fixed deviation down-shift: d = n·y − S is ~1e7 at sf0.1 and grows
#: with data volume; /1000 keeps Σd⁴ ≤ ~1e27 here and ~1e35 at 100×.
_JB_SHIFT = 1000


def _jb_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM day
    ),
    d AS (
      SELECT (st.n * day.y - st.s){dialect.div}{_JB_SHIFT} AS ds
      FROM day CROSS JOIN st
    ),
    m AS (
      SELECT
        CAST(sum(CAST(ds AS {dialect.big}) * ds) AS {dialect.big}) AS m2,
        CAST(sum(CAST(ds AS {dialect.big}) * ds * ds) AS {dialect.big}) AS m3,
        CAST(sum(CAST(ds AS {dialect.big}) * ds * ds * ds) AS {dialect.big}) AS m4
      FROM d
    ),
    jb AS (
      SELECT st.n,
        CAST((((m.m3 * 1000000){dialect.div}m.m2) * ((m.m3 * 1000000){dialect.div}m.m2))
             {dialect.div}m.m2 * st.n{dialect.div}1000000 AS BIGINT) AS skew2_ppm,
        CAST((m.m4 * st.n * 1000000){dialect.div}(m.m2 * m.m2) - 3000000
             AS BIGINT) AS exkurt_ppm
      FROM m CROSS JOIN st
    )
    SELECT n AS n_days, skew2_ppm, exkurt_ppm,
      CAST(n * (skew2_ppm
        + (CAST(exkurt_ppm AS {dialect.big}) * exkurt_ppm{dialect.div}1000000){dialect.div}4)
        {dialect.div}6 AS BIGINT) AS jb_ppm,
      n * (skew2_ppm
        + (CAST(exkurt_ppm AS {dialect.big}) * exkurt_ppm{dialect.div}1000000){dialect.div}4)
        {dialect.div}6 > {_CHI2_DF2_E6} AS reject_normality
    FROM jb
    """


sql_query(
    "jarque_bera_test", _jb_sql, "orders",
    doc="""Jarque-Bera normality test on daily revenue: skewness² and
    excess kurtosis from the EXACT integer central moments of the
    cross-multiplied deviations d = n·y − S (the n factors cancel in
    both ratios), assembled with staged quotients — (1e6·M₃/M₂) is
    taken FIRST so no product approaches DECIMAL(38,0) — and gated on
    the χ²₂ ppm literal.  ``ks_two_sample``/``grubbs_outlier`` test
    shape against another SAMPLE or single outliers; JB tests the
    moment signature itself.

    Scale: one aggregation to the bounded day frame, one 4-moment
    aggregation, zero joins wider than a 1-row broadcast.""",
)


# ---------------------------------------------------------------------------
# page_trend_test
# ---------------------------------------------------------------------------

#: floor(1e6 · z²(α=0.05, one-sided)) = 1.644854² = 2.705543
_Z2_ONESIDED_E6 = 2_705_543
_PAGE_K = 12  # treatments = months within a year


def _page_sql(dialect: Dialect) -> str:
    k = _PAGE_K
    return f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        CAST(month(o_orderdate) AS BIGINT) AS mo,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS y_c
      FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
    ),
    full_years AS (
      SELECT yr FROM m GROUP BY yr HAVING count(*) = {k}
    ),
    ranked AS (
      SELECT m.yr, m.mo,
        CAST(row_number() OVER (PARTITION BY m.yr ORDER BY m.y_c, m.mo)
             AS BIGINT) AS r
      FROM m JOIN full_years f ON f.yr = m.yr
    ),
    l AS (
      SELECT CAST(sum(mo * r) AS BIGINT) AS l_stat,
        CAST(count(DISTINCT yr) AS BIGINT) AS b
      FROM ranked
    )
    SELECT l.b AS n_years, {k} AS k_months, l.l_stat,
      CAST(l.b * {k} * ({k} + 1) * ({k} + 1){dialect.div}4 AS BIGINT) AS l_mean,
      CAST(((CAST(4 AS {dialect.big}) * l.l_stat
             - CAST(l.b AS {dialect.big}) * {k} * ({k} + 1) * ({k} + 1))
            * (CAST(4 AS {dialect.big}) * l.l_stat
               - CAST(l.b AS {dialect.big}) * {k} * ({k} + 1) * ({k} + 1))
            * 9 * 1000000)
        {dialect.div} (CAST(l.b AS {dialect.big}) * {k} * {k} * ({k} + 1)
               * ({k} * {k} - 1))
        AS BIGINT) AS z2_ppm,
      ((CAST(4 AS {dialect.big}) * l.l_stat
        - CAST(l.b AS {dialect.big}) * {k} * ({k} + 1) * ({k} + 1))
       * (CAST(4 AS {dialect.big}) * l.l_stat
          - CAST(l.b AS {dialect.big}) * {k} * ({k} + 1) * ({k} + 1))
       * 9 * 1000000)
        {dialect.div} (CAST(l.b AS {dialect.big}) * {k} * {k} * ({k} + 1)
               * ({k} * {k} - 1))
        > {_Z2_ONESIDED_E6}
       AND CAST(4 AS {dialect.big}) * l.l_stat
           > CAST(l.b AS {dialect.big}) * {k} * ({k} + 1) * ({k} + 1)
        AS monotone_seasonal_trend
    FROM l
    """


sql_query(
    "page_trend_test", _page_sql, "orders",
    doc="""Page's L test for an ORDERED within-year trend of monthly
    revenue: ranks are per-year windows (PARTITIONED, 12 rows each,
    row_number with (value, month) total order — the calendar grid has
    no revenue ties in practice and the tiebreak is engine-identical
    anyway), L = Σ month·rank over complete years only.  z² against
    E[L] = bk(k+1)²/4 and Var[L] = bk²(k+1)(k²−1)/144 is
    cross-multiplied to avoid ANY division before the final ppm
    quotient: z²_ppm = (4L − bk(k+1)²)²·9·1e6 / (bk²(k+1)(k²−1)) —
    the /16 of the squared 4×-scaled contrast and the ×144 of the
    variance fold to ×9, all inside DECIMAL(38,0).  One-sided gate
    (trend direction is asserted upward) with the z² literal.

    Scale: one month×year aggregation (84 rows), per-year rank
    windows, one scalar — nothing grows with data volume but the
    orders scan.""",
)
