"""Round-5 catalog tier: change-data-capture apply, incremental
aggregate maintenance (partial-state merge + reaggregable sketches),
probabilistic pruning (bloom semi-join reduction, Count-Min audit),
gaps-and-islands, rolling bivariate statistics, and the ML-experiment /
feature-engineering family (CUPED, leave-one-out target encoding,
calibration, purged temporal splits, negative sampling).

Same cross-engine parity discipline as catalog.py (cents trick, floor
micro-units, md5 hashing, id tie-breakers, identical aliases on both
engines).  New round-5 queries register into the driver's 50 slots
(never-driver-proven first — see catalog.py's rotation docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import ORACLES, QUERIES, cents, query
from .catalog_r2 import _duck_hash64
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# cdc_apply — changelog → snapshot (last-writer-wins upserts + deletes)
# ---------------------------------------------------------------------------


@query(
    "cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS k, 0 AS seq, 'U' AS op,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 3 <> 0
      UNION ALL
      SELECT o_orderkey, 1, 'U',
             CAST(round(o_totalprice * 105) AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             CAST(round(o_totalprice * 100) AS BIGINT)
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', CAST(NULL AS BIGINT)
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT k, op, price_cents, seq,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY k) AS n_versions
      FROM log
    )
    SELECT k AS orderkey, price_cents,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-DATA-CAPTURE apply: collapse an ordered changelog of
    upserts and deletes onto a base snapshot — the Debezium-to-
    warehouse MERGE pattern (and the batch twin of a streaming CDC
    sink).  The changelog is derived deterministically from orders
    (base load at seq 0, a 5%-price correction wave at seq 1, a
    late-arriving insert wave at seq 2, a delete wave at seq 3);
    last-writer-wins picks each key's highest-seq entry and a trailing
    delete erases the key entirely.

    Plan: one union (no shuffle — same source scanned with disjoint
    pushed filters) then ONE hash exchange on the key for the
    row_number/count window pair.  At 100 TB the changelog partition
    count scales with data and per-key state is the version list —
    bounded by write amplification, never by corpus size.  Reference
    parity: this is the scalable form of the staged UPDATE…FROM +
    DELETE sequence (`import_stage.py` M4/M5)."""
    o = read_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0).alias("seq"),
        F.lit("U").alias("op"),
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    corrections = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.round(F.col("o_totalprice") * 105, 0)
        .cast("bigint")
        .alias("price_cents"),
    )
    inserts = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        cents(F.col("o_totalprice")).alias("price_cents"),
    )
    deletes = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("price_cents"),
    )
    log = base.unionAll(corrections).unionAll(inserts).unionAll(deletes)
    w = Window.partitionBy("k")
    ranked = log.select(
        "k",
        "op",
        "price_cents",
        F.row_number()
        .over(w.orderBy(F.col("seq").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_versions"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        F.col("k").alias("orderkey"),
        "price_cents",
        F.col("n_versions").cast("bigint").alias("n_versions"),
    )


# ---------------------------------------------------------------------------
# incremental_agg_merge — partial aggregate state, merged == direct
# ---------------------------------------------------------------------------


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST((sum(CAST(round(o_totalprice * 100) AS BIGINT)) * 1000000)
                // count(*) AS BIGINT) AS avg_cents_micro
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE via mergeable partial-aggregate
    state: per-batch (here: per order-year) partials of
    (count, sum, min, max) are MERGED to the final per-priority totals
    — count/sum by summing, min/max by re-min/maxing, avg derived from
    the merged (sum, count) pair at the very end.  The oracle computes
    the same result DIRECTLY from the raw table, so a green row proves
    merge(partials) ≡ direct — the algebraic property that lets a
    100 TB warehouse maintain dashboards by folding in each day's
    partial instead of rescanning history (Spark's own map-side
    partial aggregation is this exact algebra one level down).

    avg is integer micro-cents via BIGINT floor-division (both engines
    floor on positives), never a float sum."""
    o = read_table(spark, sf_dir, "orders")
    partials = o.groupBy(
        F.year("o_orderdate").alias("batch"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(cents(F.col("o_totalprice"))).alias("s"),
        F.min(cents(F.col("o_totalprice"))).alias("mn"),
        F.max(cents(F.col("o_totalprice"))).alias("mx"),
    )
    merged = partials.groupBy("priority").agg(
        F.sum("cnt").alias("n_orders"),
        F.sum("s").alias("revenue_cents"),
        F.min("mn").alias("min_cents"),
        F.max("mx").alias("max_cents"),
    )
    return merged.select(
        "priority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.col("min_cents").cast("bigint").alias("min_cents"),
        F.col("max_cents").cast("bigint").alias("max_cents"),
        F.expr("(revenue_cents * 1000000) div n_orders")
        .cast("bigint")
        .alias("avg_cents_micro"),
    )


# ---------------------------------------------------------------------------
# gaps_islands — consecutive-month activity streaks per customer
# ---------------------------------------------------------------------------


@query(
    "gaps_islands",
    oracle="""
    WITH months AS (
      SELECT DISTINCT o_custkey AS custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS m
      FROM orders
    ),
    grp AS (
      SELECT custkey, m,
             m - row_number() OVER (PARTITION BY custkey ORDER BY m)
               AS island
      FROM months
    ),
    islands AS (
      SELECT custkey, island, count(*) AS len
      FROM grp GROUP BY custkey, island
    )
    SELECT custkey,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(len) AS BIGINT) AS max_streak_months,
           CAST(sum(len) AS BIGINT) AS n_active_months
    FROM islands
    GROUP BY custkey
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: per-customer streaks of consecutive active
    months (month_index − row_number is constant within a run — the
    classic islands device), yielding streak count, longest streak,
    and total active months.  The retention/engagement primitive next
    to cohort_retention's calendar matrix: "longest consecutive-month
    purchase streak" is unanswerable with plain grouping.

    Plan: distinct (customer, month) — one exchange — then the
    row_number window and both aggregations all share the customer
    partitioning, so AQE coalesces them onto the same shuffle.  Island
    state is per-customer and month-granular: bounded by the calendar,
    not the order count."""
    o = read_table(spark, sf_dir, "orders")
    months = o.select(
        F.col("o_custkey").alias("custkey"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
    ).distinct()
    grp = months.select(
        "custkey",
        "m",
        (
            F.col("m")
            - F.row_number().over(
                Window.partitionBy("custkey").orderBy("m")
            )
        ).alias("island"),
    )
    islands = grp.groupBy("custkey", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return islands.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("len").cast("bigint").alias("max_streak_months"),
        F.sum("len").cast("bigint").alias("n_active_months"),
    )


# ---------------------------------------------------------------------------
# rolling_correlation — trailing 28-day Pearson r of revenue vs volume
# ---------------------------------------------------------------------------


@query(
    "rolling_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS ep,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    win AS (
      SELECT yr, ep,
        count(*) OVER w AS n,
        sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        sum(CAST(x AS DECIMAL(38,0)) * x) OVER w AS sxx,
        sum(CAST(y AS DECIMAL(38,0)) * y) OVER w AS syy,
        sum(CAST(x AS DECIMAL(38,0)) * y) OVER w AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY yr ORDER BY ep
                   RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT yr, ep, CAST(n AS BIGINT) AS n_days,
      CASE WHEN n >= 2
             AND CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx > 0
             AND CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy > 0
        THEN CAST(floor(
          1e6 * CAST(CAST(n AS DECIMAL(38,0)) * sxy
                     - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
          / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                 * CAST(CAST(n AS DECIMAL(38,0)) * syy
                        - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE))
        ) AS BIGINT)
        ELSE NULL END AS r_micro
    FROM win
    """,
)
def q_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day PEARSON CORRELATION between daily revenue and
    daily order volume — the rolling bivariate statistic behind
    "has the price/volume relationship changed this month".  The six
    sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) accumulate over a
    RANGE window as exact integers/decimals; doubles appear only in
    the final num/√(d₁·d₂) — deterministic IEEE ops on exact inputs,
    surfaced as floor micro-units with a NULL guard for degenerate
    windows (n<2 or zero variance).

    The window PARTITIONS BY YEAR (the streak resets each January):
    trailing stats stay parallel across years instead of the
    single-task global-ORDER-BY window this module's conventions ban.
    One exchange for the daily rollup; the year partition reuses it."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("ep"),
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    w = (
        Window.partitionBy("yr")
        .orderBy("ep")
        .rangeBetween(-27, Window.currentRow)
    )
    win = daily.select(
        "yr",
        "ep",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).over(w).alias("sxy"),
    )
    n_d = F.col("n").cast(dec)
    dx = n_d * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    dy = n_d * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    num = n_d * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    r = F.floor(
        F.lit(1e6)
        * num.cast("double")
        / F.sqrt(dx.cast("double") * dy.cast("double"))
    ).cast("bigint")
    return win.select(
        "yr",
        "ep",
        F.col("n").cast("bigint").alias("n_days"),
        F.when((F.col("n") >= 2) & (dx > 0) & (dy > 0), r)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("r_micro"),
    )


# ---------------------------------------------------------------------------
# order_gap_features — per-customer inter-order gap features
# ---------------------------------------------------------------------------


@query(
    "order_gap_features",
    oracle="""
    WITH seq AS (
      SELECT o_custkey AS custkey,
             CAST(o_orderdate AS DATE) AS d,
             datediff('day',
               lag(CAST(o_orderdate AS DATE)) OVER
                 (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    )
    SELECT custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(d) AS first_order,
           max(d) AS last_order,
           CAST(max(gap) AS BIGINT) AS max_gap_days,
           CASE WHEN count(*) >= 2 THEN
             CAST((CAST(datediff('day', min(d), max(d)) AS BIGINT)
                   * 1000000) // (count(*) - 1) AS BIGINT)
           ELSE NULL END AS avg_gap_micro_days
    FROM seq
    GROUP BY custkey
    """,
)
def q_order_gap_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML FEATURE ENGINEERING: per-customer inter-order gap features
    (order count, first/last date, longest gap, mean gap) — the
    recency/frequency signal block a churn model trains on, computed
    as one pass.  The mean gap uses the telescoping identity
    Σgaps = last − first, so it needs no per-gap float math: exact
    integer micro-days via floor-division.  max gap comes from a lag
    window ordered by (date, orderkey) — the id tie-break makes the
    lag deterministic under same-day orders (the gap value itself is
    date-based either way).

    One exchange on customer; the lag window and the aggregation share
    it.  Feature state is per-customer scalars — at 100 TB this is the
    canonical "feature table build" shape: key-partitioned, no global
    ordering anywhere."""
    o = read_table(spark, sf_dir, "orders")
    wl = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(wl),
        ).alias("gap"),
    )
    agg = seq.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("d").alias("first_order"),
        F.max("d").alias("last_order"),
        F.max("gap").cast("bigint").alias("max_gap_days"),
    )
    span = F.datediff(F.col("last_order"), F.col("first_order")).cast(
        "bigint"
    )
    return agg.select(
        "custkey",
        "n_orders",
        "first_order",
        "last_order",
        "max_gap_days",
        F.when(
            F.col("n_orders") >= 2,
            F.expr(
                "(CAST(datediff(last_order, first_order) AS BIGINT) "
                "* 1000000) div (n_orders - 1)"
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("avg_gap_micro_days"),
    )


# ---------------------------------------------------------------------------
# loo_target_encoding — leave-one-out mean encoding per segment
# ---------------------------------------------------------------------------


@query(
    "loo_target_encoding",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS s
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_custkey AS custkey, c_mktsegment AS segment,
      CASE WHEN n >= 2 THEN
        CAST(floor(1e6
          * CAST(s - CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
          / CAST(n - 1 AS DOUBLE)) AS BIGINT)
      ELSE NULL END AS loo_mean_micro_cents
    FROM customer JOIN seg ON c_mktsegment = segment
    """,
)
def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING — the categorical-feature encoding
    that replaces a category with the mean target of the OTHER members
    (dropping self avoids the target-leakage a plain mean encoding
    bakes in; this is the device behind CatBoost-style ordered target
    statistics).  The per-category (n, Σ) pair comes from one exact
    integer aggregation; each row's encoding is then (Σ − own)/(n−1)
    — computed as floor-of-double so negative balances cannot trip the
    engines' floor-vs-truncate integer-division divergence.

    Plan: the category table is a 5-row broadcast back onto the scan —
    no window over a 5-partition skew, no second shuffle.  At 100 TB
    the encoding map for even a million-category feature is a few MB —
    still broadcast."""
    c = read_table(spark, sf_dir, "customer")
    seg = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents(F.col("c_acctbal"))).cast("bigint").alias("s"),
    )
    joined = c.join(
        F.broadcast(seg), c["c_mktsegment"] == seg["segment"]
    )
    own = cents(F.col("c_acctbal"))
    loo = F.floor(
        F.lit(1e6)
        * (F.col("s") - own).cast("double")
        / (F.col("n") - 1).cast("double")
    ).cast("bigint")
    return joined.select(
        F.col("c_custkey").alias("custkey"),
        "segment",
        F.when(F.col("n") >= 2, loo)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("loo_mean_micro_cents"),
    )


# ---------------------------------------------------------------------------
# cuped_adjustment — variance-reduced experiment readout
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "1996-01-01"


@query(
    "cuped_adjustment",
    oracle=f"""
    WITH units AS MATERIALIZED (
      SELECT o_custkey AS custkey,
        CAST({_duck_hash64("CAST(o_custkey AS VARCHAR)", seed=11)} % 2
             AS INT) AS arm,
        CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
          THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
          AS BIGINT) AS x,
        CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
          THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
          AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    gstats AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
             sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy
      FROM units
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(x) AS BIGINT) AS sax,
             CAST(sum(y) AS BIGINT) AS say
      FROM units GROUP BY arm
    )
    SELECT arm, n_units,
      CAST(floor(1e6 * CAST(say AS DOUBLE) / CAST(n_units AS DOUBLE))
           AS BIGINT) AS mean_y_micro,
      CAST(floor(1e6 * (
        CAST(say AS DOUBLE) / CAST(n_units AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE))
          * (CAST(sax AS DOUBLE) / CAST(n_units AS DOUBLE)
             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      )) AS BIGINT) AS mean_y_cuped_micro
    FROM arms, gstats
    """,
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013): the A/B-testing variance-reduction that subtracts
    θ·(x − μx) from each unit's metric, θ = cov(x,y)/var(x), using the
    unit's PRE-period value x as the covariate.  Arms are a
    deterministic hash split; y is post-{d} spend, x pre-{d} spend.
    Because the adjustment is linear, the arm means need only the
    exact per-arm sums: mean_adj = ȳₐ − θ(x̄ₐ − μx) — no per-unit
    residual pass.  θ and the final means are the only IEEE ops, all
    on exact integer/decimal sufficient statistics.

    Plan: one per-customer aggregation (the experiment-unit rollup),
    then a 2-row arm aggregate cross-joined with a broadcast 1-row
    global-stats aggregate.  The same three-aggregate shape holds at
    any scale — ab_test_ztest's device, extended with the covariance
    statistics."""
    from .functions.expressions import portable_hash64

    o = read_table(spark, sf_dir, "orders")
    split = F.lit(_CUPED_SPLIT + " 00:00:00").cast("timestamp")
    pre = F.when(F.col("o_orderdate") < split, cents(F.col("o_totalprice"))).otherwise(F.lit(0))
    post = F.when(F.col("o_orderdate") >= split, cents(F.col("o_totalprice"))).otherwise(F.lit(0))
    units = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(pre).cast("bigint").alias("x"),
        F.sum(post).cast("bigint").alias("y"),
    ).select(
        (
            F.pmod(portable_hash64(F.col("custkey").cast("string"), seed=11), F.lit(2))
        ).cast("int").alias("arm"),
        "x",
        "y",
    )
    dec = "decimal(38,0)"
    glob = units.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    arms = units.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("x").cast("bigint").alias("sax"),
        F.sum("y").cast("bigint").alias("say"),
    )
    j = arms.crossJoin(F.broadcast(glob))
    na = F.col("n_units").cast("double")
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    mean_y = F.col("say").cast("double") / na
    adj = mean_y - theta * (
        F.col("sax").cast("double") / na
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    return j.select(
        "arm",
        "n_units",
        F.floor(F.lit(1e6) * mean_y).cast("bigint").alias("mean_y_micro"),
        F.floor(F.lit(1e6) * adj).cast("bigint").alias("mean_y_cuped_micro"),
    )


q_cuped_adjustment.__doc__ = (q_cuped_adjustment.__doc__ or "").format(
    d=_CUPED_SPLIT
)


# ---------------------------------------------------------------------------
# temporal_purged_split — walk-forward split with an embargo gap
# ---------------------------------------------------------------------------

_SPLIT_T0 = "1997-01-01"
_SPLIT_T1 = "1997-01-31"  # 30-day embargo


@query(
    "temporal_purged_split",
    oracle=f"""
    WITH tagged AS MATERIALIZED (
      SELECT o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
             CASE
               WHEN o_orderdate < TIMESTAMP '{_SPLIT_T0} 00:00:00'
                 THEN 'train'
               WHEN o_orderdate < TIMESTAMP '{_SPLIT_T1} 00:00:00'
                 THEN 'embargo'
               ELSE 'test'
             END AS split
      FROM orders
    ),
    per AS (
      SELECT split, count(*) AS n_orders, sum(pc) AS revenue_cents,
             count(DISTINCT o_custkey) AS n_customers
      FROM tagged GROUP BY split
    ),
    train_c AS (SELECT DISTINCT o_custkey FROM tagged
                WHERE split = 'train')
    SELECT p.split,
           CAST(p.n_orders AS BIGINT) AS n_orders,
           CAST(p.revenue_cents AS BIGINT) AS revenue_cents,
           CAST(p.n_customers AS BIGINT) AS n_customers,
           CAST((SELECT count(*) FROM (
              SELECT DISTINCT t.o_custkey FROM tagged t
              JOIN train_c tc ON tc.o_custkey = t.o_custkey
              WHERE t.split = p.split) q) AS BIGINT)
             AS n_customers_seen_in_train
    FROM per p
    """,
)
def q_temporal_purged_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGED WALK-FORWARD SPLIT: train strictly before {t0}, a 30-day
    EMBARGO window ({t0}–{t1}) excluded from both sides, test after —
    the time-series CV discipline (de Prado's purging/embargo) that
    keeps label horizons from leaking across the boundary, where a
    random row split would.  The report carries the audit column a
    leakage review asks for: how many of each split's customers also
    appear in train (entity overlap is expected under a temporal
    split — flagging it is exactly what dataset_split_grouped's
    group-disjoint alternative is for).

    Plan: one scan tags splits (pushed CASE on the partition-prunable
    date column), one agg per split, plus a distinct-customer semi
    join against the broadcast train-customer set."""
    o = read_table(spark, sf_dir, "orders")
    t0 = F.lit(_SPLIT_T0 + " 00:00:00").cast("timestamp")
    t1 = F.lit(_SPLIT_T1 + " 00:00:00").cast("timestamp")
    tagged = o.select(
        "o_custkey",
        cents(F.col("o_totalprice")).alias("pc"),
        F.when(F.col("o_orderdate") < t0, "train")
        .when(F.col("o_orderdate") < t1, "embargo")
        .otherwise("test")
        .alias("split"),
    )
    per = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("pc").cast("bigint").alias("revenue_cents"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
    )
    train_c = (
        tagged.filter(F.col("split") == "train")
        .select("o_custkey")
        .distinct()
    )
    overlap = (
        tagged.select("split", "o_custkey")
        .distinct()
        .join(F.broadcast(train_c), "o_custkey", "leftsemi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers_seen_in_train"))
    )
    return per.join(overlap, "split", "left").select(
        "split",
        "n_orders",
        "revenue_cents",
        "n_customers",
        F.coalesce(F.col("n_customers_seen_in_train"), F.lit(0)).alias(
            "n_customers_seen_in_train"
        ),
    )


q_temporal_purged_split.__doc__ = (q_temporal_purged_split.__doc__ or "").format(
    t0=_SPLIT_T0, t1=_SPLIT_T1
)


# ---------------------------------------------------------------------------
# negative_sampling — deterministic hash negatives for (user, item) pairs
# ---------------------------------------------------------------------------

_NEG_K = 3


@query(
    "negative_sampling",
    oracle=f"""
    WITH pos AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    mx AS (SELECT max(p_partkey) AS maxpk FROM part),
    cand AS (
      SELECT DISTINCT p.custkey,
        CAST({_duck_hash64(
            "CAST(p.custkey AS VARCHAR) || '|' || "
            "CAST(p.partkey AS VARCHAR) || '|' || CAST(i.i AS VARCHAR)",
            seed=13,
        )} % maxpk + 1 AS BIGINT) AS neg_partkey
      FROM pos p, (VALUES (1), (2), (3)) i(i), mx
    ),
    neg AS (
      SELECT c.custkey, c.neg_partkey FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pos p2
                        WHERE p2.custkey = c.custkey
                          AND p2.partkey = c.neg_partkey)
    )
    SELECT p.custkey,
           CAST(count(DISTINCT p.partkey) AS BIGINT) AS n_pos,
           CAST((SELECT count(*) FROM neg n
                 WHERE n.custkey = p.custkey) AS BIGINT) AS n_neg
    FROM pos p GROUP BY p.custkey
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE SAMPLING for implicit-feedback training data: each
    observed (customer, part) purchase pair spawns {k} deterministic
    candidate negatives (md5-hash-derived part ids), then candidates
    that are secretly positives for that customer are anti-joined away
    — the standard recsys/contrastive-learning corpus build, made
    reproducible by hashing instead of RNG (any engine regenerates the
    identical negatives; no sampling seed to ship).

    Plan: distinct positives (one exchange), a {k}-way literal-array
    explode (no shuffle), a broadcast 1-row max-key bound, and one
    LEFT ANTI join back on (customer, part) — the join key is the same
    partitioning the positives already have.  Candidate volume is
    exactly {k}× positives: linear fan-out, never a cross join."""
    from .functions.expressions import portable_hash64

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    # ONE custkey exchange feeds the whole query (r11 optimization
    # round; guide §2.4 "two operations keyed the same way share one
    # exchange"): every downstream operator clusters on custkey or a
    # superset — pos.distinct() on (custkey, partkey), the candidate
    # distinct on (custkey, neg_partkey), the LEFT ANTI join, both
    # per-customer aggregates and the final join.  HashPartitioning on
    # custkey satisfies all of them, so the explicit repartition
    # replaces FIVE exchanges (plan-verified: 7 → 2).  The explicit
    # partition count keeps the md5 candidate generation parallel under
    # AQE (the batch-5 device); custkey is uniform, no hot key.
    width = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    pos = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .repartition(width, "custkey")
        .distinct()
    )
    mx = p.agg(F.max("p_partkey").alias("maxpk"))
    cand = (
        pos.crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.explode(
                F.array(*[F.lit(i) for i in range(1, _NEG_K + 1)])
            ).alias("i"),
            "partkey",
            "maxpk",
        )
        .select(
            "custkey",
            (
                F.pmod(
                    portable_hash64(
                        F.concat_ws(
                            "|",
                            F.col("custkey").cast("string"),
                            F.col("partkey").cast("string"),
                            F.col("i").cast("string"),
                        ),
                        seed=13,
                    ),
                    F.col("maxpk"),
                )
                + 1
            )
            .cast("bigint")
            .alias("neg_partkey"),
        )
        .distinct()
    )
    neg = cand.join(
        pos.select("custkey", F.col("partkey").alias("neg_partkey")),
        ["custkey", "neg_partkey"],
        "left_anti",
    )
    n_neg = neg.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neg")
    )
    n_pos = pos.groupBy("custkey").agg(
        F.countDistinct("partkey").cast("bigint").alias("n_pos")
    )
    return n_pos.join(n_neg, "custkey", "left").select(
        "custkey",
        "n_pos",
        F.coalesce(F.col("n_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
    )


q_negative_sampling.__doc__ = (q_negative_sampling.__doc__ or "").format(
    k=_NEG_K
)


# ---------------------------------------------------------------------------
# bloom_prune_audit — bloom-filter semi-join reduction, measured
# ---------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
_BLOOM_SEEDS = (21, 22)  # one hash per seed


@query(
    "bloom_prune_audit",
    oracle=f"""
    WITH dim AS MATERIALIZED (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT list(DISTINCT pos) AS bs FROM (
        SELECT {_duck_hash64("CAST(c_custkey AS VARCHAR)", seed=_BLOOM_SEEDS[0])}
               % {_BLOOM_M} AS pos FROM dim
        UNION ALL
        SELECT {_duck_hash64("CAST(c_custkey AS VARCHAR)", seed=_BLOOM_SEEDS[1])}
               % {_BLOOM_M} FROM dim
      )
    ),
    probe AS (
      SELECT o.o_custkey,
        list_contains(bs,
          {_duck_hash64("CAST(o.o_custkey AS VARCHAR)", seed=_BLOOM_SEEDS[0])}
          % {_BLOOM_M})
        AND list_contains(bs,
          {_duck_hash64("CAST(o.o_custkey AS VARCHAR)", seed=_BLOOM_SEEDS[1])}
          % {_BLOOM_M}) AS pass,
        EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = o.o_custkey)
          AS member
      FROM orders o, bits
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_members,
           CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_bloom,
           CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST((sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END)
                 * 1000000)
                // sum(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT)
             AS fpr_ppm
    FROM probe
    """,
)
def q_bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER SEMI-JOIN REDUCTION (the runtime-filter /
    sideways-information-passing device behind Spark's own
    spark.sql.optimizer.runtimeFilter): the dimension predicate's keys
    are compressed into an {m}-bit, 2-hash bloom set, broadcast, and
    applied at the fact scan — rows failing the bloom can NEVER join,
    so at 100 TB the probe prunes the shuffle before it happens at the
    cost of a kilobyte-scale bitset.  The audit quantifies the one
    thing that matters: zero false NEGATIVES by construction (every
    true member passes — the query proves n_pass ≥ n_true), and the
    measured false-positive rate that bounds the wasted shuffle.

    Hashes are the engine's portable md5 hash64 so the oracle rebuilds
    the identical bitset; the bit positions ride as a broadcast sorted
    array (a real implementation packs them into longs — the set form
    keeps the SQL twin exact)."""
    from .functions.expressions import portable_hash64

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def pos(col: Column, seed: int) -> Column:
        return F.pmod(
            portable_hash64(col.cast("string"), seed=seed), F.lit(_BLOOM_M)
        )

    # Set-bit membership as two BROADCAST HASH left-joins on the
    # distinct bit-position frame (r11 optimization round, guide §1.2):
    # the previous broadcast collect_set + array_contains probed a
    # ~6k-element array LINEARLY twice per order row (~2·6k compares ×
    # orders — the whole query's cost).  The joined set is the same
    # distinct union of both seeds' positions, so `pass` is
    # value-identical; the oracle keeps its set form.
    bitset = (
        dim.select(pos(F.col("c_custkey"), _BLOOM_SEEDS[0]).alias("pos"))
        .unionAll(
            dim.select(pos(F.col("c_custkey"), _BLOOM_SEEDS[1]).alias("pos"))
        )
        .distinct()
    )
    h0 = F.broadcast(
        bitset.select(F.col("pos").alias("__p0"), F.lit(True).alias("__h0"))
    )
    h1 = F.broadcast(
        bitset.select(F.col("pos").alias("__p1"), F.lit(True).alias("__h1"))
    )
    probe = (
        o.select(
            "o_custkey",
            pos(F.col("o_custkey"), _BLOOM_SEEDS[0]).alias("__q0"),
            pos(F.col("o_custkey"), _BLOOM_SEEDS[1]).alias("__q1"),
        )
        .join(h0, F.col("__q0") == F.col("__p0"), "left")
        .join(h1, F.col("__q1") == F.col("__p1"), "left")
        .join(
            F.broadcast(dim.withColumn("__m", F.lit(True))),
            F.col("o_custkey") == dim["c_custkey"],
            "left",
        )
        .select(
            (
                F.coalesce(F.col("__h0"), F.lit(False))
                & F.coalesce(F.col("__h1"), F.lit(False))
            ).alias("pass"),
            F.coalesce(F.col("__m"), F.lit(False)).alias("member"),
        )
    )
    agg = probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_members"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass_bloom"),
        F.sum(F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return agg.select(
        "n_orders",
        "n_true_members",
        "n_pass_bloom",
        "n_false_pos",
        F.expr(
            "(n_false_pos * 1000000) div (n_orders - n_true_members)"
        )
        .cast("bigint")
        .alias("fpr_ppm"),
    )


q_bloom_prune_audit.__doc__ = (q_bloom_prune_audit.__doc__ or "").format(
    m=_BLOOM_M
)


# ---------------------------------------------------------------------------
# cms_frequency_audit — Count-Min sketch estimates vs exact counts
# ---------------------------------------------------------------------------

_CMS_W = 1024
_CMS_D = 3
_CMS_SEED0 = 31
_CMS_TOPK = 20


@query(
    "cms_frequency_audit",
    oracle=f"""
    WITH cells AS MATERIALIZED (
      SELECT d.d,
             CAST('0x' || substring(md5(
               CAST({_CMS_SEED0} + d.d AS VARCHAR) || '|'
               || CAST(l_partkey AS VARCHAR)), 1, 15) AS BIGINT)
               % {_CMS_W} AS col,
             count(*) AS cnt
      FROM lineitem, (VALUES (0), (1), (2)) d(d)
      GROUP BY 1, 2
    ),
    exact AS MATERIALIZED (
      SELECT l_partkey AS partkey, count(*) AS exact_cnt
      FROM lineitem GROUP BY l_partkey
    ),
    top AS (
      SELECT partkey, exact_cnt FROM (
        SELECT partkey, exact_cnt,
               row_number() OVER (ORDER BY exact_cnt DESC, partkey)
                 AS rk
        FROM exact
      ) WHERE rk <= {_CMS_TOPK}
    ),
    est AS (
      SELECT t.partkey, t.exact_cnt, min(c.cnt) AS est_cnt
      FROM top t
      JOIN cells c
        ON c.col = CAST('0x' || substring(md5(
             CAST({_CMS_SEED0} + c.d AS VARCHAR) || '|'
             || CAST(t.partkey AS VARCHAR)), 1, 15) AS BIGINT)
           % {_CMS_W}
      GROUP BY t.partkey, t.exact_cnt
    )
    SELECT partkey,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           est_cnt >= exact_cnt AS never_underestimates
    FROM est
    """,
)
def q_cms_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH frequency estimation (Cormode & Muthukrishnan
    2005), audited against exact counts: the {d}×{w} counter grid is
    built in ONE aggregation over a {d}-way depth fan-out (each row
    increments one cell per depth row), and a key's estimate is the
    MIN of its {d} cells — never an underestimate, overshooting only
    by colliding keys' mass (≈N/{w} per cell before the min).  The
    audit reports the top-{k} heaviest keys' exact vs estimated counts
    plus the one-sided-error invariant as a column.

    This is the bounded-state answer to "how often does every key
    appear in 100 TB": {d}·{w} integers regardless of key cardinality,
    merge-associative across partitions/days (cells add) — where the
    exact per-key count needs a key-cardinality shuffle.  md5-derived
    row hashes make the sketch bit-identical cross-engine, so the
    oracle replays the estimates exactly — no probabilistic bound
    literal needed."""
    li = read_table(spark, sf_dir, "lineitem")

    def cms_col(key: Column, d: Column) -> Column:
        payload = F.concat(
            (F.lit(_CMS_SEED0) + d).cast("string"),
            F.lit("|"),
            key.cast("string"),
        )
        return F.pmod(
            F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast(
                "bigint"
            ),
            F.lit(_CMS_W),
        )

    depths = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)]))
    # repartition the narrow key column before the ×d explode so the
    # 1.8M md5 cell hashes run on all cores instead of the input's few
    # file splits (r11 round, guide §2 / the _docs_parallel device);
    # cell counts are exact integers, partitioning-proof.
    cells = (
        li.select(F.col("l_partkey").alias("k"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select("k", depths.alias("d"))
        .groupBy("d", cms_col(F.col("k"), F.col("d")).alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    top = (
        exact.orderBy(F.col("exact_cnt").desc(), "partkey")
        .limit(_CMS_TOPK)
    )
    est = (
        top.join(
            F.broadcast(cells),
            cells["col"] == cms_col(F.col("partkey"), cells["d"]),
        )
        .groupBy("partkey", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        "partkey",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("est_cnt").cast("bigint").alias("est_cnt"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias(
            "never_underestimates"
        ),
    )


q_cms_frequency_audit.__doc__ = (q_cms_frequency_audit.__doc__ or "").format(
    d=_CMS_D, w=_CMS_W, k=_CMS_TOPK
)


# ---------------------------------------------------------------------------
# sketch_reaggregation_audit — day HLL sketches → month union vs exact
# ---------------------------------------------------------------------------


@query(
    "sketch_reaggregation_audit",
    oracle="""
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
             AS ym,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           true AS merged_within_15pct
    FROM orders GROUP BY 1
    """,
)
def q_sketch_reaggregation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch REAGGREGATION: per-DAY HyperLogLog sketches of active
    customers are UNIONED up to months — without touching raw rows
    again — and the merged estimate audited against the exact month
    distinct (|err| ≤ 15%, ~9× the lg_k=12 RSE, so the flag is stable
    by a wide margin; same audit device as hll_distinct_audit).  This
    is the property that makes sketches a STORAGE format, not just an
    aggregate: a 100 TB warehouse keeps 4 KB day sketches and answers
    any-date-range distinct questions by unioning sketches — the raw
    scan happens once, ever.

    Plan: one day-grain sketch aggregation (map-side partials merge
    HLL registers), one month-grain union of ~30 sketches per group,
    and the exact pass alongside for the audit."""
    from .operators.sketch import distinct_sketches, merge_distinct_sketches

    o = read_table(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("int")
        .alias("ym"),
        F.dayofmonth("o_orderdate").alias("day"),
        "o_custkey",
    )
    day_sketches = distinct_sketches(o, ["ym", "day"], "o_custkey")
    merged = merge_distinct_sketches(day_sketches, ["ym"])
    exact = o.groupBy("ym").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    j = exact.join(merged, "ym")
    rel_err = F.abs(
        F.col("approx_distinct") - F.col("exact_distinct")
    ) / F.col("exact_distinct")
    return j.select(
        "ym", "exact_distinct", (rel_err <= 0.15).alias("merged_within_15pct")
    )


# ---------------------------------------------------------------------------
# score_calibration — decile calibration of the linear quality model
# ---------------------------------------------------------------------------

_CAL_BINS = 10
_CAL_LABEL_CHARS = 500


@query(
    "score_calibration",
    oracle=None,  # assigned below — composes the quality_lr_score oracle
)
def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION by score decile: documents are ranked by the
    hashed-feature linear quality score (quality_lr_score's exact
    integer inference), cut into {b} equal-population bins, and each
    bin reports its mean score and the rate of a deterministic quality
    label (n_chars ≥ {c}) — the reliability-diagram table that says
    whether "higher score" actually means "more likely good" before a
    100 TB corpus is filtered on the threshold.

    The decile cut is the DISTRIBUTED global-ntile device
    (operators/order.py): range-repartition by (score, doc_id), local
    sort, per-partition offsets broadcast back — SQL-ntile semantics
    with no single-task global window.  Mean score is floor-of-double
    (scores can be negative — integer div would diverge between
    engines); label rate is exact integer ppm."""
    from .operators.order import global_ntile

    scores = QUERIES["quality_lr_score"](spark, sf_dir)
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") >= _CAL_LABEL_CHARS).alias("label"),
    )
    binned = global_ntile(
        scores, _CAL_BINS, ["lr_score_e6", "doc_id"]
    ).select(
        F.col("__ntile").alias("bin"), "lr_score_e6", "doc_id"
    )
    j = binned.join(d, "doc_id")
    agg = j.groupBy(F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("lr_score_e6").cast("bigint").alias("s"),
        F.sum(F.when(F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    return agg.select(
        "bin",
        "n_docs",
        F.floor(F.col("s").cast("double") / F.col("n_docs").cast("double"))
        .cast("bigint")
        .alias("mean_score_e6"),
        F.expr("(n_pos * 1000000) div n_docs")
        .cast("bigint")
        .alias("label_rate_ppm"),
    )


q_score_calibration.__doc__ = (q_score_calibration.__doc__ or "").format(
    b=_CAL_BINS, c=_CAL_LABEL_CHARS
)


ORACLES["score_calibration"] = f"""
    WITH scores AS MATERIALIZED ({ORACLES["quality_lr_score"]}),
    binned AS (
      SELECT doc_id, lr_score_e6,
             ntile({_CAL_BINS}) OVER (ORDER BY lr_score_e6, doc_id)
               AS bin
      FROM scores
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(CAST(sum(lr_score_e6) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS BIGINT)
             AS mean_score_e6,
           CAST((sum(CASE WHEN d.n_chars >= {_CAL_LABEL_CHARS}
                          THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS label_rate_ppm
    FROM binned JOIN documents d USING (doc_id)
    GROUP BY bin
    """


# ---------------------------------------------------------------------------
# vocab_coverage — OOV rate per source against the corpus top-k vocab
# ---------------------------------------------------------------------------

_VOCAB_K = 500


@query(
    "vocab_coverage",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT source, u.tok
      FROM (SELECT source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    ),
    corpus AS MATERIALIZED (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS rk
        FROM corpus
      ) WHERE rk <= {_VOCAB_K}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS oov_ppm
    FROM toks LEFT JOIN vocab v USING (tok)
    GROUP BY source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER VOCABULARY COVERAGE: build the corpus top-{k} token
    vocabulary (count desc, token asc — fully ranked, no sampling)
    and report each source's out-of-vocabulary token rate — the
    pre-training health check that catches a source whose tokens a
    fixed vocab would shatter into bytes (code, non-Latin scripts,
    boilerplate IDs) before training wastes context on it.

    Plan: one (source, token)-free postings pass groups raw tokens to
    corpus counts (map-side partials shrink the exchange to
    vocabulary size); the top-{k} cut is TakeOrdered over the
    vocabulary-sized frame — a bounded k·partitions heap merge, never
    a global sort; membership rides back as a broadcast hash join at
    token granularity.  Nothing downstream of the first aggregation
    scales with corpus bytes."""
    from .catalog_ext import _docs_parallel
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select("source", F.explode(_tokens("text")).alias("tok"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        corpus.orderBy(F.col("cnt").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(True).alias("__v"))
    )
    j = toks.join(F.broadcast(vocab), "tok", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.expr(
            "(sum(CASE WHEN __v IS NULL THEN 1 ELSE 0 END) * 1000000) "
            "div count(*)"
        )
        .cast("bigint")
        .alias("oov_ppm"),
    )


q_vocab_coverage.__doc__ = (q_vocab_coverage.__doc__ or "").format(
    k=_VOCAB_K
)


# ---------------------------------------------------------------------------
# readability_scores — Flesch reading ease per source (regex heuristics)
# ---------------------------------------------------------------------------


@query(
    "readability_scores",
    oracle="""
    WITH per_doc AS MATERIALIZED (
      SELECT source,
        len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS words,
        len(regexp_extract_all(text, '[.!?]+')) AS sentences,
        len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents WHERE trim(text) <> ''
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(words) AS BIGINT) AS n_words,
      CAST(sum(sentences) AS BIGINT) AS n_sentences,
      CAST(sum(syllables) AS BIGINT) AS n_syllables,
      CASE WHEN sum(sentences) > 0 AND sum(words) > 0 THEN
        CAST(floor(1000.0 * (206.835
          - 1.015 * (CAST(sum(words) AS DOUBLE)
                     / CAST(sum(sentences) AS DOUBLE))
          - 84.6 * (CAST(sum(syllables) AS DOUBLE)
                    / CAST(sum(words) AS DOUBLE)))) AS BIGINT)
      ELSE NULL END AS flesch_milli
    FROM per_doc GROUP BY source
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT READABILITY profiling: per-source Flesch reading ease from
    three regex-countable proxies — whitespace words, [.!?]+ sentence
    terminators, [aeiouy]+ vowel groups as syllables (the standard
    dictionary-free approximation).  Readability stratification is a
    curriculum / data-mixing signal: a source whose score collapses is
    boilerplate or code, not prose.

    The integer counts aggregate exactly (map-side partials); the
    Flesch formula's four IEEE ops run once per SOURCE on exact sums
    — never per-document floats — and surface as floor milli-units.
    Regexes stay in the Java/RE2 common subset (text.py's discipline)
    so both engines count identical matches."""
    from .catalog_ext import _docs_parallel
    from .operators.text import _ntoks, _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    per_doc = d.select(
        "source",
        _ntoks(_tokens("text")).alias("words"),
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).alias(
            "sentences"
        ),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        ).alias("syllables"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("n_words"),
        F.sum("sentences").cast("bigint").alias("n_sentences"),
        F.sum("syllables").cast("bigint").alias("n_syllables"),
    )
    flesch = F.floor(
        F.lit(1000.0)
        * (
            F.lit(206.835)
            - F.lit(1.015)
            * (
                F.col("n_words").cast("double")
                / F.col("n_sentences").cast("double")
            )
            - F.lit(84.6)
            * (
                F.col("n_syllables").cast("double")
                / F.col("n_words").cast("double")
            )
        )
    ).cast("bigint")
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            (F.col("n_sentences") > 0) & (F.col("n_words") > 0), flesch
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("flesch_milli"),
    )


# ---------------------------------------------------------------------------
# column_entropy_profile — Shannon entropy per categorical column
# ---------------------------------------------------------------------------

_ENTROPY_COLS = (
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("customer", "c_mktsegment"),
    ("documents", "lang"),
)


def _entropy_oracle() -> str:
    parts = []
    for tbl, col in _ENTROPY_COLS:
        parts.append(f"""
      SELECT '{tbl}' AS tbl, '{col}' AS col, {col} AS val,
             count(*) AS n_i
      FROM {tbl} GROUP BY {col}""")
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH vals AS MATERIALIZED ({union}
    ),
    withn AS (
      SELECT tbl, col, n_i,
             sum(n_i) OVER (PARTITION BY tbl, col) AS n
      FROM vals
    )
    SELECT tbl, col,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(min(n) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(1e6
             * (CAST(n_i AS DOUBLE) / CAST(n AS DOUBLE))
             * log2(CAST(n AS DOUBLE) / CAST(n_i AS DOUBLE)))
             AS BIGINT)) AS BIGINT) AS entropy_microbits
    FROM withn GROUP BY tbl, col
    """


@query(
    "column_entropy_profile",
    oracle=_entropy_oracle(),
)
def q_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-PROFILING: Shannon entropy of every low-cardinality
    categorical column — the one-number summary that ranks columns by
    information content (near-zero = constant column, log2(k) =
    uniform over k values), driving encoding choices (dictionary vs
    plain), partition-key selection, and drift alarms.

    Per column: one value-level aggregation (map-side partials shrink
    the exchange to the value cardinality), then the entropy sum runs
    over the VALUE-level frame — dozens of rows however big the scan.
    Each value's term floor(1e6·p·log2(1/p)) is floored BEFORE the
    cross-value sum, so the only cross-engine float exposure is
    per-term (deterministic inputs → deterministic IEEE), never an
    order-sensitive float accumulation."""
    frames = []
    for tbl, col in _ENTROPY_COLS:
        t = read_table(spark, sf_dir, tbl)
        frames.append(
            t.groupBy(F.col(col).alias("val")).agg(
                F.count(F.lit(1)).alias("n_i")
            ).select(
                F.lit(tbl).alias("tbl"), F.lit(col).alias("col"),
                "val", "n_i",
            )
        )
    vals = frames[0]
    for f in frames[1:]:
        vals = vals.unionAll(f)
    withn = vals.withColumn(
        "n", F.sum("n_i").over(Window.partitionBy("tbl", "col"))
    )
    p = F.col("n_i").cast("double") / F.col("n").cast("double")
    term = F.floor(
        F.lit(1e6)
        * p
        * F.log2(F.col("n").cast("double") / F.col("n_i").cast("double"))
    ).cast("bigint")
    return withn.groupBy("tbl", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.min("n").cast("bigint").alias("n_rows"),
        F.sum(term).cast("bigint").alias("entropy_microbits"),
    )


# ---------------------------------------------------------------------------
# kcore_decomposition — iterative 3-core peel of the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8
_KCORE_MIN_SHARED = 3  # same edge threshold as triangle_count / LPA


def _kcore_oracle() -> str:
    ctes = [f"""cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= {_KCORE_MIN_SHARED}
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    alive0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)"""]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(f"""alive{r} AS MATERIALIZED (
      SELECT e.src AS v FROM sym e
      JOIN alive{r - 1} x ON e.src = x.v
      JOIN alive{r - 1} y ON e.dst = y.v
      GROUP BY e.src HAVING count(*) >= {_KCORE_K}
    )""")
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    SELECT e.src AS vertex, CAST(count(*) AS BIGINT) AS deg_in_core
    FROM sym e
    JOIN alive{_KCORE_ROUNDS} x ON e.src = x.v
    JOIN alive{_KCORE_ROUNDS} y ON e.dst = y.v
    GROUP BY e.src
    """


@query(
    "kcore_decomposition",
    oracle=_kcore_oracle(),
)
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-CORE of the customer co-purchase graph by iterative PEELING
    (Matula & Beck 1983): repeatedly delete vertices with alive-degree
    < {k} until a fixpoint — what survives is the maximal subgraph of
    minimum degree {k}, the dense-cohesion community notion that LPA /
    connected-components miss (a long chain is one component but has
    an empty 2-core).  {r} synchronous rounds, the bounded-rounds
    device of pagerank/bfs/LPA.  The budget is a TRUNCATION, not a
    convergence guarantee: at sf0.1 the alive set is still shrinking
    at round {r} (PERF.md) — the result is the round-{r} partial peel
    (a superset of the true core), and parity holds by construction
    because the oracle unrolls the SAME {r} rounds.  When a round DOES
    reach the fixpoint early, monotonicity (alive_r ⊆ alive_r-1) lets
    the loop exit — identical output, fewer jobs.

    Per round: two vertex-keyed semi joins + one degree count — every
    shuffle is on the vertex key; per-round state is the shrinking
    alive set, checkpointed to cut lineage."""
    from .plans.co_purchase import co_purchase_edges

    edges = co_purchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint()

    alive = sym.select(F.col("src").alias("v")).distinct()
    prev_n = None
    for _ in range(_KCORE_ROUNDS):
        deg = (
            sym.join(alive, sym["src"] == alive["v"], "leftsemi")
            .join(
                alive.select(F.col("v").alias("v2")),
                F.col("dst") == F.col("v2"),
                "leftsemi",
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("v"))
            .localCheckpoint()
        )
        # FIXPOINT early exit: peeling is monotone (alive_r ⊆
        # alive_{r-1} by construction), so an unchanged COUNT proves an
        # unchanged SET and every remaining unrolled round is a no-op —
        # the result is bit-identical to running all rounds, the oracle
        # parity is untouched, and the count rides free on the frame
        # the eager localCheckpoint just materialized (one bounded
        # scalar per round, the pagerank/bfs bounded-rounds budget).
        n = alive.count()
        if n == prev_n:
            break
        prev_n = n
    core_edges = sym.join(
        alive, sym["src"] == alive["v"], "leftsemi"
    ).join(
        alive.select(F.col("v").alias("v2")),
        F.col("dst") == F.col("v2"),
        "leftsemi",
    )
    return core_edges.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_in_core")
    )


q_kcore_decomposition.__doc__ = (q_kcore_decomposition.__doc__ or "").format(
    k=_KCORE_K, r=_KCORE_ROUNDS
)


# ---------------------------------------------------------------------------
# late_data_audit — watermark lateness accounting (batch twin)
# ---------------------------------------------------------------------------

_WM_DELAY_US = 2 * 3600 * 1_000_000  # 2-hour watermark


@query(
    "late_data_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, epoch_us(ts) AS es,
             max(epoch_us(ts)) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS runmax
      FROM events
    )
    SELECT event_type,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN es < runmax - {_WM_DELAY_US} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_late,
      CAST(coalesce(max(CASE WHEN es < runmax - {_WM_DELAY_US}
        THEN (runmax - {_WM_DELAY_US} - es) // 1000000 END), 0)
        AS BIGINT) AS max_lateness_s,
      CAST((sum(CASE WHEN es < runmax - {_WM_DELAY_US} THEN 1 ELSE 0 END)
            * 1000000) // count(*) AS BIGINT) AS late_ppm
    FROM arr GROUP BY event_type
    """,
)
def q_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATENESS ACCOUNTING — the batch twin of Structured
    Streaming's withWatermark drop rule: replay events in ARRIVAL
    order (event_id is the ingest sequence), maintain the running
    max event time, and classify each event as late when its time
    falls more than the 2-hour delay behind the high-water mark —
    exactly the rows a streaming aggregation would discard.  Sizing
    the watermark IS this query: run it over yesterday's 100 TB,
    read late_ppm/max_lateness, pick the delay that bounds loss.

    The global running max uses operators/order.py's two-pass
    range-partition device (per-partition prefix max + broadcast
    cross-partition offsets) — never a single-task global window."""
    from .operators.order import global_running_max

    e = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("es"),
    )
    r = global_running_max(e, ["event_id"], "es", out_col="runmax")
    late = F.col("es") < F.col("runmax") - F.lit(_WM_DELAY_US)
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.coalesce(
            F.max(
                F.when(
                    late,
                    F.expr(
                        f"(runmax - {_WM_DELAY_US} - es) div 1000000"
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("max_lateness_s"),
        F.expr(
            f"(sum(CASE WHEN es < runmax - {_WM_DELAY_US} THEN 1 ELSE 0 "
            "END) * 1000000) div count(*)"
        )
        .cast("bigint")
        .alias("late_ppm"),
    )


# ---------------------------------------------------------------------------
# rolling_anomaly_flags — trailing z-score outlier days
# ---------------------------------------------------------------------------

_ANOM_MIN_N = 8
_ANOM_Z_MICRO = 2_000_000  # |z| >= 2


@query(
    "rolling_anomaly_flags",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS ep,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1, 2
    ),
    win AS (
      SELECT yr, ep, x,
        count(*) OVER w AS n,
        sum(x) OVER w AS sx,
        sum(CAST(x AS DECIMAL(38,0)) * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY yr ORDER BY ep
                   RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT yr, ep, x, n,
        CAST(floor(1e6
          * (CAST(x AS DOUBLE)
             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
          / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx
                      - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        ) AS BIGINT) AS z_micro
      FROM win
      WHERE n >= {_ANOM_MIN_N}
        AND CAST(n AS DECIMAL(38,0)) * sxx
            - CAST(sx AS DECIMAL(38,0)) * sx > 0
    )
    SELECT yr, ep, x AS revenue_cents, CAST(n AS BIGINT) AS n_window,
           z_micro, abs(z_micro) >= {_ANOM_Z_MICRO} AS is_anomaly
    FROM z
    """,
)
def q_rolling_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ANOMALY DETECTION on the daily revenue series: each
    day's z-score against the TRAILING 28-day window EXCLUDING itself
    (frame 28-preceding..1-preceding — a self-inclusive window dilutes
    the very spike it should flag), |z| ≥ 2 marks the anomaly.  The
    monitoring primitive behind every "revenue looks weird today"
    alert, windowed so one broken day never poisons its own baseline.

    Sufficient statistics (n, Σx, Σx²) accumulate exactly over the
    RANGE window; the mean/std/z chain is deterministic IEEE on exact
    inputs, floored to micro-units.  Degenerate windows (n < {m} or
    zero variance) are excluded, not NULL-flagged — the alert table
    only carries scoreable days.  Year-partitioned like
    rolling_correlation: trailing stats parallelize across years
    instead of one global-order task."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("ep"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x"))
    dec = "decimal(38,0)"
    w = Window.partitionBy("yr").orderBy("ep").rangeBetween(-28, -1)
    win = daily.select(
        "yr",
        "ep",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(w).alias("sxx"),
    )
    var_num = (
        F.col("n").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx")
    )
    z = F.floor(
        F.lit(1e6)
        * (
            F.col("x").cast("double")
            - F.col("sx").cast("double") / F.col("n").cast("double")
        )
        / F.sqrt(
            var_num.cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
    ).cast("bigint")
    return (
        win.filter((F.col("n") >= _ANOM_MIN_N) & (var_num > 0))
        .select(
            "yr",
            "ep",
            F.col("x").alias("revenue_cents"),
            F.col("n").cast("bigint").alias("n_window"),
            z.alias("z_micro"),
            (F.abs(z) >= _ANOM_Z_MICRO).alias("is_anomaly"),
        )
    )


q_rolling_anomaly_flags.__doc__ = (q_rolling_anomaly_flags.__doc__ or "").format(
    m=_ANOM_MIN_N
)


# ---------------------------------------------------------------------------
# link_prediction_scores — common-neighbors + Adamic–Adar on co-purchase
# ---------------------------------------------------------------------------

_LINKPRED_TOPN = 50


def _linkpred_oracle() -> str:
    return f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= 3
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS w, count(*) AS d FROM sym GROUP BY src
    ),
    wedges AS (
      SELECT s1.dst AS a, s2.dst AS b, s1.src AS w
      FROM sym s1 JOIN sym s2
        ON s1.src = s2.src AND s1.dst < s2.dst
    ),
    scored AS (
      SELECT wg.a, wg.b,
             count(*) AS n_cn,
             sum(CAST(floor(1e6 / ln(CAST(deg.d AS DOUBLE)))
                 AS BIGINT)) AS aa_micro
      FROM wedges wg JOIN deg ON wg.w = deg.w
      GROUP BY wg.a, wg.b
    ),
    non_edges AS (
      SELECT s.* FROM scored s
      LEFT JOIN edges e ON s.a = e.a AND s.b = e.b
      WHERE e.a IS NULL
    )
    SELECT a, b, CAST(n_cn AS BIGINT) AS n_cn,
           CAST(aa_micro AS BIGINT) AS aa_micro
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY n_cn DESC, aa_micro DESC, a, b) AS rk
      FROM non_edges
    ) WHERE rk <= {_LINKPRED_TOPN}
    """


@query(
    "link_prediction_scores",
    oracle=_linkpred_oracle(),
)
def q_link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the customer co-purchase graph: for every
    NON-adjacent pair with at least one common neighbor, the two
    classical proximity scores — common-neighbor count and
    Adamic–Adar (Σ 1/ln(deg(w)) over shared neighbors w, which
    discounts promiscuous hubs) — top-{n} candidates.  The
    "customers you should bundle" / recommender-candidate primitive,
    and the feature stage of graph-ML edge models.

    Plan: wedge expansion (the triangle_count join shape — Σ deg(w)²
    pairs on the thresholded SPARSE projection), degree join on the
    wedge midpoint, hash-aggregate per candidate pair, anti join
    against the existing edge list, TakeOrdered for the top-{n} (a
    bounded heap merge, never a global sort).  Adamic–Adar terms are
    floored to micro-units BEFORE the cross-neighbor sum, so the
    aggregation is exact integer arithmetic — deg is an integer, so
    each term is deterministic IEEE on both engines."""
    from .plans.co_purchase import co_purchase_edges

    edges = co_purchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("d")
    )
    s1 = sym.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    s2 = sym.select(F.col("src").alias("w2"), F.col("dst").alias("b"))
    wedges = s1.join(
        s2, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b"))
    ).select("a", "b", "w")
    term = F.floor(
        F.lit(1e6) / F.log(F.col("d").cast("double"))
    ).cast("bigint")
    scored = (
        wedges.join(deg, "w")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cn"),
            F.sum(term).cast("bigint").alias("aa_micro"),
        )
    )
    non_edges = scored.join(edges, ["a", "b"], "left_anti")
    return (
        non_edges.orderBy(
            F.col("n_cn").desc(), F.col("aa_micro").desc(), "a", "b"
        )
        .limit(_LINKPRED_TOPN)
        .select("a", "b", "n_cn", "aa_micro")
    )


q_link_prediction_scores.__doc__ = (
    q_link_prediction_scores.__doc__ or ""
).format(n=_LINKPRED_TOPN)


# ---------------------------------------------------------------------------
# distribution_drift_audit — event-type mix drift between stream halves
# ---------------------------------------------------------------------------


@query(
    "distribution_drift_audit",
    oracle="""
    WITH es AS (
      SELECT event_type, epoch_us(ts) AS e FROM events
    ),
    bounds AS (SELECT (min(e) + max(e)) // 2 AS mid FROM es),
    halves AS (
      SELECT event_type,
             CASE WHEN e <= (SELECT mid FROM bounds)
                  THEN 0 ELSE 1 END AS half
      FROM es
    ),
    cnt AS (
      SELECT event_type, half, count(*) AS n
      FROM halves GROUP BY event_type, half
    ),
    wide AS (
      SELECT event_type,
             coalesce(sum(CASE WHEN half = 0 THEN n END), 0) AS n_first,
             coalesce(sum(CASE WHEN half = 1 THEN n END), 0) AS n_second
      FROM cnt GROUP BY event_type
    )
    SELECT event_type,
      CAST(n_first AS BIGINT) AS n_first,
      CAST(n_second AS BIGINT) AS n_second,
      CAST((n_first * 1000000)
           // sum(n_first) OVER () AS BIGINT) AS ppm_first,
      CAST((n_second * 1000000)
           // sum(n_second) OVER () AS BIGINT) AS ppm_second,
      CAST(abs((n_first * 1000000) // sum(n_first) OVER ()
             - (n_second * 1000000) // sum(n_second) OVER ())
           AS BIGINT) AS drift_ppm
    FROM wide
    """,
)
def q_distribution_drift_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISTRIBUTION DRIFT audit: split the event stream at the midpoint
    of its time range and compare the event-type mix of the two halves
    — per-type share in each half (exact integer ppm) and the absolute
    share drift.  The monitoring primitive behind "did the traffic mix
    shift?" alerts and training/serving skew checks; the per-type
    |Δppm| column is the L1/total-variation contribution, so
    TVD = Σ drift_ppm / 2.

    One scan → (type, half) hash aggregate (map-side partials; the
    exchange carries ≤ 2·|types| rows); the two scalar extremes ride
    in as a broadcast of a 1-row aggregate; the share windows run over
    the |types|-sized frame.  Nothing after the first aggregation
    scales with stream size, and every share is integer-exact."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
    )
    bounds = e.agg(
        F.expr("(min(e) + max(e)) div 2").cast("bigint").alias("mid")
    )
    halves = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("e") <= F.col("mid"), 0).otherwise(1).alias("half"),
    )
    wide = halves.groupBy("event_type").agg(
        F.coalesce(
            F.sum(F.when(F.col("half") == 0, 1)), F.lit(0)
        ).alias("n_first"),
        F.coalesce(
            F.sum(F.when(F.col("half") == 1, 1)), F.lit(0)
        ).alias("n_second"),
    )
    # totals ride in as a broadcast 1-row aggregate over the
    # |types|-sized frame (no window, no extra scan of the raw stream)
    tots = wide.agg(
        F.sum("n_first").alias("tf"), F.sum("n_second").alias("ts")
    )
    j = wide.crossJoin(F.broadcast(tots))
    ppm_first = F.expr("(n_first * 1000000) div tf").cast("bigint")
    ppm_second = F.expr("(n_second * 1000000) div ts").cast("bigint")
    return j.select(
        "event_type",
        F.col("n_first").cast("bigint").alias("n_first"),
        F.col("n_second").cast("bigint").alias("n_second"),
        ppm_first.alias("ppm_first"),
        ppm_second.alias("ppm_second"),
        F.abs(ppm_first - ppm_second).cast("bigint").alias("drift_ppm"),
    )


# ---------------------------------------------------------------------------
# max_drawdown — worst peak-relative decline of the daily revenue series
# ---------------------------------------------------------------------------


@query(
    "max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS ep,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1, 2
    ),
    runm AS (
      SELECT yr, ep, x,
             max(x) OVER (PARTITION BY yr ORDER BY ep
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM daily
    ),
    dd AS (
      SELECT yr, ep, x, peak,
             ((peak - x) * 1000000) // peak AS dd_ppm
      FROM runm
    )
    SELECT yr, ep AS trough_ep, x AS trough_cents,
           peak AS peak_cents, CAST(dd_ppm AS BIGINT) AS drawdown_ppm
    FROM (
      SELECT *, row_number() OVER (PARTITION BY yr
               ORDER BY dd_ppm DESC, ep) AS rk
      FROM dd
    ) WHERE rk = 1
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX DRAWDOWN of the daily revenue series, per year: the worst
    peak-relative decline — running max of the daily level, drawdown
    = (peak − x)/peak, argmax per year (earliest day wins ties).  The
    risk/health summary every revenue or throughput dashboard carries:
    "at the worst point we were N% below the best day so far".

    The prefix max runs YEAR-partitioned (trailing state parallelizes
    across years — the rolling_correlation discipline, never one
    global-order task); the frame under the windows is the
    day-granularity aggregate, ~365 rows per year however big the
    scan.  Cents are exact integers; the drawdown ratio is exact
    integer ppm (both engines floor a non-negative division)."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("ep"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x"))
    wrun = (
        Window.partitionBy("yr")
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runm = daily.withColumn("peak", F.max("x").over(wrun))
    dd = runm.withColumn(
        "dd_ppm", F.expr("((peak - x) * 1000000) div peak")
    )
    wpick = Window.partitionBy("yr").orderBy(
        F.col("dd_ppm").desc(), "ep"
    )
    return (
        dd.withColumn("rk", F.row_number().over(wpick))
        .filter(F.col("rk") == 1)
        .select(
            "yr",
            F.col("ep").alias("trough_ep"),
            F.col("x").alias("trough_cents"),
            F.col("peak").alias("peak_cents"),
            F.col("dd_ppm").cast("bigint").alias("drawdown_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# source_vocab_overlap — pairwise weighted-Jaccard between source vocabs
# ---------------------------------------------------------------------------


@query(
    "source_vocab_overlap",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT source, u.tok
      FROM (SELECT source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    ),
    tc AS MATERIALIZED (
      SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok
    ),
    tot AS MATERIALIZED (
      SELECT source, sum(c) AS t_total, count(*) AS v_distinct
      FROM tc GROUP BY source
    ),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             sum(CASE WHEN x.c < y.c THEN x.c ELSE y.c END) AS inter_w,
             count(*) AS inter_v
      FROM tc x JOIN tc y
        ON x.tok = y.tok AND x.source < y.source
      GROUP BY x.source, y.source
    )
    SELECT i.source_a, i.source_b,
      CAST(i.inter_v AS BIGINT) AS shared_tokens,
      CAST((i.inter_v * 1000000)
           // (ta.v_distinct + tb.v_distinct - i.inter_v)
           AS BIGINT) AS jaccard_micro,
      CAST((i.inter_w * 1000000)
           // (ta.t_total + tb.t_total - i.inter_w)
           AS BIGINT) AS weighted_jaccard_micro
    FROM inter i
    JOIN tot ta ON i.source_a = ta.source
    JOIN tot tb ON i.source_b = tb.source
    """,
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-VOCABULARY OVERLAP: for every source pair, the
    distinct-token Jaccard and the count-WEIGHTED Jaccard
    (Σmin/Σmax over token frequencies) — the corpus-mixing diagnostic
    that finds redundant sources (near-1 overlap → dedup across them
    before fixing mixture weights) and outliers (near-0 → different
    register or language).

    The quadratic lives only in the OUTPUT (S² pairs): the join is
    TOKEN-keyed over per-source token counts — a vocabulary-sized
    exchange, with Σmax recovered as tot_a + tot_b − Σmin so the
    union never materializes (per-pair intersection rows only).  The
    per-source totals ride back as a broadcast join (|S| rows).  All
    arithmetic is exact-integer; ratios surface as floored
    micro-units via non-negative integer division."""
    from .catalog_ext import _docs_parallel
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select("source", F.explode(_tokens("text")).alias("tok"))
    tc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tc.groupBy("source").agg(
        F.sum("c").alias("t_total"), F.count(F.lit(1)).alias("v_distinct")
    )
    x = tc.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("c").alias("ca"),
    )
    y = tc.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("c").alias("cb"),
    )
    inter = (
        x.join(
            y,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.least("ca", "cb")).alias("inter_w"),
            F.count(F.lit(1)).alias("inter_v"),
        )
    )
    ta = F.broadcast(
        tot.select(
            F.col("source").alias("source_a"),
            F.col("t_total").alias("tta"),
            F.col("v_distinct").alias("va"),
        )
    )
    tb = F.broadcast(
        tot.select(
            F.col("source").alias("source_b"),
            F.col("t_total").alias("ttb"),
            F.col("v_distinct").alias("vb"),
        )
    )
    return (
        inter.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("inter_v").cast("bigint").alias("shared_tokens"),
            F.expr("(inter_v * 1000000) div (va + vb - inter_v)")
            .cast("bigint")
            .alias("jaccard_micro"),
            F.expr("(inter_w * 1000000) div (tta + ttb - inter_w)")
            .cast("bigint")
            .alias("weighted_jaccard_micro"),
        )
    )


# ---------------------------------------------------------------------------
# mutual_information — MI between categorical column pairs
# ---------------------------------------------------------------------------

_MI_PAIRS = (
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("documents", "lang", "source"),
)


def _mi_oracle() -> str:
    parts = []
    for tbl, cx, cy in _MI_PAIRS:
        parts.append(f"""
      SELECT '{tbl}' AS tbl, '{cx}' AS colx, '{cy}' AS coly,
             CAST({cx} AS VARCHAR) AS x, CAST({cy} AS VARCHAR) AS y,
             count(*) AS nxy
      FROM {tbl} GROUP BY {cx}, {cy}""")
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH joint AS MATERIALIZED ({union}
    ),
    marg AS (
      SELECT *,
        sum(nxy) OVER (PARTITION BY tbl, x) AS nx,
        sum(nxy) OVER (PARTITION BY tbl, y) AS ny,
        sum(nxy) OVER (PARTITION BY tbl) AS n
      FROM joint
    )
    SELECT tbl, colx, coly,
      CAST(count(*) AS BIGINT) AS n_cells,
      CAST(min(n) AS BIGINT) AS n_rows,
      CAST(sum(CAST(floor(1e6
        * (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
        * log2(CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE)))
        AS BIGINT)) AS BIGINT) AS mi_microbits
    FROM marg GROUP BY tbl, colx, coly
    """


@query(
    "mutual_information",
    oracle=_mi_oracle(),
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-DEPENDENCE profiling: mutual information between
    categorical column pairs — MI = Σ p(x,y)·log2(p(x,y)/(p(x)p(y))),
    the model-free dependence measure behind feature selection (near
    zero → the pair is redundant to condition on jointly) and
    denormalization/encoding decisions; the bivariate sequel to
    column_entropy_profile.

    Per pair: ONE joint hash aggregate (map-side partials shrink the
    exchange to cell cardinality); marginals come from windows over
    the CELL-level frame — dozens of rows however big the scan, the
    column_entropy_profile device.  Each cell's term is floored to
    micro-bits BEFORE the cross-cell sum (deterministic IEEE on exact
    integer counts → exact integer aggregation)."""
    frames = []
    for tbl, cx, cy in _MI_PAIRS:
        t = read_table(spark, sf_dir, tbl)
        frames.append(
            t.groupBy(
                F.col(cx).cast("string").alias("x"),
                F.col(cy).cast("string").alias("y"),
            )
            .agg(F.count(F.lit(1)).alias("nxy"))
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(cx).alias("colx"),
                F.lit(cy).alias("coly"),
                "x", "y", "nxy",
            )
        )
    joint = frames[0]
    for f in frames[1:]:
        joint = joint.unionAll(f)
    marg = (
        joint.withColumn(
            "nx", F.sum("nxy").over(Window.partitionBy("tbl", "x"))
        )
        .withColumn(
            "ny", F.sum("nxy").over(Window.partitionBy("tbl", "y"))
        )
        .withColumn("n", F.sum("nxy").over(Window.partitionBy("tbl")))
    )
    term = F.floor(
        F.lit(1e6)
        * (F.col("nxy").cast("double") / F.col("n").cast("double"))
        * F.log2(
            (F.col("nxy") * F.col("n")).cast("double")
            / (F.col("nx") * F.col("ny")).cast("double")
        )
    ).cast("bigint")
    return marg.groupBy("tbl", "colx", "coly").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.min("n").cast("bigint").alias("n_rows"),
        F.sum(term).cast("bigint").alias("mi_microbits"),
    )


# ---------------------------------------------------------------------------
# last_touch_attribution — marketing attribution of purchases
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


@query(
    "last_touch_attribution",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS es, event_id, value
      FROM events
    ),
    touched AS (
      SELECT *,
        last_value(CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS)
          OVER w AS touch_type,
        last_value(CASE WHEN event_type <> 'purchase'
                        THEN es END IGNORE NULLS)
          OVER w AS touch_es
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
      SELECT CASE WHEN touch_es >= es - {_ATTR_WINDOW_US}
                  THEN touch_type ELSE 'direct' END AS channel,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT channel,
      CAST(count(*) AS BIGINT) AS n_purchases,
      CAST(sum(cents) AS BIGINT) AS revenue_cents,
      CAST((count(*) * 1000000) // (SELECT count(*) FROM attributed)
           AS BIGINT) AS share_ppm
    FROM attributed GROUP BY channel
    """,
)
def q_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION: every purchase is credited to the same
    user's most recent non-purchase event within a 7-day lookback
    ('direct' when none) — the standard marketing-attribution model,
    built from the LOCF device (ignore-nulls running last over the
    per-user event order, frame ending at 1 PRECEDING so a purchase
    never attributes to itself).  Both LOCF columns share one
    predicate, so they pick the SAME touch row by construction.

    ONE shuffle on user_id for the window (single sort-based pass,
    state = one value per key), then a channel-sized hash aggregate;
    the attribution share rides on a broadcast scalar.  Revenue is
    exact cents; shares are exact integer ppm."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    not_purchase = F.col("event_type") != "purchase"
    touched = e.select(
        "*",
        F.last(
            F.when(not_purchase, F.col("event_type")), ignorenulls=True
        ).over(w).alias("touch_type"),
        F.last(
            F.when(not_purchase, F.col("es")), ignorenulls=True
        ).over(w).alias("touch_es"),
    )
    attributed = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_es") >= F.col("es") - F.lit(_ATTR_WINDOW_US),
            F.col("touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        cents(F.col("value")).alias("cents"),
    )
    total = attributed.agg(F.count(F.lit(1)).alias("tot"))
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "channel",
            "n_purchases",
            "revenue_cents",
            F.expr("(n_purchases * 1000000) div tot")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_drift_by_label — per-label centroid cosine vs corpus centroid
# ---------------------------------------------------------------------------


@query(
    "embedding_drift_by_label",
    oracle="""
    WITH comp AS MATERIALIZED (
      SELECT label, pos, sum(q) AS s, count(*) AS nv FROM (
        SELECT label,
          unnest(generate_series(1, len(embedding))) AS pos,
          unnest(list_transform(embedding::DOUBLE[],
                 e -> CAST(floor(e * 1e6) AS BIGINT))) AS q
        FROM embeddings
      ) GROUP BY label, pos
    ),
    gvec AS (
      SELECT pos, sum(s) AS g FROM comp GROUP BY pos
    ),
    dots AS (
      SELECT c.label,
        max(c.nv) AS n_vecs,
        sum(CAST(c.s AS DECIMAL(38,0)) * gl.g) AS num,
        sum(CAST(c.s AS DECIMAL(38,0)) * c.s) AS na2,
        sum(CAST(gl.g AS DECIMAL(38,0)) * gl.g) AS ng2
      FROM comp c JOIN gvec gl ON c.pos = gl.pos
      GROUP BY c.label
    )
    SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      CAST(floor(1e6 * CAST(num AS DOUBLE)
        / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(ng2 AS DOUBLE))))
        AS BIGINT) AS cos_to_corpus_micro
    FROM dots
    """,
)
def q_embedding_drift_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING DRIFT monitor: cosine of each label's centroid against
    the corpus centroid — the slice-level embedding health check (a
    label whose centroid swings away from the corpus signals
    distribution shift, a broken encoder, or a mislabeled slice).
    Because cosine is scale-invariant, centroids never need the 1/n
    division: cos(mean_label, mean_corpus) = cos(SUM_label,
    SUM_corpus), computed directly on exact per-component sums.

    Components are quantized floor(x·1e6) at the SCAN (float→double
    widening is exact, so both engines floor identical doubles) and
    summed as integers — the order-insensitivity discipline; the
    64-term dot products accumulate as DECIMAL(38,0); exactly one
    IEEE chain (divide + two sqrts) runs per label.  Shuffle story:
    posexplode → (label, pos) hash-aggregate (map-side partials: the
    exchange carries |labels|·dims rows), then everything downstream
    is centroid-sized."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * 1e6).cast("bigint")
    comp = (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "x")
        )
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("nv"))
    )
    glob = comp.groupBy("pos").agg(F.sum("s").alias("g"))
    dec = "decimal(38,0)"
    dots = (
        comp.join(glob, "pos")
        .groupBy("label")
        .agg(
            F.max("nv").alias("n_vecs"),
            F.sum(F.col("s").cast(dec) * F.col("g")).alias("num"),
            F.sum(F.col("s").cast(dec) * F.col("s")).alias("na2"),
            F.sum(F.col("g").cast(dec) * F.col("g")).alias("ng2"),
        )
    )
    return dots.select(
        "label",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.floor(
            F.lit(1e6)
            * F.col("num").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("ng2").cast("double"))
            )
        )
        .cast("bigint")
        .alias("cos_to_corpus_micro"),
    )


# ---------------------------------------------------------------------------
# token_shift_lor — distinctive tokens via log-odds with Dirichlet prior
# ---------------------------------------------------------------------------

_LOR_ALPHA = 0.01
_LOR_TOPN = 30


@query(
    "token_shift_lor",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT lang, u.tok
      FROM (SELECT lang,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    ),
    top_lang AS (
      SELECT lang FROM (
        SELECT lang, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, lang) AS rk
        FROM toks GROUP BY lang
      ) WHERE rk = 1
    ),
    cnt AS MATERIALIZED (
      SELECT tok,
        sum(CASE WHEN lang = (SELECT lang FROM top_lang)
            THEN 1 ELSE 0 END) AS y_g,
        sum(CASE WHEN lang <> (SELECT lang FROM top_lang)
            THEN 1 ELSE 0 END) AS y_r
      FROM toks GROUP BY tok
    ),
    tot AS (
      SELECT sum(y_g) AS n_g, sum(y_r) AS n_r, count(*) AS v FROM cnt
    ),
    z AS (
      SELECT tok, y_g, y_r,
        (ln((y_g + {_LOR_ALPHA})
            / (n_g + {_LOR_ALPHA} * v - y_g - {_LOR_ALPHA}))
         - ln((y_r + {_LOR_ALPHA})
              / (n_r + {_LOR_ALPHA} * v - y_r - {_LOR_ALPHA})))
        / sqrt(1.0 / (y_g + {_LOR_ALPHA}) + 1.0 / (y_r + {_LOR_ALPHA}))
          AS zval
      FROM cnt, tot
    )
    SELECT tok,
      CAST(y_g AS BIGINT) AS n_group, CAST(y_r AS BIGINT) AS n_rest,
      CAST(floor(zval * 1e6) AS BIGINT) AS z_micro
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY floor(abs(zval) * 1e6) DESC, tok) AS rk
      FROM z
    ) WHERE rk <= {_LOR_TOPN}
    """,
)
def q_token_shift_lor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCTIVE-TOKEN detection via log-odds ratio with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008 — the
    "Fightin' Words" statistic): tokens whose usage rate in the top
    language most diverges from the rest of the corpus, ranked by the
    prior-smoothed z-score.  The corpus-drift / slice-characterization
    primitive that raw frequency ratios get wrong for rare tokens
    (the prior shrinks them; the variance term downweights them).

    One postings pass → token-level hash aggregate carrying BOTH
    group counts (a single conditional-sum pass, no per-group scans);
    corpus totals ride in as a broadcast 1-row aggregate; the z chain
    is per-token deterministic IEEE on exact integer counts, floored
    to micro before the TakeOrdered top-{n} (bounded heap, never a
    global sort)."""
    from .catalog_ext import _docs_parallel
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select("lang", F.explode(_tokens("text")).alias("tok"))
    top_lang = (
        toks.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    cnt = (
        toks.crossJoin(F.broadcast(top_lang))
        .groupBy("tok")
        .agg(
            F.sum(
                F.when(F.col("lang") == F.col("top_lang"), 1).otherwise(0)
            ).alias("y_g"),
            F.sum(
                F.when(F.col("lang") != F.col("top_lang"), 1).otherwise(0)
            ).alias("y_r"),
        )
    )
    tot = cnt.agg(
        F.sum("y_g").alias("n_g"),
        F.sum("y_r").alias("n_r"),
        F.count(F.lit(1)).alias("v"),
    )
    a = _LOR_ALPHA
    j = cnt.crossJoin(F.broadcast(tot))
    zval = (
        F.log(
            (F.col("y_g") + a)
            / (F.col("n_g") + a * F.col("v") - F.col("y_g") - a)
        )
        - F.log(
            (F.col("y_r") + a)
            / (F.col("n_r") + a * F.col("v") - F.col("y_r") - a)
        )
    ) / F.sqrt(
        1.0 / (F.col("y_g") + a) + 1.0 / (F.col("y_r") + a)
    )
    scored = j.select(
        "tok",
        F.col("y_g").cast("bigint").alias("n_group"),
        F.col("y_r").cast("bigint").alias("n_rest"),
        F.floor(zval * 1e6).cast("bigint").alias("z_micro"),
        F.floor(F.abs(zval) * 1e6).cast("bigint").alias("__az"),
    )
    return (
        scored.orderBy(F.col("__az").desc(), "tok")
        .limit(_LOR_TOPN)
        .select("tok", "n_group", "n_rest", "z_micro")
    )


# ---------------------------------------------------------------------------
# theil_sen_trend — robust pairwise-median slope of daily revenue, per year
# ---------------------------------------------------------------------------


@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS ep,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY 1, 2
    ),
    slopes AS (
      SELECT i.yr,
        CAST(floor(1e6 * CAST(j.x - i.x AS DOUBLE)
                   / CAST(j.ep - i.ep AS DOUBLE)) AS BIGINT) AS s,
        i.ep AS ei, j.ep AS ej
      FROM daily i JOIN daily j
        ON i.yr = j.yr AND i.ep < j.ep
    ),
    ranked AS (
      SELECT yr, s,
        row_number() OVER (PARTITION BY yr ORDER BY s, ei, ej) AS rk,
        count(*) OVER (PARTITION BY yr) AS n_pairs
      FROM slopes
    )
    SELECT yr, CAST(n_pairs AS BIGINT) AS n_pairs,
           s AS slope_micro_cents_per_day
    FROM ranked WHERE rk = (n_pairs + 1) // 2
    """,
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN robust trend of the daily revenue series, per year:
    the median of all pairwise slopes — the estimator with a 29%
    breakdown point, immune to the outlier days that poison an OLS
    trend (grouped_linreg's complement: same series, robust loss).

    The O(d²) pair expansion runs on the DAY-level aggregate — ~365
    rows per year → ~66k pairs per year whatever the scan size, and
    the years parallelize (the rolling_correlation partitioning
    discipline).  Each slope is floored to micro BEFORE ranking
    (exact cents / exact day spans → deterministic IEEE), and the
    median is the lower-middle order statistic with a full (slope,
    ep_i, ep_j) tie-break, so both engines pick the identical row."""
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("ep"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("x"))
    di = daily.select(
        "yr", F.col("ep").alias("ei"), F.col("x").alias("xi")
    )
    dj = daily.select(
        F.col("yr").alias("yr_j"),
        F.col("ep").alias("ej"),
        F.col("x").alias("xj"),
    )
    slopes = di.join(
        dj, (F.col("yr") == F.col("yr_j")) & (F.col("ei") < F.col("ej"))
    ).select(
        "yr",
        F.floor(
            F.lit(1e6)
            * (F.col("xj") - F.col("xi")).cast("double")
            / (F.col("ej") - F.col("ei")).cast("double")
        )
        .cast("bigint")
        .alias("s"),
        "ei",
        "ej",
    )
    wr = Window.partitionBy("yr").orderBy("s", "ei", "ej")
    wn = Window.partitionBy("yr")
    ranked = slopes.select(
        "yr",
        "s",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rk") == F.expr("(n_pairs + 1) div 2")
    ).select(
        "yr",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("s").alias("slope_micro_cents_per_day"),
    )


# ---------------------------------------------------------------------------
# anova_oneway — one-way ANOVA of order value across market segments
# ---------------------------------------------------------------------------


@query(
    "anova_oneway",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS MATERIALIZED (
      SELECT seg, count(*) AS n_g,
             sum(v) AS s_g,
             sum(CAST(v AS HUGEINT) * v) AS ss_g,
             (sum(v)::HUGEINT * sum(v)) // count(*) AS t_g
      FROM obs GROUP BY seg
    ),
    tot AS (
      SELECT count(*) AS k, sum(n_g) AS n,
             sum(ss_g) AS ss, sum(t_g) AS sb_plus,
             (sum(s_g)::HUGEINT * sum(s_g)) // sum(n_g) AS s2n
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n_rows,
      CAST((sb_plus - s2n) // 1000000 AS BIGINT) AS ss_between_div1e6,
      CAST((ss - sb_plus) // 1000000 AS BIGINT) AS ss_within_div1e6,
      CAST(floor(1e6
        * (CAST(sb_plus - s2n AS DOUBLE) / (k - 1))
        / (CAST(ss - sb_plus AS DOUBLE) / (n - k))) AS BIGINT)
        AS f_micro,
      CAST(floor(1e6 * CAST(sb_plus - s2n AS DOUBLE)
        / CAST(ss - s2n AS DOUBLE)) AS BIGINT) AS eta2_micro
    FROM tot
    """,
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across customer market segments:
    the F statistic (between-group vs within-group variance) and η²
    (variance explained) — the "does this categorical feature matter
    for this metric" screen that complements chi_square_independence
    (two categoricals) and mutual_information.

    Sufficient statistics per group — n, Σv, Σv² — aggregate exactly
    (cents as integers, squares as DECIMAL(38,0)/HUGEINT); the
    group-level frame is |segments| rows, so the F/η² chain runs once
    over a broadcast-scale aggregate.  NO float ever crosses groups:
    the between-groups term Σ s_g²/n_g uses per-group FLOORED exact
    integer division (s_g² div n_g — ≤1 count² definitional error per
    group, order-insensitive integer sum), sidestepping the unordered
    float-reduction trap ADVICE r4 flagged on neyman_allocation.  SS
    outputs floor-divide by 1e6 (cents² magnitudes overflow bigint if
    scaled up); the F/η² ratios are single IEEE chains at micro."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    obs = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == c["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("seg"),
        cents(F.col("o_totalprice")).alias("v"),
    )
    dec = "decimal(38,0)"
    g = obs.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s_g"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("ss_g"),
    ).withColumn(
        # EXACT decimal floor division (a - a%b)/b: Spark's `div`
        # returns LONG and s_g²/n_g exceeds bigint past sf~0.01 — the
        # subtract-remainder form keeps the quotient in decimal(38,0)
        # with an integral (hence exactly representable) value.
        "t_g",
        F.expr(
            "cast((cast(s_g as decimal(38,0)) * s_g"
            " - pmod(cast(s_g as decimal(38,0)) * s_g,"
            "        cast(n_g as decimal(38,0)))) / n_g"
            " as decimal(38,0))"
        ),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("ss_g")).alias("ss"),
        F.sum(F.col("t_g").cast(dec)).alias("sb_plus"),
        F.expr(
            "cast((cast(sum(s_g) as decimal(38,0)) * sum(s_g)"
            " - pmod(cast(sum(s_g) as decimal(38,0)) * sum(s_g),"
            "        cast(sum(n_g) as decimal(38,0)))) / sum(n_g)"
            " as decimal(38,0))"
        ).alias("s2n"),
    )
    sb = (F.col("sb_plus") - F.col("s2n")).cast("double")
    sw = (F.col("ss") - F.col("sb_plus")).cast("double")
    st = (F.col("ss") - F.col("s2n")).cast("double")
    return tot.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "cast((sb_plus - s2n - pmod(sb_plus - s2n,"
            " cast(1000000 as decimal(38,0)))) / 1000000 as bigint)"
        ).alias("ss_between_div1e6"),
        F.expr(
            "cast((ss - sb_plus - pmod(ss - sb_plus,"
            " cast(1000000 as decimal(38,0)))) / 1000000 as bigint)"
        ).alias("ss_within_div1e6"),
        F.floor(
            1e6 * (sb / (F.col("k") - 1)) / (sw / (F.col("n") - F.col("k")))
        )
        .cast("bigint")
        .alias("f_micro"),
        F.floor(1e6 * sb / st).cast("bigint").alias("eta2_micro"),
    )


# ---------------------------------------------------------------------------
# prefix_filter_jaccard_join — EXACT set-similarity self-join (All-Pairs)
# ---------------------------------------------------------------------------

_PF_TAU_NUM, _PF_TAU_DEN = 6, 10  # Jaccard threshold 0.6, exact rational

_PF_DUCK_SH = (
    "CASE WHEN len(tk) >= 3 THEN list_distinct(list_transform("
    "range(len(tk) - 2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))"
    " ELSE [lower(trim(text))] END"
)


@query(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, {_PF_DUCK_SH} AS s
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents)
    ),
    post AS MATERIALIZED (
      SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS i, min(a.n) AS na, min(b.n) AS nb
      FROM post a JOIN post b
        ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
      CAST((i * 1000000) // (na + nb - i) AS BIGINT) AS jaccard_e6
    FROM inter
    WHERE i * {_PF_TAU_DEN} >= {_PF_TAU_NUM} * (na + nb - i)
    """,
)
def q_prefix_filter_jaccard_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT set-similarity self-join with PREFIX FILTERING (Chaudhuri
    et al. 2006 / Bayardo All-Pairs 2007): every document pair with
    word-3-gram Jaccard ≥ {t} — COMPLETE, unlike the MinHash/LSH tier
    whose recall is probabilistic.  Order each document's shingles by
    ascending GLOBAL frequency (rarest first, shingle tie-break); any
    pair meeting the threshold must share a token among each side's
    first |A| − ⌈τ·|A|⌉ + 1 shingles, so only prefix-token postings
    join — rare tokens have short postings, which is exactly why the
    frequency order is the right one.

    The driver oracle is the EXHAUSTIVE postings join (every shared
    shingle), so the gate literally proves the filter's completeness
    on real data, not just its precision.  Shuffles: one postings
    aggregate for frequencies, one prefix-token join (candidate
    stream ∝ Σ prefix-posting², collapsed by DISTINCT before the
    verify), one broadcast-side array verify with exact integer
    threshold arithmetic (i·{d} ≥ {n}·union — no float compare)."""
    from .plans.corpus_lsh import corpus_shingle_sets

    # staged once per session (plans/corpus_lsh.py) — shingling is the
    # dominant CPU; prefix stream and verify arrays both consume it
    shd = corpus_shingle_sets(spark, sf_dir)
    post = shd.select(
        "id", F.explode("s").alias("g"), F.size("s").alias("n")
    )
    freq = post.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # width pins (PERF.md AQE A/B): postings and candidate streams are
    # NARROW rows, so size-based coalescing would serialize the
    # CPU-heavy window sort and the prefix self-join — measured 2.3x at
    # sf0.1.  Explicit hash repartitions are AQE-exempt and satisfy the
    # window/join distributions (no extra exchange).
    width = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    wp = Window.partitionBy("id").orderBy("df", "g")
    prefix = (
        post.repartition(width, "g")
        .join(freq, "g")
        .repartition(width, "id")
        .withColumn("rk", F.row_number().over(wp))
        # p = n - ceil(tau*n) + 1, all-integer ceil
        .filter(
            F.col("rk")
            <= F.col("n")
            - F.expr(
                f"({_PF_TAU_NUM} * n + {_PF_TAU_DEN} - 1) "
                f"div {_PF_TAU_DEN}"
            )
            + 1
        )
        .select("id", "g")
    )
    # the prefix stream used to feed BOTH sides of a g-keyed self-join;
    # the Arrow pair-expansion kernel (operators/pairgen.py, r11 round)
    # generates the candidate pairs from one g-keyed collect_list
    # instead — same distinct (id_a < id_b) pair set (a pair appears
    # iff it shares a prefix token; i ≥ 1 ⟺ membership).
    from .operators.pairgen import posting_pair_counts

    cands = (
        posting_pair_counts(prefix, "g", "id")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        # materialize once (feeds the verify join) ...
        .localCheckpoint()
        # ... then RE-WIDEN: the aggregate's AQE-coalesced output is ONE
        # partition of narrow pairs, which would serialize the verify's
        # per-pair array intersections (measured 7 s -> 1.1 s at sf0.1)
        .repartition(width)
    )
    sa = shd.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = shd.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    i = F.size(F.array_intersect("s_a", "s_b"))
    u = F.size("s_a") + F.size("s_b") - i
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(i * _PF_TAU_DEN >= _PF_TAU_NUM * u)
        .select(
            "id_a",
            "id_b",
            F.expr(
                "(size(array_intersect(s_a, s_b)) * 1000000) div "
                "(size(s_a) + size(s_b) "
                "- size(array_intersect(s_a, s_b)))"
            )
            .cast("bigint")
            .alias("jaccard_e6"),
        )
    )


q_prefix_filter_jaccard_join.__doc__ = (
    q_prefix_filter_jaccard_join.__doc__ or ""
).format(t=_PF_TAU_NUM / _PF_TAU_DEN, n=_PF_TAU_NUM, d=_PF_TAU_DEN)


# ---------------------------------------------------------------------------
# clustering_coefficient — per-vertex triangle density
# ---------------------------------------------------------------------------


def _clustering_oracle() -> str:
    return """
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= 3
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src AS v, count(*) AS d FROM sym GROUP BY src
    ),
    tri AS MATERIALIZED (
      SELECT s1.src AS w, s1.dst AS a, s2.dst AS b
      FROM sym s1
      JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
      JOIN edges e ON e.a = s1.dst AND e.b = s2.dst
    ),
    tcount AS (
      SELECT w AS v, count(*) AS t FROM tri GROUP BY w
    )
    SELECT deg.v AS vertex, CAST(deg.d AS BIGINT) AS degree,
      CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
      CAST((coalesce(t, 0) * 2000000) // (deg.d * (deg.d - 1))
           AS BIGINT) AS cc_micro
    FROM deg LEFT JOIN tcount ON deg.v = tcount.v
    WHERE deg.d >= 2
    """


@query(
    "clustering_coefficient",
    oracle=_clustering_oracle(),
)
def q_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per vertex: 2·triangles(v) /
    (deg(v)·(deg(v)−1)) — the "how clique-like is this customer's
    neighborhood" score that separates hub-and-spoke structure
    (cc→0) from tight communities (cc→1); the per-vertex refinement
    of triangle_count's global census and the k-core / link-prediction
    family's fourth member sharing the SAME staged sparse edge list.

    Wedge join (Σ deg² pairs on the thresholded projection) closed
    against the canonical a<b edge list; each triangle surfaces once
    per corner as the wedge midpoint, so one hash aggregate on the
    midpoint IS the per-vertex census (cross-checked against a
    brute-force Python twin in tests/test_r5_operators.py).  The
    coefficient is exact integer arithmetic end-to-end (2e6·t div
    d(d−1) — non-negative, so div = floor on both engines)."""
    from .plans.co_purchase import co_purchase_edges

    edges = co_purchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).localCheckpoint()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    s1 = sym.select("src", F.col("dst").alias("a"))
    s2 = sym.select(F.col("src").alias("src2"), F.col("dst").alias("b"))
    wedges = s1.join(
        s2, (F.col("src") == F.col("src2")) & (F.col("a") < F.col("b"))
    ).select(F.col("src").alias("w"), "a", "b")
    tri = wedges.join(edges, ["a", "b"])
    # each triangle {x,y,z} appears EXACTLY once per corner as the
    # wedge midpoint w (the other two sorted a<b), so grouping by w
    # already yields per-vertex triangle counts — crediting a/b too
    # would triple-count (caught by the brute-force CI twin)
    tcount = tri.groupBy(F.col("w").alias("v")).agg(
        F.count(F.lit(1)).alias("t")
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcount, "v", "left")
        .select(
            F.col("v").alias("vertex"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.expr(
                "(coalesce(t, 0) * 2000000) div (d * (d - 1))"
            )
            .cast("bigint")
            .alias("cc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# embedding_dim_health — per-dimension statistics of the embedding table
# ---------------------------------------------------------------------------


@query(
    "embedding_dim_health",
    oracle="""
    WITH comp AS MATERIALIZED (
      SELECT pos, q FROM (
        SELECT unnest(generate_series(1, len(embedding))) AS pos,
               unnest(list_transform(embedding::DOUBLE[],
                      e -> CAST(floor(e * 1e6) AS BIGINT))) AS q
        FROM embeddings
      )
    )
    SELECT pos,
      CAST(count(*) AS BIGINT) AS n,
      CAST(min(q) AS BIGINT) AS min_q,
      CAST(max(q) AS BIGINT) AS max_q,
      CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT)
        AS mean_floor_q,
      CAST(floor(sqrt(
        CAST(count(*)::HUGEINT * sum(q::HUGEINT * q)
             - sum(q)::HUGEINT * sum(q) AS DOUBLE)
        / (CAST(count(*) AS DOUBLE) * (count(*) - 1)))) AS BIGINT)
        AS std_floor_q,
      (count(*)::HUGEINT * sum(q::HUGEINT * q)
       - sum(q)::HUGEINT * sum(q)) = 0 AS is_dead
    FROM comp GROUP BY pos
    """,
)
def q_embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DIMENSION HEALTH: per-component n/min/max/mean/std
    over the whole vector table plus a dead-dimension flag (zero
    variance — a component the encoder never uses, the classic symptom
    of a collapsed projection head or a truncated export).  Companion
    to embedding_drift_by_label: that one watches SLICES, this one
    watches COORDINATES.

    Components quantize to floor(x·1e6) integers at the scan (exact
    float→double widening), so min/max/Σ/Σq² aggregate exactly
    (DECIMAL(38,0) squares); mean and std are one IEEE chain each on
    exact inputs, floored.  The exchange after posexplode carries
    (pos)-keyed partials — 64 groups however many vectors — and the
    dead flag is an exact integer comparison, never a float epsilon."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * 1e6).cast("bigint")
    comp = emb.select(
        F.posexplode("embedding").alias("pos0", "x")
    ).select(
        (F.col("pos0") + 1).cast("bigint").alias("pos"), q.alias("q")
    )
    dec = "decimal(38,0)"
    agg = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
        F.sum("q").alias("s"),
        F.sum(F.col("q").cast(dec) * F.col("q")).alias("ss"),
    )
    var_num = (
        F.col("n").cast(dec) * F.col("ss")
        - F.col("s").cast(dec) * F.col("s")
    )
    return agg.select(
        "pos",
        F.col("n").cast("bigint").alias("n"),
        F.col("min_q").cast("bigint").alias("min_q"),
        F.col("max_q").cast("bigint").alias("max_q"),
        F.floor(F.col("s").cast("double") / F.col("n"))
        .cast("bigint")
        .alias("mean_floor_q"),
        F.floor(
            F.sqrt(
                var_num.cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1))
            )
        )
        .cast("bigint")
        .alias("std_floor_q"),
        (var_num == 0).alias("is_dead"),
    )


# ---------------------------------------------------------------------------
# ipw_treatment_effect — inverse-propensity-weighted signup effect
# ---------------------------------------------------------------------------

# exact floor division a//b for non-negative DECIMAL(38,0) operands on
# the Spark side (Spark's `div` materializes a LONG quotient, which can
# overflow; see anova_oneway)
_FDIV = "cast(({a} - pmod({a}, cast({b} as decimal(38,0)))) / {b} as decimal(38,0))"


@query(
    "ipw_treatment_effect",
    oracle="""
    WITH peru AS MATERIALIZED (
      SELECT user_id,
        count(*) AS n_events,
        max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
        sum(CASE WHEN event_type = 'purchase'
            THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    banded AS (
      SELECT *, CAST(floor(log2(CAST(n_events AS DOUBLE))) AS BIGINT)
             AS band
      FROM peru
    ),
    g AS MATERIALIZED (
      SELECT band, count(*) AS n_d,
        sum(t) AS nt_d, count(*) - sum(t) AS nc_d,
        sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS yt_d,
        sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS yc_d
      FROM banded GROUP BY band
    ),
    ok AS (SELECT * FROM g WHERE nt_d > 0 AND nc_d > 0),
    terms AS (
      SELECT sum(n_d) AS n_ok, count(*) AS bands_used,
        sum(nt_d) AS nt, sum(nc_d) AS nc,
        sum(yt_d) AS yt, sum(yc_d) AS yc,
        sum((yt_d::HUGEINT * n_d * 1000000) // nt_d) AS wt,
        sum((yc_d::HUGEINT * n_d * 1000000) // nc_d) AS wc
      FROM ok
    )
    SELECT CAST(n_ok AS BIGINT) AS n_users,
      CAST(bands_used AS BIGINT) AS bands_used,
      CAST(nt AS BIGINT) AS n_treated,
      CAST((yt * 1000000) // nt - (yc * 1000000) // nc AS BIGINT)
        AS naive_diff_microcents,
      CAST(wt // n_ok - wc // n_ok AS BIGINT) AS ipw_ate_microcents
    FROM terms
    """,
)
def q_ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERSE-PROPENSITY-WEIGHTED treatment effect (Horvitz–Thompson /
    Hájek): the observational-causal estimate of "does signing up
    change purchase spend", confounded by ACTIVITY (active users both
    sign up more and buy more).  Stratify on band = ⌊log2(events)⌋,
    estimate the propensity per band as nt_d/n_d, and reweight each
    stratum to the full population: mean_T = Σ_d Yt_d·n_d/nt_d / Σn_d
    (the Hájek form — band weights sum exactly to the population).
    Bands violating positivity (no treated or no control) are DROPPED,
    the standard trimming rule, and reported via bands_used.  The
    naive difference rides along so the confounding bias is visible.

    Exactness: per-band terms Yt_d·n_d·1e6/nt_d are EXACT floor
    divisions (HUGEINT in DuckDB; the subtract-remainder DECIMAL form
    on Spark — anova_oneway's device), so cross-band aggregation is
    integer arithmetic; ≤1 micro-cent definitional error per band,
    never an engine divergence.  Plan: one user-level aggregate (the
    only full-data shuffle), then band-level frames of ~20 rows."""
    e = read_table(spark, sf_dir, "events")
    peru = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("t"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        ).alias("y"),
    )
    banded = peru.withColumn(
        "band",
        F.floor(F.log2(F.col("n_events").cast("double"))).cast("bigint"),
    )
    g = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum("t").alias("nt_d"),
        (F.count(F.lit(1)) - F.sum("t")).alias("nc_d"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias(
            "yt_d"
        ),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias(
            "yc_d"
        ),
    )
    ok = g.filter((F.col("nt_d") > 0) & (F.col("nc_d") > 0))
    wt_term = _FDIV.format(
        a="cast(yt_d as decimal(38,0)) * n_d * 1000000", b="nt_d"
    )
    wc_term = _FDIV.format(
        a="cast(yc_d as decimal(38,0)) * n_d * 1000000", b="nc_d"
    )
    terms = ok.agg(
        F.sum("n_d").alias("n_ok"),
        F.count(F.lit(1)).alias("bands_used"),
        F.sum("nt_d").alias("nt"),
        F.sum("nc_d").alias("nc"),
        F.sum("yt_d").alias("yt"),
        F.sum("yc_d").alias("yc"),
        F.sum(F.expr(wt_term)).alias("wt"),
        F.sum(F.expr(wc_term)).alias("wc"),
    )
    naive = F.expr(
        "(yt * 1000000) div nt - (yc * 1000000) div nc"
    ).cast("bigint")
    ipw = (
        F.expr(_FDIV.format(a="wt", b="n_ok"))
        - F.expr(_FDIV.format(a="wc", b="n_ok"))
    ).cast("bigint")
    return terms.select(
        F.col("n_ok").cast("bigint").alias("n_users"),
        F.col("bands_used").cast("bigint").alias("bands_used"),
        F.col("nt").cast("bigint").alias("n_treated"),
        naive.alias("naive_diff_microcents"),
        ipw.alias("ipw_ate_microcents"),
    )


# ---------------------------------------------------------------------------
# revenue_concentration — per-year Gini coefficient + top-decile share
# ---------------------------------------------------------------------------


@query(
    "revenue_concentration",
    oracle="""
    WITH ranked AS MATERIALIZED (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x,
             row_number() OVER (PARTITION BY year(o_orderdate)
               ORDER BY round(o_totalprice * 100), o_orderkey) AS i,
             count(*) OVER (PARTITION BY year(o_orderdate)) AS n
      FROM orders
    ),
    agg AS (
      SELECT yr, max(n) AS n,
        sum(x) AS s,
        sum(CAST(i AS HUGEINT) * x) AS ix,
        sum(CASE WHEN i > n - n // 10 THEN x ELSE 0 END) AS s_top
      FROM ranked GROUP BY yr
    )
    SELECT yr, CAST(n AS BIGINT) AS n_orders,
      CAST(s AS BIGINT) AS total_cents,
      CAST(floor(1e6
        * (2 * CAST(ix AS DOUBLE) - (n + 1) * CAST(s AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))) AS BIGINT)
        AS gini_micro,
      CAST((s_top * 1000000) // s AS BIGINT) AS top_decile_share_ppm
    FROM agg
    """,
)
def q_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REVENUE CONCENTRATION per year: the exact Gini coefficient of
    order values (G = (2Σi·x_i − (n+1)Σx)/(nΣx) over ascending ranks)
    plus the top-decile revenue share — the whale-dependence metrics
    behind "how concentrated is our business" and dataset-skew
    reports (the same statistic measures token/source imbalance when
    pointed at a corpus).

    Ranks come from a YEAR-partitioned window (the rolling_correlation
    parallelism discipline — never one global sort), with an orderkey
    tie-break so equal values rank identically on both engines; Σi·x
    accumulates exactly as DECIMAL(38,0)/HUGEINT; the Gini is ONE
    IEEE chain on exact sums, the decile share pure integer ppm."""
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("int").alias("yr"),
        cents(F.col("o_totalprice")).alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    wr = Window.partitionBy("yr").orderBy("x", "k")
    wn = Window.partitionBy("yr")
    ranked = base.select(
        "yr",
        "x",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("yr").agg(
        F.max("n").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i").cast(dec) * F.col("x")).alias("ix"),
        F.sum(
            F.when(
                F.col("i") > F.col("n") - F.expr("n div 10"), F.col("x")
            ).otherwise(0)
        ).alias("s_top"),
    )
    gini = F.floor(
        F.lit(1e6)
        * (
            2 * F.col("ix").cast("double")
            - (F.col("n") + 1).cast("double") * F.col("s").cast("double")
        )
        / (F.col("n").cast("double") * F.col("s").cast("double"))
    ).cast("bigint")
    return agg.select(
        "yr",
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("s").cast("bigint").alias("total_cents"),
        gini.alias("gini_micro"),
        F.expr("(s_top * 1000000) div s")
        .cast("bigint")
        .alias("top_decile_share_ppm"),
    )
