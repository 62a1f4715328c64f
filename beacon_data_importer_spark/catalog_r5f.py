"""Round-5f catalog tier: weighted graphs, multiple-testing control,
conformal prediction, calendar analytics, queueing audit, and
deterministic differential-privacy noise —

* ``weighted_sssp`` — single-source shortest paths with INTEGER edge
  costs (Bellman-Ford min-plus rounds) over the staged co-purchase
  graph; the weighted generalization of ``bfs_hops``.
* ``fdr_bh_audit`` — Benjamini-Hochberg step-up control over 25
  per-nation two-proportion z-tests, run ENTIRELY in the exact
  integer domain against a pre-quantized normal-quantile table.
* ``conformal_interval_audit`` — group-conditional split-conformal
  prediction intervals for ship latency with exact order-statistic
  calibration and integer coverage accounting.
* ``business_day_latency`` — order→ship latency in BUSINESS days via
  the closed-form weekday-counting function (no calendar explode).
* ``littles_law_audit`` — per-year L = λW balance of the order
  system: time-integral of open orders vs arrival-rate × mean
  duration, with the boundary carryover surfaced as the exact diff.
* ``dp_noisy_counts`` — ε-differential-privacy Laplace noise on
  per-nation counts, derandomized through the portable hash so both
  engines draw the identical noise (a calibration audit of the noise
  a DP release would add).

Same parity discipline as catalog.py (cents trick, floor(x*1e6),
portable md5 hash64, per-term floored ``ln`` — the kaplan_meier
precedent — and exact floor division via ``div`` / ``//`` on
non-negative operands only).  All extras; marked "rotation candidate
for round 6".
"""

from __future__ import annotations

import math
from datetime import date
from statistics import NormalDist

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .catalog_r2 import _duck_hash64
from .functions.expressions import portable_hash64
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# weighted_sssp — Bellman-Ford over the weighted co-purchase graph
# ---------------------------------------------------------------------------

_SSSP_ROUNDS = 6
# integer edge cost: strong ties (many shared parts) are cheap to cross
_SSSP_W = "greatest(1, 6 - shared)"


def _duck_sssp_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS MATERIALIZED (
      SELECT v, min(d) AS d FROM (
        SELECT v, d FROM {prev}
        UNION ALL
        SELECT e.b AS v, p.d + e.w AS d
        FROM {prev} p JOIN edges e ON e.a = p.v
      ) u GROUP BY v
    )"""


@query(
    "weighted_sssp",
    oracle=f"""
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    und AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b, count(*) AS shared
      FROM cp x JOIN cp y ON x.p = y.p AND x.c < y.c
      GROUP BY x.c, y.c
      HAVING count(*) >= 3
    ),
    edges AS MATERIALIZED (
      SELECT a, b, {_SSSP_W} AS w FROM und
      UNION ALL
      SELECT b AS a, a AS b, {_SSSP_W} AS w FROM und
    ),
    src AS (SELECT min(a) AS s FROM edges),
    d0 AS MATERIALIZED (SELECT s AS v, 0 AS d FROM src),
    {",".join(_duck_sssp_iter(f"d{i}", f"d{i + 1}") for i in range(_SSSP_ROUNDS))}
    SELECT CAST(d AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
    FROM d{_SSSP_ROUNDS} GROUP BY d
    """,
)
def q_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths with INTEGER edge weights from the
    minimum vertex of the customer co-purchase graph: cost
    ``greatest(1, 6 − shared)`` makes strongly-tied pairs cheap, and
    {r} unrolled Bellman-Ford relaxations compute
    dist′ = min(dist, min over in-edges dist + w) — the weighted
    generalization of ``bfs_hops``'s min-plus rounds (nodes whose true
    distance needs more than {r} relaxations stay unreported — the
    same bounded-rounds contract, honest at any scale because both
    engines run the identical rounds).  Output: nodes per distance.

    Plan: the weighted edge list is the SAME staged pair expansion the
    unweighted graph queries share (``plans/co_purchase.py`` now keeps
    the shared-part count as an edge attribute — one expansion, every
    graph consumer); each round is one join + one min-agg on the
    vertex key, so at cluster scale the frontier shuffles on v and the
    per-round materialization doctrine of operators/graph.py applies
    unchanged.  The oracle replays the identical rounds as chained
    CTEs.

    Reference parity: beyond-reference graph tier (the reference has
    no graph surface); weight derivation documented above."""
    from .plans.co_purchase import co_purchase_edges_weighted

    und = co_purchase_edges_weighted(spark, sf_dir)
    w = F.expr(_SSSP_W)
    edges = und.select("a", "b", w.alias("w")).unionByName(
        und.select(
            F.col("b").alias("a"), F.col("a").alias("b"), w.alias("w")
        )
    )
    src = edges.agg(F.min("a").alias("s"))
    dist = src.select(F.col("s").alias("v"), F.lit(0).alias("d"))
    # Each round is MATERIALIZED (localCheckpoint), not left to lazy
    # lineage: PERF.md's weighted_sssp probe measured the unrolled plan
    # compounding catastrophically for this join-expansion shape
    # (1×/sf0.1: 2.3 s at 6 rounds but 329 s at 12, vs flat
    # ~0.2 s/round materialized) — the frontier EXPANDS for
    # diameter-many rounds, so the CC doctrine's ~16-round switch
    # point (operators/graph.py) does not transfer; SSSP's is ≤4.
    for _ in range(_SSSP_ROUNDS):
        expanded = dist.unionByName(
            dist.join(edges, dist["v"] == edges["a"]).select(
                F.col("b").alias("v"), (F.col("d") + F.col("w")).alias("d")
            )
        )
        dist = expanded.groupBy("v").agg(F.min("d").alias("d")).localCheckpoint()
    return dist.groupBy(F.col("d").cast("bigint").alias("dist")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


q_weighted_sssp.__doc__ = (q_weighted_sssp.__doc__ or "").format(
    r=_SSSP_ROUNDS
)


# ---------------------------------------------------------------------------
# fdr_bh_audit — Benjamini-Hochberg over per-nation two-proportion tests
# ---------------------------------------------------------------------------

_BH_Q_NUM, _BH_Q_DEN = 1, 10  # q = 0.10
_BH_MAX_M = 25  # nations per TPC-H schema — the table covers any m ≤ 25

#: (m, i) → floor(1e6 · Φ⁻¹(1 − q·i/(2m))): the |z| threshold equivalent
#: to BH's p(i) ≤ q·i/m under the two-sided normal p-value.  Computed
#: once from the stdlib NormalDist and embedded as LITERALS in both
#: engines' plans, so the comparison is pure integer — no erf/Φ parity
#: risk anywhere.  Flooring makes each threshold at most 1e-6 liberal;
#: both engines share the identical floor so parity is unconditional.
_BH_TABLE: list[tuple[int, int, int]] = [
    (
        m,
        i,
        int(
            math.floor(
                NormalDist().inv_cdf(
                    1.0 - (_BH_Q_NUM * i) / (2.0 * m * _BH_Q_DEN)
                )
                * 1e6
            )
        ),
    )
    for m in range(1, _BH_MAX_M + 1)
    for i in range(1, m + 1)
]

_BH_VALUES_SQL = ", ".join(f"({m}, {i}, {t})" for m, i, t in _BH_TABLE)


@query(
    "fdr_bh_audit",
    oracle=f"""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_custkey,
             max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey
    ),
    arms AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 0 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN c.c_custkey % 2 = 1 THEN ret ELSE 0 END)
                  AS BIGINT) AS c_b
      FROM per_order p JOIN customer c ON c.c_custkey = p.o_custkey
      GROUP BY c.c_nationkey
    ),
    z AS (
      SELECT nationkey, n_a, c_a, n_b, c_b,
             CAST(floor(abs(
               (CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / sqrt(
                   (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(c_a + c_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))
                 )
             ) * 1e6) AS BIGINT) AS z_abs_e6
      FROM arms
      WHERE n_a > 0 AND n_b > 0
        AND c_a + c_b > 0 AND c_a + c_b < n_a + n_b
    ),
    ranked AS (
      SELECT z.*,
             CAST(row_number() OVER (ORDER BY z_abs_e6 DESC, nationkey)
                  AS BIGINT) AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM z
    ),
    flagged AS (
      SELECT r.*, b.thr_e6,
             CASE WHEN r.z_abs_e6 >= b.thr_e6 THEN r.p_rank ELSE 0 END AS ok_i
      FROM ranked r
      JOIN (VALUES {_BH_VALUES_SQL}) AS b(m, i, thr_e6)
        ON b.m = r.m_tests AND b.i = r.p_rank
    )
    SELECT nationkey, n_a, c_a, n_b, c_b, z_abs_e6, p_rank, m_tests,
           CAST(thr_e6 AS BIGINT) AS thr_e6,
           CAST(CASE WHEN p_rank <= max(ok_i) OVER () THEN 1 ELSE 0 END
                AS INT) AS rejected
    FROM flagged
    """,
)
def q_fdr_bh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FALSE-DISCOVERY-RATE control (q = 0.10) over
    m ≤ 25 simultaneous per-nation two-proportion z-tests (even- vs
    odd-custkey arms, conversion = any returned line on the order) —
    the multiple-testing correction every experimentation platform
    needs the moment it runs more than one A/B readout.

    The entire step-up rule runs in the EXACT integer domain: each z
    is IEEE-exact arithmetic over integer counts (the ab_test_ztest
    discipline — only correctly-rounded ops), |z| is floored to
    micro-units, and BH's p(i) ≤ q·i/m comparison becomes
    z_e6(i) ≥ T[m, i] against a pre-quantized normal-quantile table
    embedded as literals in BOTH plans (module constant ``_BH_TABLE``)
    — p-values, erf, and Φ never evaluate at query time, so there is
    no libm parity surface at all.  Rejections are ranks ≤ the largest
    i whose threshold holds (the step-up maximum via one window max).

    Plan: one order-level agg (partial-combined on orderkey), a
    customer broadcast, one nation-level agg, then every window runs
    on the ≤25-row test frame (the sanctioned bounded-frame case).
    The 325-row threshold table broadcasts.  At 100 TB nothing after
    the two aggregations scales with data."""
    per_order = (
        read_table(spark, sf_dir, "lineitem")
        .join(
            read_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ret")
        )
    )
    c = read_table(spark, sf_dir, "customer")
    arms = (
        per_order.join(c, c["c_custkey"] == per_order["o_custkey"])
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum(F.when(F.col("c_custkey") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(
                F.when(F.col("c_custkey") % 2 == 0, F.col("ret")).otherwise(0)
            )
            .cast("bigint")
            .alias("c_a"),
            F.sum(F.when(F.col("c_custkey") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(
                F.when(F.col("c_custkey") % 2 == 1, F.col("ret")).otherwise(0)
            )
            .cast("bigint")
            .alias("c_b"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("c_a").cast("double")
    cb = F.col("c_b").cast("double")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z_abs_e6 = F.floor(
        F.abs(
            (cb / nb - ca / na)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (F.lit(1.0) / na + F.lit(1.0) / nb)
            )
        )
        * F.lit(1e6)
    ).cast("bigint")
    z = arms.filter(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("c_a") + F.col("c_b") > 0)
        & (F.col("c_a") + F.col("c_b") < F.col("n_a") + F.col("n_b"))
    ).select(
        "nationkey", "n_a", "c_a", "n_b", "c_b", z_abs_e6.alias("z_abs_e6")
    )
    w_all = Window.partitionBy()  # ≤25-row test frame: sanctioned
    ranked = z.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("z_abs_e6").desc(), F.col("nationkey")))
        .cast("bigint")
        .alias("p_rank"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m_tests"),
    )
    bh = spark.createDataFrame(_BH_TABLE, "m int, i int, thr_e6 bigint")
    flagged = ranked.join(
        F.broadcast(bh),
        (bh["m"] == ranked["m_tests"]) & (bh["i"] == ranked["p_rank"]),
    ).select(
        ranked["*"],
        bh["thr_e6"],
        F.when(F.col("z_abs_e6") >= bh["thr_e6"], F.col("p_rank"))
        .otherwise(F.lit(0))
        .alias("ok_i"),
    )
    return flagged.select(
        "nationkey",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        "z_abs_e6",
        "p_rank",
        "m_tests",
        "thr_e6",
        F.when(F.col("p_rank") <= F.max("ok_i").over(w_all), 1)
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# conformal_interval_audit — group-conditional split conformal coverage
# ---------------------------------------------------------------------------

_CONF_SEED = 41  # split hash seed; buckets 0-5 train, 6-7 calib, 8-9 test
# The synthetic corpus ships BEFORE ordering (latencies are negative).
# Spark `div` and DuckDB integer `//` BOTH truncate toward zero (so
# cross-engine parity would hold either way — measured, not assumed),
# but truncation of a negative mean is not the floor-mean the conformal
# construction documents (and that any Python `//` reference computes).
# Running the model on y + _CONF_SHIFT ≥ 0 makes truncate == floor:
# floor((Σy + nC)/n) = floor(Σy/n) + C exactly for integer C, so
# residuals are unchanged by the shift.
_CONF_SHIFT = 100000


@query(
    "conformal_interval_audit",
    oracle=f"""
    WITH subj AS (
      SELECT o.o_orderkey, o.o_orderpriority AS grp,
             CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(min(l.l_shipdate) AS DATE)) AS BIGINT) AS y,
             {_duck_hash64("CAST(o.o_orderkey AS VARCHAR)", seed=_CONF_SEED)}
               % 10 AS bucket
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    model AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_train,
             CAST(sum(y + {_CONF_SHIFT}) // count(*) - {_CONF_SHIFT}
                  AS BIGINT) AS pred
      FROM subj WHERE bucket <= 5 GROUP BY grp
    ),
    calib AS (
      SELECT s.grp, abs(s.y - m.pred) AS r, s.o_orderkey
      FROM subj s JOIN model m ON m.grp = s.grp
      WHERE s.bucket IN (6, 7)
    ),
    calib_stats AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
             CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k
      FROM calib GROUP BY grp
    ),
    qhat AS (
      SELECT c.grp, c.r AS qhat_days
      FROM (
        SELECT grp, r,
               row_number() OVER (PARTITION BY grp ORDER BY r, o_orderkey)
                 AS rn
        FROM calib
      ) c JOIN calib_stats cs ON cs.grp = c.grp AND c.rn = cs.k
    ),
    test AS (
      SELECT s.grp, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN abs(s.y - m.pred) <= q.qhat_days
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM subj s
      JOIN model m ON m.grp = s.grp
      JOIN qhat q ON q.grp = s.grp
      WHERE s.bucket >= 8
      GROUP BY s.grp
    )
    SELECT m.grp, m.n_train, m.pred AS pred_days,
           cs.n_cal, cs.k AS k_order_stat,
           CAST(q.qhat_days AS BIGINT) AS qhat_days,
           t.n_test, t.n_covered,
           CAST(t.n_covered * 1000000 // t.n_test AS BIGINT)
             AS coverage_ppm
    FROM model m
    JOIN calib_stats cs ON cs.grp = m.grp
    JOIN qhat q ON q.grp = m.grp
    JOIN test t ON t.grp = m.grp
    """,
)
def q_conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-CONDITIONAL SPLIT-CONFORMAL prediction intervals with an
    exact coverage audit — the distribution-free uncertainty
    quantification modern ML serving attaches to any point model.

    Orders hash-split 60/20/20 (train/calibration/test — the portable
    md5 hash, so every engine recomputes identical splits).  The point
    model is the per-priority integer-mean ship latency (a true
    FLOOR-mean: computed on the ``_CONF_SHIFT``-ed non-negative domain
    where the engines' truncating integer division IS the floor — see
    the constant's comment; every residual stays an exact integer even
    though this corpus's latencies are negative).  Calibration
    takes q̂ = the ⌈(n+1)·0.9⌉-th smallest |residual| per group — the
    finite-sample-valid conformal quantile, computed as an exact order
    statistic (row_number over (residual, orderkey), so ties resolve
    deterministically).  The test split then reports achieved coverage
    in ppm: split-conformal theory guarantees ≥ 900000 in expectation;
    the audit shows what this corpus actually achieves per group.

    Everything is integer: latencies are whole days, the prediction is
    a floor-divided mean, q̂ is a selected element (never interpolated),
    coverage is an integer ppm ratio — zero float parity surface.

    Plan: one orderkey agg builds subjects (localCheckpoint — three
    splits consume it), the 5-row model and q̂ frames broadcast back,
    and the only per-row work after the first exchange is a hash and a
    comparison.  At 100 TB: two shuffles total (orderkey agg, group
    agg); calibration's per-group sort runs on the 20% split
    partitioned by group."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    subj = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.col("o_orderkey"),
            F.col("o_orderpriority").alias("grp"),
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("bigint")
            .alias("y"),
            (
                portable_hash64(
                    F.col("o_orderkey").cast("string"), seed=_CONF_SEED
                )
                % 10
            ).alias("bucket"),
        )
        .localCheckpoint()  # consumed by all three splits
    )
    model = (
        subj.filter(F.col("bucket") <= 5)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr(f"sum(y + {_CONF_SHIFT}) div count(*) - {_CONF_SHIFT}")
            .cast("bigint")
            .alias("pred"),
        )
    )
    calib = (
        subj.filter(F.col("bucket").isin(6, 7))
        .join(F.broadcast(model), "grp")
        .select(
            "grp", F.abs(F.col("y") - F.col("pred")).alias("r"), "o_orderkey"
        )
    )
    calib_stats = calib.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr("((count(*) + 1) * 9 + 9) div 10").cast("bigint").alias("k"),
    )
    rn = F.row_number().over(
        Window.partitionBy("grp").orderBy("r", "o_orderkey")
    )
    qhat = (
        calib.select("grp", "r", rn.alias("rn"))
        .join(
            F.broadcast(calib_stats),
            ["grp"],
        )
        .filter(F.col("rn") == F.col("k"))
        .select("grp", F.col("r").alias("qhat_days"))
    )
    test = (
        subj.filter(F.col("bucket") >= 8)
        .join(F.broadcast(model.select("grp", "pred")), "grp")
        .join(F.broadcast(qhat), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("pred")) <= F.col("qhat_days"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        model.join(calib_stats, "grp")
        .join(qhat, "grp")
        .join(test, "grp")
        .select(
            "grp",
            "n_train",
            F.col("pred").alias("pred_days"),
            "n_cal",
            F.col("k").alias("k_order_stat"),
            F.col("qhat_days").cast("bigint").alias("qhat_days"),
            "n_test",
            "n_covered",
            F.expr("n_covered * 1000000 div n_test")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# business_day_latency — closed-form weekday counting
# ---------------------------------------------------------------------------

# Monday anchor: 1991-12-30 is a Monday, and every corpus date is after
# it, so day offsets are non-negative and div/% floor identically on
# both engines.  W(d) = weekdays in [anchor, d).
_BUS_ANCHOR = "1991-12-30"


def _duck_busdays(col: str) -> str:
    n = f"datediff('day', DATE '{_BUS_ANCHOR}', CAST({col} AS DATE))"
    return f"(5 * ({n} // 7) + least({n} % 7, 5))"


@query(
    "business_day_latency",
    oracle=f"""
    WITH per_order AS (
      SELECT o.o_orderpriority AS priority,
             CAST({_duck_busdays("min(l.l_shipdate)")}
                  - {_duck_busdays("o.o_orderdate")} AS BIGINT) AS busdays
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(busdays) AS BIGINT) AS sum_busdays,
           CAST(sum(busdays) * 1000000 // count(*) AS BIGINT)
             AS mean_busdays_ppm,
           CAST(max(busdays) AS BIGINT) AS max_busdays
    FROM per_order GROUP BY priority
    """,
)
def q_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→first-shipment latency in BUSINESS days (weekends
    excluded) per order priority, via the CLOSED-FORM weekday counter:
    W(d) = 5·⌊n/7⌋ + min(n mod 7, 5) with n = days since a Monday
    anchor counts the weekdays in [anchor, d), so the latency is just
    W(ship) − W(order) — no calendar-table explode, no per-day
    iteration, one arithmetic expression per row (the device every SLA
    report needs at scale; a dim_date join would shuffle a calendar
    against every row instead).

    All integers: the anchor precedes every corpus date, so W's day
    offsets are non-negative and its division is floor == truncate on
    both engines.  The mean ppm divides a possibly-NEGATIVE sum (this
    corpus ships before ordering): Spark ``div`` and DuckDB integer
    ``//`` both truncate toward zero (verified, not assumed — see
    catalog_r5f's ``_CONF_SHIFT`` note), so the ratio is exact
    truncate-toward-zero ppm on either engine.

    Plan: one orderkey agg (first shipment), then one 5-group agg —
    map-side combine on both; nothing after the first exchange scales
    with lineitem count."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            (
                _spark_busdays("first_ship") - _spark_busdays("o_orderdate")
            )
            .cast("bigint")
            .alias("busdays"),
        )
    )
    return per_order.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("busdays").cast("bigint").alias("sum_busdays"),
        F.expr("sum(busdays) * 1000000 div count(*)")
        .cast("bigint")
        .alias("mean_busdays_ppm"),
        F.max("busdays").cast("bigint").alias("max_busdays"),
    )


def _spark_busdays(col: str):
    """Closed-form weekday count W(col) as a Spark Column (see
    q_business_day_latency docstring)."""
    n = f"datediff(cast({col} as date), date'{_BUS_ANCHOR}')"
    return F.expr(f"5 * ({n} div 7) + least({n} % 7, 5)")


# ---------------------------------------------------------------------------
# littles_law_audit — per-year L = λW balance with exact carryover
# ---------------------------------------------------------------------------

_LL_EPOCH = date(1992, 1, 1)
#: (year, first day-offset, last day-offset, days in year) as literals —
#: computed once in Python from the proleptic calendar, so neither
#: engine evaluates any date function on the year dimension.
_LL_YEARS: list[tuple[int, int, int, int]] = [
    (
        y,
        (date(y, 1, 1) - _LL_EPOCH).days,
        (date(y, 12, 31) - _LL_EPOCH).days,
        (date(y, 12, 31) - date(y, 1, 1)).days + 1,
    )
    # covers the corpus horizon (orders 1995-2001, shipments into 2002)
    # with margin on both sides so no span is ever clipped — the
    # global-balance test asserts exactly that
    for y in range(1992, 2005)
]

_LL_VALUES_SQL = ", ".join(
    f"({y}, {ys}, {ye}, {nd})" for y, ys, ye, nd in _LL_YEARS
)


@query(
    "littles_law_audit",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(datediff('day', DATE '1992-01-01',
                           CAST(o.o_orderdate AS DATE)) AS BIGINT) AS a,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(max(l.l_shipdate) AS DATE)) AS BIGINT) AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    span AS (
      SELECT least(a, b) AS d0, greatest(a, b) AS d1 FROM raw
    ),
    per_year AS (
      SELECT yr.y,
             yr.nd,
             greatest(0, least(s.d1, yr.ye) - greatest(s.d0, yr.ys) + 1)
               AS overlap,
             CASE WHEN s.d0 BETWEEN yr.ys AND yr.ye THEN 1 ELSE 0 END
               AS started,
             CASE WHEN s.d0 BETWEEN yr.ys AND yr.ye THEN s.d1 - s.d0 + 1
                  ELSE 0 END AS dur
      FROM span s
      JOIN (VALUES {_LL_VALUES_SQL}) AS yr(y, ys, ye, nd)
        ON s.d1 >= yr.ys AND s.d0 <= yr.ye
    )
    SELECT CAST(y AS INT) AS year,
           CAST(sum(overlap) AS BIGINT) AS open_day_integral,
           CAST(sum(started) AS BIGINT) AS n_arrivals,
           CAST(sum(dur) AS BIGINT) AS sum_durations,
           CAST(sum(overlap) * 1000000 // max(nd) AS BIGINT) AS l_avg_e6,
           CAST(sum(dur) * 1000000 // max(nd) AS BIGINT)
             AS lambda_w_e6,
           CAST(sum(overlap) * 1000000 // max(nd)
                - sum(dur) * 1000000 // max(nd) AS BIGINT)
             AS carryover_e6
    FROM per_year GROUP BY y
    """,
)
def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit of the order system, per calendar year:
    the time-integral of concurrently-open orders (L̄ · days) against
    arrival-count × mean duration (λ · W̄ · days) — the queueing
    identity L = λW that holds EXACTLY over the full horizon and whose
    per-year residual is precisely the work carried across year
    boundaries (orders open at New Year).  A monitoring rule built on
    this identity detects instrumentation bugs (lost close events,
    double-counted arrivals) without any model.

    Spans are the order's ACTIVITY window — least/greatest of (order
    date, last shipment), since ~21% of this synthetic corpus ships
    before ordering (same convention as ``max_concurrent_orders``, so
    the two queries audit the same system).  Computation is one
    interval-overlap join of order spans against an
    8-row literal year table (embedded as Python-computed day offsets
    — neither engine runs a date function on the year dimension):
    overlap = max(0, min(d1, ye) − max(d0, ys) + 1) accumulates the
    integral; the same pass counts arrivals and their durations, so
    integral, λW, and the carryover residual come from ONE shuffle.
    All integers; ratios are exact floor-divided e6 units.

    Companion to ``max_concurrent_orders``: that query produces the
    daily concurrency PROFILE via the sweep line; this one audits its
    yearly INTEGRAL against the closed-form identity — the two must
    agree, and the oracle proves each independently."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1992-01-01").cast("date")
    a = F.datediff(F.col("o_orderdate").cast("date"), epoch).cast("bigint")
    b = F.datediff(F.col("close_ts").cast("date"), epoch).cast("bigint")
    span = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("close_ts"))
        .select(
            F.least(a, b).alias("d0"),
            F.greatest(a, b).alias("d1"),
        )
    )
    years = spark.createDataFrame(
        _LL_YEARS, "y int, ys bigint, ye bigint, nd bigint"
    )
    per_year = span.join(
        F.broadcast(years),
        (span["d1"] >= years["ys"]) & (span["d0"] <= years["ye"]),
    ).select(
        "y",
        "nd",
        F.greatest(
            F.lit(0),
            F.least(F.col("d1"), F.col("ye"))
            - F.greatest(F.col("d0"), F.col("ys"))
            + 1,
        ).alias("overlap"),
        F.when(
            (F.col("d0") >= F.col("ys")) & (F.col("d0") <= F.col("ye")), 1
        )
        .otherwise(0)
        .alias("started"),
        F.when(
            (F.col("d0") >= F.col("ys")) & (F.col("d0") <= F.col("ye")),
            F.col("d1") - F.col("d0") + 1,
        )
        .otherwise(0)
        .alias("dur"),
    )
    return per_year.groupBy(F.col("y").cast("int").alias("year")).agg(
        F.sum("overlap").cast("bigint").alias("open_day_integral"),
        F.sum("started").cast("bigint").alias("n_arrivals"),
        F.sum("dur").cast("bigint").alias("sum_durations"),
        F.expr("sum(overlap) * 1000000 div max(nd)")
        .cast("bigint")
        .alias("l_avg_e6"),
        F.expr("sum(dur) * 1000000 div max(nd)")
        .cast("bigint")
        .alias("lambda_w_e6"),
        F.expr(
            "sum(overlap) * 1000000 div max(nd)"
            " - sum(dur) * 1000000 div max(nd)"
        )
        .cast("bigint")
        .alias("carryover_e6"),
    )


# ---------------------------------------------------------------------------
# dp_noisy_counts — derandomized ε-DP Laplace noise calibration audit
# ---------------------------------------------------------------------------

_DP_SEED = 77


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
      SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_true
      FROM customer GROUP BY c_nationkey
    ),
    seeded AS (
      SELECT nationkey, n_true,
             ({_duck_hash64("CAST(nationkey AS VARCHAR)", seed=_DP_SEED)}
              % 1000000) AS k
      FROM counts
    ),
    noise AS (
      SELECT nationkey, n_true, k,
             CAST(floor(1e6 * ln(
               1.0 - 2.0 * abs((CAST(k AS DOUBLE) + 0.5) / 1000000.0 - 0.5)
             )) AS BIGINT) AS term
      FROM seeded
    )
    SELECT nationkey, n_true,
           CAST(CASE WHEN k >= 500000 THEN -term ELSE term END AS BIGINT)
             AS noise_e6,
           CAST(n_true * 1000000
                + CASE WHEN k >= 500000 THEN -term ELSE term END AS BIGINT)
             AS noisy_count_e6
    FROM noise
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DIFFERENTIAL-PRIVACY Laplace noise calibration for per-nation
    customer counts (ε = 1, sensitivity 1 ⇒ scale b = 1), DERANDOMIZED
    so both engines draw the identical noise: the uniform is
    u = (hash64(key) mod 1e6 + 0.5)/1e6 from the portable md5 hash and
    the draw is the Laplace inverse-CDF
    noise = −b · sgn(u−½) · ln(1 − 2|u−½|).  A real release would use
    a sealed random seed; the AUDIT needs reproducible noise so the
    error the release adds (noise_e6 vs n_true) is itself testable —
    the companion to ``k_anonymity_audit``: that one measures
    re-identification risk, this one measures the utility cost of the
    countermeasure.

    Parity: the single ``ln`` evaluates on bit-identical arguments
    (integer hash → exact IEEE steps) and its output is floored to
    micro-units per row before any further arithmetic — the
    kaplan_meier per-term device; sign selection and the final sums
    are pure integer.

    Plan: one map-side-combined groupBy; the noise math is constant
    work on the ≤25-row result.  At 100 TB the audit costs exactly the
    aggregation it audits."""
    counts = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    )
    k = portable_hash64(F.col("nationkey").cast("string"), seed=_DP_SEED) % 1000000
    seeded = counts.select("nationkey", "n_true", k.alias("k"))
    term = F.floor(
        F.lit(1e6)
        * F.log(
            F.lit(1.0)
            - F.lit(2.0)
            * F.abs(
                (F.col("k").cast("double") + F.lit(0.5)) / F.lit(1000000.0)
                - F.lit(0.5)
            )
        )
    ).cast("bigint")
    noise = seeded.select("nationkey", "n_true", "k", term.alias("term"))
    signed = F.when(F.col("k") >= 500000, -F.col("term")).otherwise(
        F.col("term")
    )
    return noise.select(
        "nationkey",
        "n_true",
        signed.cast("bigint").alias("noise_e6"),
        (F.col("n_true") * 1000000 + signed)
        .cast("bigint")
        .alias("noisy_count_e6"),
    )
