"""Additional operator coverage: join families the reference lacks
(semi/anti/as-of/range), distinct aggregation, top-k per group, hopping
windows, exact quantiles, and vector LSH (random-hyperplane) near-dup +
IVF search — all DuckDB-oracle-checked.

Random hyperplanes are generated deterministically in Python from md5
parity, so the SAME literal plane vectors are embedded in the Spark plan
and the oracle SQL (no RNG, resume-safe).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .operators import similarity as SIM
from .sources.parquet import read_table, read_table_parallel, register_views

# ---------------------------------------------------------------------------
# join families
# ---------------------------------------------------------------------------

@query(
    "semi_join",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — SURVEY §2.4 notes the reference has no
    semi/anti family; Spark covers it natively."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name")
    )


@query(
    "asof_join",
    oracle="""
    SELECT orderkey, custkey, asof_event, asof_ts FROM (
      SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
             e.event_id AS asof_event, e.ts AS asof_ts,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      LEFT JOIN events e
        ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    ) t WHERE rn = 1
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each order picks the latest event of the same
    user at-or-before the order date (composition of a non-equi join +
    per-key top-1 window — the Spark-native as-of pattern).

    Scale note: the equality conjunct (user_id = custkey) keys the
    shuffle, so the non-equi part only fans out within a key's group —
    not a cross join."""
    o = read_table(spark, sf_dir, "orders")
    e = read_table(spark, sf_dir, "events")
    joined = o.join(
        e,
        (e.user_id == o.o_custkey) & (e.ts <= o.o_orderdate),
        "left",
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("event_id").alias("asof_event"),
            F.col("ts").alias("asof_ts"),
        )
    )


@query(
    "range_join_pairs",
    oracle="""
    SELECT e1.user_id, count(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_id < e2.event_id
     AND abs(epoch(e2.ts) - epoch(e1.ts)) <= 300
    GROUP BY e1.user_id
    """,
)
def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join: same-user event pairs within 5
    minutes.  Equality on user_id keys the shuffle; the range predicate
    filters within groups."""
    e = read_table(spark, sf_dir, "events")
    e1 = e.select(
        F.col("user_id"), F.col("event_id").alias("id1"), F.col("ts").alias("ts1")
    )
    e2 = e.select(
        F.col("user_id"), F.col("event_id").alias("id2"), F.col("ts").alias("ts2")
    )
    pairs = e1.join(
        e2,
        ["user_id"],
    ).filter(
        (F.col("id1") < F.col("id2"))
        # |ts2-ts1| <= 300s as a two-sided interval predicate: works for
        # both TIMESTAMP and TIMESTAMP_NTZ columns, timezone-free
        & (F.col("ts2") >= F.col("ts1") - F.expr("INTERVAL 300 SECOND"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 300 SECOND"))
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# aggregation families
# ---------------------------------------------------------------------------

@query(
    "distinct_count",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation (expand + two-phase agg under the hood)."""
    c = read_table(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                        o_orderkey) AS rk
      FROM orders
    ) t WHERE rk <= 2
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer — per-group top-k via ranked window (the
    distributed replacement for per-key heaps)."""
    o = read_table(spark, sf_dir, "orders")
    price = cents(F.col("o_totalprice"))
    w = Window.partitionBy("o_custkey").orderBy(price.desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            price.alias("price_cents"),
            F.col("rk"),
        )
    )


@query(
    "exact_quantiles",
    oracle="""
    SELECT l_returnflag AS returnflag,
      CAST(floor(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT)
        AS median_qty_cents,
      CAST(floor(quantile_cont(l_extendedprice, 0.9) * 100) AS BIGINT)
        AS p90_price_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation quantiles (Spark ``percentile`` ↔
    DuckDB ``quantile_cont``), integerized via floor-micro-cents.  At
    scale the approx_percentile sketch is the right tool; the exact form
    is the correctness baseline."""
    l = read_table(spark, sf_dir, "lineitem")
    return l.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.floor(F.expr("percentile(l_quantity, 0.5)") * 100)
        .cast("bigint")
        .alias("median_qty_cents"),
        F.floor(F.expr("percentile(l_extendedprice, 0.9)") * 100)
        .cast("bigint")
        .alias("p90_price_cents"),
    )


@query(
    "hopping_window",
    oracle="""
    WITH contrib AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
             event_type
      FROM events
    )
    SELECT w AS window_start, event_type, count(*) AS n_events
    FROM contrib GROUP BY w, event_type
    """,
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window: 1h length, 30min hop — each
    event lands in two windows (native F.window fan-out)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


# ---------------------------------------------------------------------------
# vector LSH (random hyperplanes) + IVF search
# ---------------------------------------------------------------------------

N_PLANES = 8
DIM = 64


def _plane(p: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 parity — identical literals
    on both engines."""
    return [
        1.0 if int(hashlib.md5(f"{p}|{i}".encode()).hexdigest(), 16) % 2 else -1.0
        for i in range(DIM)
    ]


PLANES = [_plane(p) for p in range(N_PLANES)]


def _duck_bucket() -> str:
    bits = []
    for p in range(N_PLANES):
        lit = "[" + ",".join(str(x) for x in PLANES[p]) + "]"
        bits.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}::DOUBLE[]) >= 0 "
            "THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def _spark_bucket() -> F.Column:
    bits = []
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(x) for x in PLANES[p]])
        bits.append(
            F.when(SIM.dot(F.col("embedding"), plane) >= 0, "1").otherwise("0")
        )
    return F.concat(*bits)


@query(
    "vector_lsh_near_dup",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_duck_bucket()} AS bucket FROM embeddings
    )
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
      CAST(floor(
        list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[])) *
           sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[])))
        * 1e6) AS BIGINT) AS cosine_sim_e6
    FROM b l JOIN b r
      ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    """,
)
def q_vector_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH: 8 sign bits bucket
    the corpus; exact cosine only within buckets.  The O(n²) pair space
    shrinks to same-bucket pairs (expected n²/2^bits)."""
    e = read_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _spark_bucket().alias("bucket"))
    left = b.select(
        F.col("bucket"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
    )
    right = b.select(
        F.col("bucket"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = left.join(right, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.floor(SIM.cosine("emb_a", "emb_b") * 1e6).alias("cosine_sim_e6"),
    )


@query(
    "ivf_search",
    oracle="""
    WITH cent AS (SELECT vec_id AS cell_id, embedding AS cvec
                  FROM embeddings WHERE vec_id % 100 = 0),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_dot_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) /
              (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
               sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))) DESC,
            c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) t WHERE rn = 1
    ),
    qcells AS (SELECT cell_id FROM (
        SELECT c.cell_id,
          row_number() OVER (ORDER BY
            list_dot_product(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) /
              (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
               sqrt(list_dot_product(c.cvec::DOUBLE[], c.cvec::DOUBLE[]))) DESC,
            c.cell_id) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id = 0
      ) t WHERE rn <= 2
    ),
    cand AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN assign a ON a.vec_id = e.vec_id
      WHERE a.cell_id IN (SELECT cell_id FROM qcells) AND e.vec_id != 0
    )
    SELECT c.vec_id AS neighbor_id,
      CAST(floor(
        list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
           sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))
        * 1e6) AS BIGINT) AS cosine_sim_e6
    FROM cand c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY
      list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
         sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) DESC,
      c.vec_id
    LIMIT 10
    """,
)
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF query path: probe the 2 nearest cells for the query vector and
    exact-rank only their members — the nprobe/cells fraction of the
    corpus is scanned instead of all of it."""
    e = read_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    # assign_cells returns the full corpus columns + cell_id, so the
    # candidate set needs NO corpus self-join — just a broadcast semi
    # join against the probed cells (an earlier form re-joined the
    # corpus on vec_id: a full-corpus shuffle for nothing).  The
    # repartition parallelizes the fold across cores locally
    # (single-file scan = one split; no-op on a many-split source).
    # r12: split-gated (sources/parquet.read_table_parallel) — the
    # explicit repartition exists only when the source is under-split
    corpus = read_table_parallel(spark, sf_dir, "embeddings")
    assigned = SIM.assign_cells(corpus, centroids).select(
        "vec_id", "embedding", "cell_id"
    )

    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    scored_cells = centroids.crossJoin(F.broadcast(qvec)).select(
        "cell_id", SIM.cosine("centroid", "qemb").alias("__s")
    )
    wq = Window.orderBy(F.col("__s").desc(), F.col("cell_id"))
    qcells = (
        scored_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select("cell_id")
    )

    cand = assigned.join(F.broadcast(qcells), "cell_id", "left_semi").filter(
        F.col("vec_id") != 0
    )
    scored = cand.crossJoin(F.broadcast(qvec)).select(
        F.col("vec_id").alias("neighbor_id"),
        SIM.cosine("embedding", "qemb").alias("__raw"),
    )
    return (
        scored.orderBy(F.col("__raw").desc(), F.col("neighbor_id"))
        .limit(10)
        .select(
            "neighbor_id", F.floor(F.col("__raw") * 1e6).alias("cosine_sim_e6")
        )
    )


# ---------------------------------------------------------------------------
# skew-salted aggregation + exact n-gram Jaccard
# ---------------------------------------------------------------------------

@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag AS returnflag,
      CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        AS sum_qty_cents,
      count(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a deliberately skewed key (3
    distinct returnflags hold all rows): phase 1 spreads the hot keys
    across 32 salt buckets, phase 2 combines #keys×32 partials.  Results
    identical to the plain GROUP BY (oracle)."""
    from .operators.skew import salted_aggregate

    l = read_table(spark, sf_dir, "lineitem").withColumn(
        "qty_cents", cents(F.col("l_quantity"))
    )
    out = salted_aggregate(
        l,
        keys=["l_returnflag"],
        aggs={
            "sum_qty_cents": ("qty_cents", "sum"),
            "n_items": (F.lit(1), "count"),
        },
        salt_cols=["l_orderkey", "l_linenumber"],
        buckets=32,
    )
    return out.select(
        F.col("l_returnflag").alias("returnflag"), "sum_qty_cents", "n_items"
    )


@query(
    "grouped_zscore_pandas",
    oracle="""
    WITH stats AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s,
             count(*) AS n
      FROM orders GROUP BY o_custkey
    )
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
      CAST(floor((CAST(round(o.o_totalprice * 100) AS BIGINT)
                  - CAST(st.s AS DOUBLE) / st.n) * 1000) AS BIGINT)
        AS centered_milli
    FROM orders o JOIN stats st ON o.o_custkey = st.o_custkey
    """,
)
def q_grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas operator (``applyInPandas``) — the engine's
    sanctioned per-group Python escape hatch (SURVEY §2.10), demonstrated
    with an oracle-checkable computation: per-customer mean-centering in
    exact integer cents (float ops on exact ints < 2^53 are bitwise
    portable).  Arrow-batched; one shuffle on the group key — the same
    plan shape a JVM groupBy would get.

    BATCH-SIZING LESSON (measured, round 6): applyInPandas invokes
    Python once PER GROUP, so grouping directly on the 15k-customer
    key paid 15k tiny pandas calls — 33.5 s at sf0.1.  Grouping on a
    COARSE bucket of the key (pmod(custkey, 64): every customer still
    lands wholly in one group) and doing the per-customer centering
    with a vectorized ``pdf.groupby(...).transform`` inside pandas
    produces the identical rows in ~2 s — the pattern every
    many-small-entities pandas operator should use at 100 TB: pick the
    Arrow batch key for size, express the fine-grained grouping in
    pandas."""
    from pyspark.sql.types import StructField, StructType
    import pyspark.sql.types as T

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price_cents")
    )
    schema = StructType(
        [
            StructField("orderkey", T.LongType()),
            StructField("custkey", T.LongType()),
            StructField("centered_milli", T.LongType()),
        ]
    )

    def center(pdf):
        import numpy as np

        # sum/count (exact ints < 2^53) then ONE float division — the
        # same IEEE value the per-group form computed; pandas'
        # transform("mean") may use a different summation order.
        g = pdf.groupby("o_custkey")["price_cents"]
        mean = g.transform("sum") / g.transform("count")
        out = pdf.assign(
            centered_milli=np.floor(
                (pdf["price_cents"] - mean) * 1000
            ).astype("int64")
        )
        return out.rename(
            columns={"o_orderkey": "orderkey", "o_custkey": "custkey"}
        )[["orderkey", "custkey", "centered_milli"]]

    return o.groupBy(F.pmod("o_custkey", F.lit(64))).applyInPandas(
        center, schema
    )


@query(
    "scd2_merge",
    oracle="""
    WITH upd AS (
      SELECT o_custkey AS custkey, 'BIG SPENDER' AS segment,
             min(CAST(o_orderdate AS DATE)) AS eff
      FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    )
    SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
           DATE '1990-01-01' AS valid_from, u.eff AS valid_to
    FROM customer c LEFT JOIN upd u ON c.c_custkey = u.custkey
    UNION ALL
    SELECT u.custkey, u.segment, u.eff, CAST(NULL AS DATE)
    FROM upd u
    """,
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge — the versioned upgrade of the reference's
    UPDATE…FROM: changed keys close their current row at the effective
    date and open a new one; history is preserved, not overwritten."""
    from .operators.scd import scd2_merge

    c = read_table(spark, sf_dir, "customer")
    history = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    o = read_table(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_totalprice") > 200000)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.min(F.to_date("o_orderdate")).alias("eff"))
        .withColumn("segment", F.lit("BIG SPENDER"))
    )
    return scd2_merge(
        history, updates, "custkey", ["segment"], effective_col="eff"
    )


@query(
    "high_cardinality_agg",
    oracle="""
    SELECT l_orderkey AS orderkey, count(*) AS n_lines,
      CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        AS qty_cents
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_high_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality groupBy (one group per order, ~n/4 groups) — the
    shuffle-throughput benchmark shape: partial aggregation barely
    reduces, so this measures raw exchange + final-agg performance."""
    l = read_table(spark, sf_dir, "lineitem")
    return l.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(cents(F.col("l_quantity"))).alias("qty_cents"),
    )


@query(
    "session_window_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` (gap-merged sessions, batch form) —
    session boundary when the gap is >= the 30-minute timeout; window
    end = last event + gap.  The oracle reproduces the merge with a
    lag/cumsum construction."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "pivot_events",
    oracle="""
    SELECT user_id,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        AS click,
      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
        AS view,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        AS purchase,
      CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
        AS signup,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        AS error
    FROM events GROUP BY user_id
    """,
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event-type counts.  The pivot value
    list is FIXED — at scale an unbounded inferred pivot would collect
    distinct values to the driver; declaring them keeps the plan static."""
    e = read_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    p = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in types],
    )


@query(
    "unpivot_metrics",
    oracle="""
    SELECT o_orderkey AS orderkey, 'price_cents' AS metric,
           CAST(round(o_totalprice * 100) AS BIGINT) AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey', o_custkey FROM orders
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long) via native ``unpivot`` — zero-shuffle
    row expansion."""
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        cents(F.col("o_totalprice")).alias("price_cents"),
        F.col("o_custkey").cast("bigint").alias("custkey"),
    )
    return o.unpivot(
        "orderkey", ["price_cents", "custkey"], "metric", "value"
    )


@query(
    "intersect_except",
    oracle="""
    WITH a AS (SELECT c_mktsegment AS segment FROM customer WHERE c_custkey % 2 = 0),
    b AS (SELECT c_mktsegment AS segment FROM customer WHERE c_acctbal > 0)
    SELECT 'both' AS side, segment FROM (SELECT segment FROM a INTERSECT SELECT segment FROM b) t
    UNION ALL
    SELECT 'only_a', segment FROM (SELECT segment FROM a EXCEPT SELECT segment FROM b) t
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics) — the set-operation
    family beyond the reference's bag-union ``cat``."""
    c = read_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_mktsegment").alias("segment")
    )
    b = c.filter(F.col("c_acctbal") > 0).select(
        F.col("c_mktsegment").alias("segment")
    )
    both = a.intersect(b).select(F.lit("both").alias("side"), "segment")
    # subtract == EXCEPT DISTINCT (exceptAll().distinct() would instead
    # keep elements whose multiplicity in a merely exceeds b's)
    only_a = a.subtract(b).select(F.lit("only_a").alias("side"), "segment")
    return both.unionByName(only_a)


@query(
    "exists_correlated",
    oracle="""
    SELECT o.o_orderpriority AS priority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL '60 days'
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (orders with any line shipped
    >60 days after ordering) → semi join + agg.  The correlation
    condition rides the semi join; no subquery re-execution per row."""
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "order_count_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join + per-key count, then a second
    aggregation over the counts (distribution histogram) — the
    double-aggregation pattern."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "notin_distinct_suppliers",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 4, 7)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type
    """,
)
def q_notin_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (compiled to an anti join — the
    null-safe hazard of NOT IN doesn't arise, keys are non-null) +
    multi-key DISTINCT aggregation."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 4, 7))
    l = read_table(spark, sf_dir, "lineitem")
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ok_lines = l.join(bad_supp, l.l_suppkey == bad_supp.s_suppkey, "left_anti")
    return (
        p.join(ok_lines, p.p_partkey == ok_lines.l_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("p_type").alias("type"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# learned-index IVF: k-means centroids.  The fixed-seed, fixed-iteration
# Lloyd loop IS SQL-expressible: each iteration unrolls to an
# assign-then-update CTE pair, so the oracle replays the exact algorithm
# (init = vectors of the k lowest ids, ties to the lowest cluster,
# empty clusters keep their centroid).  Cross-engine float drift is
# bounded by summation-order noise (~1e-14 relative) — far below the
# floor(x*1e6) output grid.
# ---------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 5
KM_DIM = 64

def _kmeans_fit_cached(spark: SparkSession, sf_dir: str):
    """Centroids from kmeans_fit(k=KM_K, max_iter=KM_ITERS).

    Computed fresh on EVERY call.  An earlier revision memoized the
    centroids in a module dict keyed on sf_dir; that is a cross-run
    result cache (every bench rep after the first skipped the Lloyd
    loop), which falsifies the warm timings of every query that sits
    on the fit — removed in the r11 optimization round and the fit
    cost paid honestly per invocation (see OPTIMIZATION_r11.md)."""
    from .operators.kmeans import kmeans_fit

    e = read_table(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(e, k=KM_K, max_iter=KM_ITERS)
    return centroids


def _km_dist(e_arr: str, c_arr: str) -> str:
    """Squared L2 distance as a sequential fold (list_dot_product of the
    diff with itself) — same association as operators.kmeans._sq_dist."""
    d = (
        f"list_transform(range({KM_DIM}), "
        f"j -> ({e_arr})[j+1] - ({c_arr})[j+1])"
    )
    return f"list_dot_product({d}, {d})"


def _duck_kmeans_ctes() -> str:
    """CTE chain replaying kmeans_fit(k=KM_K, max_iter=KM_ITERS) on the
    embeddings table; ends with c{KM_ITERS} (final centroids) and fin
    (the final assignment, one rn=1 row per vector pending filter).

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs by default,
    and each c{t} is referenced 2-3× by the next iteration, so the
    inlined chain re-evaluates the whole fit per reference —
    exponential in KM_ITERS (measured 29 s for the ivf oracle at
    sf0.01; materialized: well under a second)."""
    dist = _km_dist("e.ev", "c.v")
    parts = [
        "emb AS MATERIALIZED "
        "(SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)",
        f"""c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             ev AS v
      FROM emb ORDER BY vec_id LIMIT {KM_K})""",
    ]
    for t in range(1, KM_ITERS + 1):
        p = t - 1
        parts.append(f"""a{t} AS MATERIALIZED (
      SELECT e.vec_id, e.ev, c.cid AS cluster,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM emb e, c{p} c)""")
        parts.append(f"""m{t} AS MATERIALIZED (
      SELECT a.cluster, t.i, avg((a.ev)[t.i+1]) AS m
      FROM (SELECT * FROM a{t} WHERE rn = 1) a, range({KM_DIM}) t(i)
      GROUP BY a.cluster, t.i)""")
        parts.append(f"""c{t} AS MATERIALIZED (
      SELECT cluster AS cid, list(m ORDER BY i) AS v FROM m{t} GROUP BY cluster
      UNION ALL
      SELECT cid, v FROM c{p}
      WHERE cid NOT IN (SELECT DISTINCT cluster FROM m{t}))""")
    parts.append(f"""fin AS MATERIALIZED (
      SELECT e.vec_id, e.ev, c.cid AS cluster, {dist} AS dist,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM emb e, c{KM_ITERS} c)""")
    return ",\n    ".join(parts)


@query(
    "kmeans_clusters",
    oracle=f"""
    WITH {_duck_kmeans_ctes()}
    SELECT vec_id, cluster, CAST(floor(dist * 1e6) AS BIGINT) AS dist_e6
    FROM fin WHERE rn = 1
    """,
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus (k=8, 5
    iterations, init = vectors of the 8 lowest ids).  The engine's
    iterative-algorithm surface: centroids are the only driver state
    (k × dim doubles); assignment and the centroid update both run
    executor-side (see operators/kmeans.py's scale notes)."""
    from .operators.kmeans import assign_clusters

    e = read_table(spark, sf_dir, "embeddings")
    centroids = _kmeans_fit_cached(spark, sf_dir)
    assigned = assign_clusters(e, centroids, "vec_id", "embedding")
    return assigned.select(
        F.col("id").alias("vec_id"),
        "cluster",
        F.floor(F.col("dist") * 1e6).alias("dist_e6"),
    )


@query(
    "ivf_kmeans_search",
    oracle=f"""
    WITH {{kmeans_ctes}},
    asg AS (SELECT vec_id, ev, cluster FROM fin WHERE rn = 1),
    q AS (SELECT ev AS qv FROM emb WHERE vec_id = 0),
    qc AS (
      SELECT cid AS cluster FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 list_dot_product(c.v, q.qv) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cid) AS rn
        FROM c{KM_ITERS} c, q
      ) t WHERE rn <= 2
    )
    SELECT vec_id AS neighbor_id,
           CAST(floor(raw * 1e6) AS BIGINT) AS cosine_sim_e6
    FROM (
      SELECT a.vec_id,
        list_dot_product(a.ev, q.qv) /
          (sqrt(list_dot_product(a.ev, a.ev)) *
           sqrt(list_dot_product(q.qv, q.qv))) AS raw
      FROM asg a JOIN qc ON a.cluster = qc.cluster, q
      WHERE a.vec_id != 0
    ) s
    ORDER BY raw DESC, vec_id
    LIMIT 10
    """.format(kmeans_ctes=_duck_kmeans_ctes()),
)
def q_ivf_kmeans_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with LEARNED centroids: the k-means fit replaces
    ``ivf_search``'s modulo-sampled cells, so cell populations follow the
    data distribution (balanced inverted lists → even task sizes at
    scale).  Probes nprobe=2 of k=8 cells, then exact-ranks only their
    members — same two-tier shape as ivf_search, better recall per
    scanned row.  The oracle replays the full fit (see kmeans_clusters)
    then the probe; bench additionally reports recall@10 vs the exact
    brute-force top-k."""
    from .operators.kmeans import assign_clusters

    e = read_table(spark, sf_dir, "embeddings")
    centroids = _kmeans_fit_cached(spark, sf_dir)
    assigned = assign_clusters(e, centroids, "vec_id", "embedding")

    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qemb")
    )
    cent_df = spark.createDataFrame(
        [(cid, vec) for cid, vec in centroids],
        "cell_id int, centroid array<double>",
    )
    scored_cells = cent_df.crossJoin(F.broadcast(qvec)).select(
        "cell_id", SIM.cosine("centroid", "qemb").alias("__s")
    )
    wq = Window.orderBy(F.col("__s").desc(), F.col("cell_id"))
    qcells = (
        scored_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select(F.col("cell_id").alias("cluster"))
    )

    cand = assigned.join(F.broadcast(qcells), "cluster", "left_semi").filter(
        F.col("id") != 0
    )
    scored = cand.crossJoin(F.broadcast(qvec)).select(
        F.col("id").alias("neighbor_id"),
        SIM.cosine("vec", "qemb").alias("__raw"),
    )
    return (
        scored.orderBy(F.col("__raw").desc(), F.col("neighbor_id"))
        .limit(10)
        .select(
            "neighbor_id", F.floor(F.col("__raw") * 1e6).alias("cosine_sim_e6")
        )
    )


# ---------------------------------------------------------------------------
# stream-stream join batch twin
# ---------------------------------------------------------------------------

@query(
    "click_attribution",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           date_diff('second', c.ts, p.ts) AS lag_seconds
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming ``interval_join_attribution``: same-user
    purchase-within-1h-of-click pairs.  The equality conjunct (user_id)
    keys the shuffle; the time range is filtered inside the join — the
    non-equi part never degenerates to a cross join.  In streaming mode
    the identical plan runs with watermark-bounded state
    (streaming/events.py)."""
    e = read_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
            ).alias("lag_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# trained trigram profile scoring (train → broadcast → score)
# ---------------------------------------------------------------------------

@query(
    "lang_profile_score",
    oracle="""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS t,
             length(lower(trim(text))) AS len
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len - 1),
                                   i -> substring(t, i, 3))) AS g
      FROM base WHERE len >= 3
    ),
    prof AS (
      SELECT g, count(*) AS c,
             CASE WHEN row_number() OVER (ORDER BY count(*) DESC, g) <= 500
                  THEN 1 ELSE 0 END AS is_top
      FROM g GROUP BY g
    ),
    tot AS (SELECT sum(c) AS T FROM prof),
    per_doc AS (
      SELECT doc_id, count(*) AS n, sum(c) AS sumc, sum(is_top) AS hits
      FROM g JOIN prof USING (g) GROUP BY doc_id
    )
    SELECT doc_id,
      CAST(floor(1000000.0 * sumc / CAST(n * T AS DOUBLE)) AS BIGINT)
        AS avg_gram_freq_e6,
      CAST(floor(1000000.0 * hits / CAST(n AS DOUBLE)) AS BIGINT)
        AS top_coverage_e6
    FROM per_doc CROSS JOIN tot
    """,
)
def q_lang_profile_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-ish scoring with a profile TRAINED from the corpus
    itself (deterministic, no external data): character-trigram frequency
    profile → broadcast → per-doc commonness + top-500 coverage.  The
    train→score pair is the canonical two-job shape for corpus statistics
    at 100 TB: the model (bounded vocab) is the only cross-job state.
    Exact integer outputs — no cross-engine float-aggregation hazard."""
    from .catalog_ext import _docs_parallel
    from .operators.text import score_against_profile, train_trigram_profile

    # round-9 perf fix: the single-file documents scan serialized BOTH
    # trigram explodes onto one core (the _docs_parallel gotcha);
    # repartition once, reuse for train and score.
    d = _docs_parallel(spark, sf_dir)
    profile = train_trigram_profile(d, "text", top_k=500)
    return score_against_profile(d, profile, "text", "doc_id")


# ---------------------------------------------------------------------------
# correlated scalar subqueries (Catalyst decorrelates both into joins)
# ---------------------------------------------------------------------------

@query(
    "max_order_per_customer",
    oracle="""
    SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
           CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
    FROM orders o
    WHERE o.o_totalprice = (
      SELECT max(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_max_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (each order compared to its customer's
    max).  Catalyst decorrelates it into an aggregate + equi join — the
    rewrite that makes per-row subqueries viable at scale (naive
    evaluation would be O(rows × groups))."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
        FROM orders o
        WHERE o.o_totalprice = (
          SELECT max(o2.o_totalprice) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey)
        """
    )


@query(
    "small_quantity_revenue",
    oracle="""
    SELECT CAST(sum(round(l.l_extendedprice * 100, 0)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_lines
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery over the same fact table
    (small-order revenue).  Decorrelated by Catalyst into a per-part
    aggregate joined back to lineitem; the aggregate side is dimension-
    sized (one row per part) and broadcastable."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT CAST(sum(round(l.l_extendedprice * 100, 0)) AS BIGINT)
                 AS revenue_cents,
               count(*) AS n_lines
        FROM lineitem l
        WHERE l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey)
        """
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT
      CASE WHEN GROUPING(o_orderpriority) = 0 THEN o_orderpriority END
        AS priority,
      CASE WHEN GROUPING(o_orderstatus) = 0 THEN o_orderstatus END
        AS status,
      CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
        AS gid,
      count(*) AS n_orders,
      CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (three aggregation levels in one pass) with
    GROUPING() disambiguation of real NULLs vs roll-up NULLs.  Spark
    computes all sets from a single shuffle (expand + hash-agg), not one
    job per set — the multi-level report shape at scale."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT
          CASE WHEN GROUPING(o_orderpriority) = 0 THEN o_orderpriority END
            AS priority,
          CASE WHEN GROUPING(o_orderstatus) = 0 THEN o_orderstatus END
            AS status,
          GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
          count(*) AS n_orders,
          CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS revenue_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# ---------------------------------------------------------------------------
# running windows, cube, entity resolution, regex extraction
# ---------------------------------------------------------------------------

@query(
    "running_totals",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      CAST(sum(round(o_totalprice * 100, 0)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS cum_spend_cents,
      CAST(sum(round(o_totalprice * 100, 0)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        AS mov3_spend_cents,
      CAST(row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT)
        AS order_seq,
      CAST(lag(round(o_totalprice * 100, 0)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT)
        AS prev_spend_cents
    FROM orders
    """,
)
def q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running windows: per-customer cumulative spend + 3-row moving sum
    (ROWS frames) + order sequence (row_number) + previous-order spend
    (lag) — the full window-function family over ONE partitioning.
    Exact integer cents inside the frame, so engines agree bitwise.
    One shuffle on the partition key serves ALL FOUR window columns
    (same partitioning + ordering → a single Window physical op);
    the rank/lag shapes of the demoted ``window_rank_lag`` extra live
    here on the registered surface."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    c = cents(F.col("o_totalprice"))
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_spend_cents"),
        F.sum(c).over(w.rowsBetween(-2, 0)).alias("mov3_spend_cents"),
        F.row_number().over(w).alias("order_seq"),
        F.lag(c).over(w).alias("prev_spend_cents"),
    )


@query(
    "cube_revenue",
    oracle="""
    SELECT
      CASE WHEN GROUPING(o_orderpriority) = 0 THEN o_orderpriority END
        AS priority,
      CASE WHEN GROUPING(o_orderstatus) = 0 THEN o_orderstatus END
        AS status,
      CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
        AS gid,
      count(*) AS n_orders,
      CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS revenue_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all four aggregation levels in one expand + hash-agg pass
    (completes the rollup / grouping-sets / cube trio)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT
          CASE WHEN GROUPING(o_orderpriority) = 0 THEN o_orderpriority END
            AS priority,
          CASE WHEN GROUPING(o_orderstatus) = 0 THEN o_orderstatus END
            AS status,
          GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid,
          count(*) AS n_orders,
          CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT) AS revenue_cents
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    SELECT l.c_custkey AS custkey_a, r.c_custkey AS custkey_b,
           CAST(levenshtein(l.c_name, r.c_name) AS INT) AS edit_dist
    FROM customer l JOIN customer r
      ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
    WHERE levenshtein(l.c_name, r.c_name) <= 2
    """,
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance with a PARAMETERIZED blocking
    strategy — the fuzzy generalization of the reference's exact
    nhs_number contact matching (``sql/import_identified_needs.sql:
    24-26``).  Candidate generation goes through
    ``operators.blocking.candidate_pairs`` in cost-based ``auto`` mode:
    exact pigeonhole segment blocking (candidate stream ~linear in rows
    on entropy-bearing names — measured in PERF.md "Exact segment blocking")
    when segment statistics favor it, exhaustive verify within the
    nation block otherwise (this testdata's ``Customer#%09d`` digit
    names carry no segment entropy, so auto picks coarse here — the
    round-2 PassJoin probe's negative result, now handled by the
    selector instead of a comment).  Every strategy yields the
    identical pair set, so this oracle is strategy-independent.  The
    stream itself is STAGED (``plans/er.py``): computed once per
    session, shared by the four cluster/survivor queries downstream."""
    from .plans.er import customer_fuzzy_pairs

    return customer_fuzzy_pairs(spark, sf_dir).select(
        F.col("a").alias("custkey_a"),
        F.col("b").alias("custkey_b"),
        "edit_dist",
    )


@query(
    "regex_extract_tokens",
    oracle="""
    SELECT tok, count(*) AS cnt
    FROM (
      SELECT unnest(regexp_extract_all(text, '[A-Za-z]{6,}')) AS tok
      FROM documents
    )
    GROUP BY tok
    HAVING count(*) >= 3
    """,
)
def q_regex_extract_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction as a table op: pull every long-word match out of
    each document (regexp_extract_all → explode) and count corpus-wide
    occurrences.  The explode is narrow; the count is one hash-agg with
    map-side partials — shuffle carries distinct tokens, not matches."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.regexp_extract_all("text", F.lit("[A-Za-z]{6,}"), 0)).alias(
            "tok"
        )
    )
    return toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= 3
    )


@query(
    "waiting_customers_q22",
    oracle="""
    WITH thr AS (
      SELECT floor(avg(round(c_acctbal * 100))) AS t
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS nationkey,
           count(*) AS numcust,
           CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS totacctbal_cents
    FROM customer, thr
    WHERE round(c_acctbal * 100) > thr.t
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                  AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q_waiting_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (global average, exact
    integer cents so both engines floor the same double) + anti join
    (customers with no orders) + group on a derived code.  Plan shape at
    scale: the threshold is a one-row broadcast; the anti join is the
    only shuffle; the final agg carries O(codes)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    bal = cents(F.col("c_acctbal"))
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        F.floor(F.avg(bal)).alias("t")
    )
    cand = c.crossJoin(F.broadcast(thr)).filter(bal > F.col("t"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    waiting = cand.join(
        urgent, cand.c_custkey == urgent.o_custkey, "left_anti"
    )
    return waiting.groupBy(
        F.col("c_nationkey").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(bal).alias("totacctbal_cents"),
    )
