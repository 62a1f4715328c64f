"""Round-3 catalog: dataset-assembly breadth (ROADMAP items 5-6) and
the remaining TPC-H query shapes.

Packing gains the two no-split variants a training-shard builder
actually chooses between — serpentine balanced binning (SQL-exact,
oracle-replayed) and hard-capacity best-fit-decreasing (per-shard Arrow
escape hatch, oracle-replayed via a recursive placement CTE) — plus the
pack-utilization QA histogram.  Sampling gains exact-count stratified
selection and config-table mixture weights (broadcast-joined, with a
default-rate fallback).  Whether a query holds one of the 50 driver
slots is decided by ``catalog.DRIVER_SLOTS``; the rest run under the
local type-sensitive gate.

Oracle style follows catalog_r2: exact-integer window arithmetic that
DuckDB replays bit-for-bit, config tables as VALUES CTEs, and
``CAST(... AS BIGINT)`` on every DuckDB aggregate that would widen to
HUGEINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import cents, query
from .catalog_ext import _docs_parallel
from .catalog_r2 import _duck_hash64
from .sources.parquet import read_table

# Shared oracle fragment: whitespace token counts + 8-way hash sharding,
# identical to the (driver-green) sequence_packing oracle.
_TOKS_CTE = f"""
    toks AS (
      SELECT doc_id AS id,
        {_duck_hash64("CAST(doc_id AS VARCHAR)", seed=7)} % 8 AS shard,
        CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+'))
             END AS BIGINT) AS n_tokens
      FROM documents
    )
"""

_SERPENTINE_CTES = f"""
    WITH {_TOKS_CTE},
    ranked AS (
      SELECT id, shard, n_tokens,
        row_number() OVER (
          PARTITION BY shard ORDER BY n_tokens DESC, id
        ) - 1 AS pos,
        greatest(CAST(1 AS BIGINT),
          CAST(floor((sum(n_tokens) OVER (PARTITION BY shard) + 511)
                     / 512.0) AS BIGINT)) AS n_bins
      FROM toks
    ),
    packed AS (
      SELECT id, shard, n_tokens,
        CAST(CASE WHEN (pos // n_bins) % 2 = 0 THEN pos % n_bins
                  ELSE n_bins - 1 - (pos % n_bins) END AS BIGINT)
          AS pack_id
      FROM ranked
    )
"""


@query(
    "pack_bins_balanced",
    oracle=_SERPENTINE_CTES + "SELECT id, shard, n_tokens, pack_id FROM packed",
)
def q_pack_bins_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine balanced binning at a 512-token budget over 8 hash
    shards: exactly ceil(shard_tokens/512) packs per shard, docs dealt
    in snake order of decreasing length so pack loads concentrate at
    the budget.  No document is split (contrast sequence_packing's
    stream chunking); one shard exchange carries both window passes."""
    from .operators.sampling import pack_bins_serpentine
    from .operators.text import token_count_ws

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens_src")
    )
    return pack_bins_serpentine(d, "doc_id", "n_tokens_src", budget=512)


@query(
    "pack_utilization",
    oracle=_SERPENTINE_CTES
    + """,
    per_pack AS (
      SELECT shard, pack_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      FROM packed GROUP BY shard, pack_id
    )
    SELECT CAST(floor(pack_tokens * 10 / 512.0) AS BIGINT) AS util_decile,
           count(*) AS n_packs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(pack_tokens) AS BIGINT) AS sum_tokens
    FROM per_pack GROUP BY 1
    """,
)
def q_pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-utilization QA histogram over the serpentine packing:
    per-pack token loads bucketed by utilization decile (10 = exactly
    full, >10 = overflow the loader truncates).  The per-pack agg
    reuses the packing's shard partitioning; the decile agg runs on a
    frame already one-row-per-pack."""
    from .operators.sampling import pack_bins_serpentine, pack_utilization
    from .operators.text import token_count_ws

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens_src")
    )
    packed = pack_bins_serpentine(d, "doc_id", "n_tokens_src", budget=512)
    return pack_utilization(packed, budget=512)


@query(
    "pack_bins_bestfit",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT doc_id AS id,
        CAST('0x' || substring(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 8 AS shard,
        CAST(CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END
             AS BIGINT) AS n_tokens
      FROM documents
    ),
    docs AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY n_tokens DESC, id) AS rn
      FROM base
    ),
    st(shard, rn, pack_id, rem) AS (
      SELECT shard, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
             [greatest(512 - n_tokens, 0)]
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn,
        CASE WHEN f.pos IS NOT NULL THEN CAST(f.pos - 1 AS BIGINT)
             ELSE CAST(len(s.rem) AS BIGINT) END,
        CASE WHEN f.pos IS NOT NULL
             THEN list_transform(range(len(s.rem)),
                    j -> CASE WHEN j + 1 = f.pos THEN s.rem[j+1] - d.n_tokens
                         ELSE s.rem[j+1] END)
             ELSE list_append(s.rem, greatest(512 - d.n_tokens, 0)) END
      FROM st s
      JOIN docs d ON d.shard = s.shard AND d.rn = s.rn + 1
      LEFT JOIN LATERAL (
        SELECT CASE WHEN d.n_tokens <= 512
                    THEN list_position(s.rem,
                           list_min(list_filter(s.rem,
                                                r -> r >= d.n_tokens)))
               END AS pos
      ) f ON true
    )
    SELECT d.id AS id, d.shard, d.n_tokens, st.pack_id
    FROM st JOIN docs d ON d.shard = st.shard AND d.rn = st.rn
    """,
)
def q_pack_bins_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-capacity best-fit-decreasing packing (512-token budget, 8
    hash shards) via the per-shard Arrow escape hatch.  The open-bin
    placement loop is inherently sequential — but it IS deterministic,
    so the oracle replays it exactly with a per-shard RECURSIVE CTE
    whose state row carries the open-pack remaining-capacity LIST (one
    recursion step per placed doc: best pack = first position of the
    minimum remaining ≥ tokens; no fit or oversize → append a pack).
    This upgraded the catalog's last ROWS_ONLY entry to a full value
    oracle; tests/test_sampling.py keeps the BFD invariants (capacity,
    exactly-once, 11/9·OPT+1 bound) as the semantic checks the hash
    can't express."""
    from .operators.sampling import pack_bins_bestfit
    from .operators.text import token_count_ws

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens_src")
    )
    return pack_bins_bestfit(d, "doc_id", "n_tokens_src", budget=512)


@query(
    "stratified_exact_sample",
    oracle=f"""
    WITH targets(lang, target_n) AS (
      VALUES ('en', 150), ('de', 40), ('es', 40), ('fr', 100), ('zh', 30)
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, t.target_n,
        row_number() OVER (
          PARTITION BY d.lang
          ORDER BY {_duck_hash64("CAST(d.doc_id AS VARCHAR)", seed=11)},
                   d.doc_id
        ) AS rk
      FROM documents d JOIN targets t ON t.lang = d.lang
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= target_n
    """,
)
def q_stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling: per-language target counts from
    a broadcast config table, membership by stable-hash rank within the
    stratum (fr's target exceeds its stratum, exercising the
    keep-everything branch).  One window shuffle; exact counts by
    construction — no threshold-then-top-up second pass."""
    from .operators.sampling import stratified_sample_exact

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    targets = spark.createDataFrame(
        [("en", 150), ("de", 40), ("es", 40), ("fr", 100), ("zh", 30)],
        "lang string, target_n int",
    )
    return stratified_sample_exact(d, "lang", targets, "doc_id").select(
        "doc_id", "lang"
    )


@query(
    "mixture_config_sample",
    oracle=f"""
    WITH rates(source, rate_bp) AS (
      VALUES ('src0', 9000), ('src1', 8000), ('src2', 7000), ('src3', 6000),
             ('src4', 5000), ('src5', 4000), ('src6', 3000), ('src7', 2000),
             ('src8', 1500), ('src9', 500)
    ),
    rated AS (
      SELECT d.doc_id, d.source, COALESCE(r.rate_bp, 1000) AS rate_bp
      FROM documents d LEFT JOIN rates r ON r.source = d.source
    )
    SELECT doc_id, source FROM rated
    WHERE {_duck_hash64("CAST(doc_id AS VARCHAR)", seed=4)} % 10000 < rate_bp
    """,
)
def q_mixture_config_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weights from an explicit config table: ten sources get
    reviewed rates, the rest fall back to a 10% default via left join +
    coalesce; the broadcast join plus hash-threshold keep rule stays
    map-only.  Returns the kept membership so the oracle checks every
    individual keep decision, not just counts."""
    from .operators.sampling import mixture_sample_config

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = spark.createDataFrame(
        [
            ("src0", 9000), ("src1", 8000), ("src2", 7000), ("src3", 6000),
            ("src4", 5000), ("src5", 4000), ("src6", 3000), ("src7", 2000),
            ("src8", 1500), ("src9", 500),
        ],
        "source string, rate_bp int",
    )
    return mixture_sample_config(
        d, "doc_id", "source", rates, default_rate_bp=1000
    ).select("doc_id", "source")


# ===========================================================================
# Remaining TPC-H query shapes (Q5/Q6/Q8/Q9/Q10/Q12/Q14/Q18/Q19/Q20).
#
# The testdata schema has no partsupp table and lineitem lacks
# shipmode/commitdate/receiptdate/shipinstruct; part lacks container and
# mfgr.  Each adaptation below keeps the query's PLAN shape (the part
# that matters at 100 TB) and swaps the missing column for the nearest
# present one, documented per query.  Money stays exact via the cents
# trick; ratios surface as floor(x*1e6) micro-units (catalog.py
# docstring).
# ===========================================================================


@query(
    "local_supplier_volume_q5",
    oracle="""
    SELECT n_name AS nation,
           CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
                AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue where the customer and
    the supplier share a nation inside one region.  Plan at scale: the
    supplier⋈nation⋈region chain collapses to a broadcast dim (the
    locality predicate c_nationkey = s_nationkey rides the broadcast
    join, costing nothing); orders prefilters on the date range BEFORE
    its shuffle; the two real exchanges are lineitem⋈orders (orderkey)
    and ⋈customer (custkey); the final agg groups a handful of
    nations."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            sn,
            (l.l_suppkey == sn.s_suppkey)
            & (c.c_nationkey == sn.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
    )


@query(
    "forecast_revenue_q6",
    oracle="""
    SELECT CAST(sum(round(l_extendedprice * l_discount * 100)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure filter + global agg —
    the canonical pushdown probe.  All three predicates reach the
    parquet scan (PushedFilters), the projection prunes to four
    columns, and the single-row result needs no real exchange (partial
    aggs merge into one row)."""
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "market_share_q8",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS volume_cents,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
                   AND r.r_name = 'AMERICA'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    )
    SELECT o_year,
      CAST(sum(volume_cents) AS BIGINT) AS total_cents,
      CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents
                    ELSE 0 END) AS BIGINT) AS nation_cents,
      CAST(floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents
                          ELSE 0 END) * 1e6 / sum(volume_cents))
           AS BIGINT) AS share_e6
    FROM vol GROUP BY o_year
    """,
)
def q_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue sold into AMERICA, by order year.  Plan at scale: part
    (filtered), supplier⋈nation, and customer-side nation⋈region all
    broadcast; customer is the only mid-size dim and joins after the
    orders shuffle; the share divides two exact cent-sums per year
    (micro-unit floor, catalog ratio discipline)."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cust_nkey")
    )
    cust = c.join(F.broadcast(n1), c.c_nationkey == F.col("cust_nkey")).select(
        "c_custkey"
    )
    supp = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    vol = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == F.col("c_custkey"))
        .join(supp, l.l_suppkey == supp.s_suppkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("volume_cents"),
            "supp_nation",
        )
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume_cents"))
        .otherwise(F.lit(0).cast("bigint"))
    )
    total_cents = F.sum("volume_cents")
    return vol.groupBy("o_year").agg(
        total_cents.alias("total_cents"),
        nation_cents.alias("nation_cents"),
        F.floor(nation_cents * 1e6 / total_cents)
        .cast("bigint")
        .alias("share_e6"),
    )


@query(
    "product_profit_q9",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
      CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)
             - CAST(round(p.p_retailprice * l.l_quantity * 50) AS BIGINT))
           AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%gear%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q_product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit on '%gear%' parts by
    supplier nation and order year.  No partsupp table, so supply cost
    is modeled as half the part's retail price per unit (p_retailprice *
    l_quantity * 0.5) — the plan keeps Q9's signature: a LIKE-filtered
    part dim and supplier⋈nation both broadcast onto lineitem, one
    orders shuffle, and a small (nation, year) agg.  Both profit terms
    round to cents independently before subtracting, so the sum is
    integer-exact."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    )
    supp = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("nation")
        )
    )
    profit = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) - F.round(F.col("p_retailprice") * F.col("l_quantity") * 50, 0).cast(
        "bigint"
    )
    return (
        l.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            l.l_partkey == F.col("p_partkey"),
        )
        .join(supp, l.l_suppkey == supp.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
    )


@query(
    "returned_items_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100))
                AS BIGINT) AS revenue_cents
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_cents DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items): top-20 customers by lost revenue on
    returned lines in one quarter.  Plan at scale: returnflag and the
    date range prefilter both fact sides before their orderkey shuffle;
    nation broadcasts; the custkey tiebreak makes the LIMIT membership
    deterministic (revenue ties exist); TakeOrderedAndProject keeps the
    top-k on the map side — no global sort."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "late_lines_priority_q12",
    oracle="""
    SELECT l.l_linestatus,
      CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL '60 days'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q_late_lines_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / priority): the schema has no
    l_shipmode or commit/receipt dates, so the grouping column becomes
    l_linestatus and 'late' means shipped >60 days after ordering — the
    plan keeps Q12's signature: one fact-fact join with a non-equi
    residual condition, conditional counts split by priority class.
    The date range prefilters lineitem before the orderkey shuffle."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@query(
    "promo_revenue_q14",
    oracle="""
    SELECT
      CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                    * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_cents,
      CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100))
           AS BIGINT) AS total_cents,
      CAST(floor(sum(CASE WHEN p.p_type = 'PROMO'
                          THEN CAST(round(l.l_extendedprice
                                          * (1 - l.l_discount) * 100)
                                    AS BIGINT)
                          ELSE 0 END) * 1e6
                 / sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)))
           AS BIGINT) AS promo_share_e6
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q_promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): PROMO parts' share of one month's
    revenue.  Part broadcasts (only partkey + type survive pruning);
    the month filter reaches the lineitem scan; the single-row answer
    divides two exact cent-sums into a micro-unit share."""
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    line_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", line_cents).otherwise(
            F.lit(0).cast("bigint")
        )
    )
    total = F.sum(line_cents)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            promo.alias("promo_cents"),
            total.alias("total_cents"),
            F.floor(promo * 1e6 / total).cast("bigint").alias("promo_share_e6"),
        )
    )


@query(
    "large_volume_customers_q18",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 300
    )
    SELECT c.c_name, c.c_custkey, b.l_orderkey AS o_orderkey, o.o_orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_large_volume_customers_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose line quantities
    sum past 300 units, with their customers.  Plan at scale: the
    HAVING aggregate shrinks lineitem to a tiny order set BEFORE any
    join (the defining Q18 optimization); its orderkey partitioning is
    then reused by the orders join; customer attaches by custkey on a
    frame already reduced to qualifying orders."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderdate",
            cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "total_qty",
        )
    )


@query(
    "brand_bracket_revenue_q19",
    oracle="""
    SELECT CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100))
                AS BIGINT) AS revenue_cents,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_brand_bracket_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the
    classic OR-of-ANDs join.  The container/shipmode legs are absent
    from the schema, so each bracket pairs brand+size with a quantity
    band.  Plan at scale: the part side prefilters to the union of
    bracket (brand, size) ranges and lineitem to the quantity hull —
    both pushed to the scans — then the equi join on partkey broadcasts
    and the residual disjunction evaluates post-join; no cartesian, no
    shuffle."""
    brackets = [
        (("Brand#1", 1, 5), (1, 11)),
        (("Brand#2", 1, 10), (10, 20)),
        (("Brand#3", 1, 15), (20, 30)),
    ]
    p_pred = None
    for (brand, lo, hi), _ in brackets:
        leg = (F.col("p_brand") == brand) & F.col("p_size").between(lo, hi)
        p_pred = leg if p_pred is None else (p_pred | leg)
    p = read_table(spark, sf_dir, "part").filter(p_pred).select(
        "p_partkey", "p_brand", "p_size"
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    residual = None
    for (brand, lo, hi), (qlo, qhi) in brackets:
        leg = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(lo, hi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        residual = leg if residual is None else (residual | leg)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(residual)
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "excess_share_suppliers_q20",
    oracle="""
    WITH ps AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'SMALL'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (
      SELECT l_partkey, CAST(sum(supp_qty) AS BIGINT) AS part_qty
      FROM ps GROUP BY l_partkey
    ),
    excess AS (
      SELECT DISTINCT ps.l_suppkey
      FROM ps JOIN tot ON ps.l_partkey = tot.l_partkey
      WHERE ps.supp_qty * 10 > tot.part_qty
    )
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_regionkey < 2
      AND s.s_suppkey IN (SELECT l_suppkey FROM excess)
    """,
)
def q_excess_share_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess suppliers): suppliers in the first two regions
    holding an outsized share (>10%) of any SMALL part's shipped
    volume.  partsupp's availqty is absent, so the share comes from the
    lineitem-derived (partkey, suppkey) quantity aggregate (the same
    stand-in the Q2 shape uses, catalog_r2.py:28-35).  Plan at scale:
    the ps aggregate is the one big shuffle; tot REUSES its partkey
    partitioning (partial agg on already-clustered keys); the share
    test is integer arithmetic (qty*10 > total — no ratio rounding);
    the supplier⋈nation probe is a broadcast semi join."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 2)
    p = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "SMALL"
    ).select("p_partkey")
    ps = (
        l.join(F.broadcast(p), l.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("supp_qty"))
    )
    tot = ps.groupBy("l_partkey").agg(F.sum("supp_qty").alias("part_qty"))
    excess = (
        ps.join(tot, "l_partkey")
        .filter(F.col("supp_qty") * 10 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", F.col("n_name").alias("nation"))
    )


# ===========================================================================
# Gopher-style document quality signals (operators/text.py round-3 tier)
# ===========================================================================

_DUCK_TOKS_Q = "regexp_split_to_array(lower(trim(text)), '\\s+')"


@query(
    "gopher_quality_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS_Q} AS tk,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len({_DUCK_TOKS_Q}) END AS n
      FROM documents
    ),
    base AS (
      SELECT doc_id, n,
        CASE WHEN n > 0
             THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)/n
             ELSE 0.0 END AS mwl,
        CASE WHEN n > 0
             THEN CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
                       AS DOUBLE)/n
             ELSE 0.0 END AS awf,
        CASE WHEN n > 0
             THEN CAST(n - len(list_distinct(tk)) AS DOUBLE)/n
             ELSE 0.0 END AS dtf,
        COALESCE(CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT),
                 0) AS total_chars,
        CASE WHEN n >= 2
             THEN list_transform(range(n - 1), i -> tk[i+1] || ' ' || tk[i+2])
             ELSE [] END AS grams
      FROM toks
    ),
    c AS (
      SELECT doc_id, gram, count(*) AS cnt
      FROM (SELECT doc_id, unnest(grams) AS gram FROM base)
      GROUP BY doc_id, gram
    ),
    top AS (
      SELECT doc_id, gram, cnt FROM (
        SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram) AS rk
        FROM c
      ) WHERE rk = 1
    ),
    sig AS (
      SELECT b.doc_id, b.n, b.mwl, b.awf, b.dtf,
        CASE WHEN b.total_chars > 0
             THEN least(1.0, COALESCE(CAST(t.cnt AS DOUBLE)
                        * len(replace(t.gram, ' ', ''))
                        / b.total_chars, 0.0))
             ELSE 0.0 END AS t2g
      FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
    )
    SELECT doc_id,
      CAST(floor(mwl * 1e6) AS BIGINT) AS mean_word_len_e6,
      CAST(floor(awf * 1e6) AS BIGINT) AS alpha_word_frac_e6,
      CAST(floor(dtf * 1e6) AS BIGINT) AS dup_token_frac_e6,
      CAST(floor(t2g * 1e6) AS BIGINT) AS top_2gram_frac_e6,
      CAST(CASE WHEN n >= 20 AND n <= 100000
                 AND mwl BETWEEN 3.0 AND 10.0
                 AND awf > 0.8 AND t2g < 0.20
            THEN 1 ELSE 0 END AS INT) AS keep
    FROM sig
    """,
)
def q_gopher_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-set quality signals per document (Rae et al. 2021
    A1.1, adapted to single-line docs): mean word length, alphabetic
    word fraction, duplicate-token fraction, top-2-gram character
    coverage, and the combined keep decision.  Spark computes the
    2-gram mode as a shuffle-free sorted-run fold (the oracle replays
    it relationally via unnest+groupBy+argmax — same value, different
    mechanics); everything else is scan-side arithmetic.  Ratios
    surface as floor(x*1e6) micro-units."""
    from .operators import text as TX
    from .operators.text import _ntoks, _tokens

    # Three staged projections so the shared subexpressions evaluate
    # ONCE per doc: (1) the regexp tokenization, (2) the raw signals —
    # including the expensive sorted-run 2-gram fold — and (3) the
    # published output units + the keep decision DERIVED FROM the
    # signal columns.  Catalyst keeps the stages separate (non-cheap
    # aliases referenced multiple times are not collapsed); the inline
    # form re-ran the split ~6× and the fold 2× per doc (measured 26.7 s
    # → see PERF.md round-3 notes).
    d = _docs_parallel(spark, sf_dir)
    toked = d.select("doc_id", _tokens("text").alias("__toks"))
    t = F.col("__toks")
    sig = toked.select(
        "doc_id",
        _ntoks(t).alias("__n"),
        TX.mean_word_length_t(t).alias("__mwl"),
        TX.alpha_word_fraction_t(t).alias("__awf"),
        TX.dup_token_fraction_t(t).alias("__dtf"),
        TX.top_ngram_char_fraction_t(t, 2).alias("__t2g"),
    )
    return sig.select(
        "doc_id",
        F.floor(F.col("__mwl") * 1e6).cast("bigint").alias("mean_word_len_e6"),
        F.floor(F.col("__awf") * 1e6)
        .cast("bigint")
        .alias("alpha_word_frac_e6"),
        F.floor(F.col("__dtf") * 1e6)
        .cast("bigint")
        .alias("dup_token_frac_e6"),
        F.floor(F.col("__t2g") * 1e6)
        .cast("bigint")
        .alias("top_2gram_frac_e6"),
        TX.gopher_keep_from_signals(
            F.col("__n"), F.col("__mwl"), F.col("__awf"), F.col("__t2g")
        )
        .cast("int")
        .alias("keep"),
    )


# ===========================================================================
# SQ8 scalar-quantization ANN (operators/sq.py — fourth tradeoff tier)
# ===========================================================================

_DUCK_SQ_CTES = """
    dims AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings
    ),
    stats AS (
      SELECT dim, min(v) AS mn, (max(v) - min(v)) / 256.0 AS step
      FROM dims GROUP BY dim
    ),
    packed AS (
      SELECT list(mn ORDER BY dim) AS mns, list(step ORDER BY dim) AS steps
      FROM stats
    ),
    recon AS (
      SELECT e.vec_id,
        list_transform(range(len(e.embedding)), i ->
          p.mns[i+1] + (
            (CASE WHEN p.steps[i+1] > 0.0
                  THEN least(255, greatest(0,
                    CAST(floor((e.embedding[i+1]::DOUBLE - p.mns[i+1])
                               / p.steps[i+1]) AS INT)))
                  ELSE 0 END)::DOUBLE + 0.5) * p.steps[i+1]
        ) AS rvec
      FROM embeddings e CROSS JOIN packed p
    )
"""


@query(
    "sq8_search",
    oracle=f"""
    WITH {_DUCK_SQ_CTES}
    SELECT r.vec_id AS neighbor_id,
           CAST(floor(list_dot_product(r.rvec::DOUBLE[],
                                       q.embedding::DOUBLE[]) * 1e6)
                AS BIGINT) AS approx_dot_e6
    FROM recon r CROSS JOIN (SELECT embedding FROM embeddings
                             WHERE vec_id = 0) q
    WHERE r.vec_id != 0
    ORDER BY list_dot_product(r.rvec::DOUBLE[], q.embedding::DOUBLE[]) DESC,
             r.vec_id
    LIMIT 10
    """,
)
def q_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization ANN: per-dimension 256-level codes (8×
    payload reduction at D=64 float64), asymmetric bucket-midpoint
    reconstruction scored by inner product against the full-precision
    query (vec_id 0, self excluded).  The stats shuffle is partial-
    aggregated to ≤ D rows per partition; encode and score are map-only
    behind one-row broadcasts; the only real shuffle is the
    TakeOrdered.  Raw recall@10 = 1.0 on the test embeddings —
    SQ8's per-dimension resolution beats PQ's subspace codes (0.1 raw)
    at 4× the PQ payload."""
    from .operators.sq import sq_search

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return sq_search(emb, q, k=10, exclude_id=0)


@query(
    "sq8_search_rerank",
    oracle=f"""
    WITH {_DUCK_SQ_CTES},
    short AS (
      SELECT r.vec_id
      FROM recon r CROSS JOIN (SELECT embedding FROM embeddings
                               WHERE vec_id = 0) q
      WHERE r.vec_id != 0
      ORDER BY list_dot_product(r.rvec::DOUBLE[], q.embedding::DOUBLE[]) DESC,
               r.vec_id
      LIMIT 100
    )
    SELECT e.vec_id AS neighbor_id,
           CAST(floor(list_dot_product(e.embedding::DOUBLE[],
                                       q.embedding::DOUBLE[]) * 1e6)
                AS BIGINT) AS dot_e6
    FROM embeddings e
    JOIN short s ON s.vec_id = e.vec_id
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
             DESC, e.vec_id
    LIMIT 10
    """,
)
def q_sq8_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SQ8: codes-only approximate shortlist (100), exact
    inner-product re-rank over just the shortlist rows via a broadcast
    semi join — the production pattern where the full-vector scan
    touches shortlist/corpus of the data."""
    from .operators.sq import sq_search_rerank

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return sq_search_rerank(emb, q, k=10, shortlist=100, exclude_id=0)


# ===========================================================================
# Corpus hygiene: benchmark decontamination + PII redaction
# ===========================================================================


@query(
    "decontaminate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(tk) - 2),
               i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
    SELECT t.doc_id, count(*) AS n_overlap_grams
    FROM grams t JOIN ev USING (g)
    WHERE t.doc_id % 50 != 0
    GROUP BY t.doc_id
    """,
)
def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C recipe): train docs
    sharing any word 3-gram with the held-out set (every 50th doc
    stands in for the benchmark suite), with distinct-overlap counts.
    The eval gram set is bounded by construction, so it broadcasts; the
    only shuffle carries matching (doc, gram) hits into the per-doc
    count — never a train×eval join."""
    from .operators.text import contamination_hits

    # _docs_parallel: the n-gram construction (tokenize + per-gram
    # concat over every token position) is the CPU cost here, and the
    # single-split testdata scan would run it all on one core.
    d = _docs_parallel(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_hits(train, ev, "text", "doc_id", n=3)


@query(
    "pii_redaction",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
        'reach user' || doc_id || '@example.com or 202-555-' ||
        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' via 10.0.' ||
        CAST(doc_id % 256 AS VARCHAR) || '.7 :: ' || text AS t
      FROM documents
    ),
    masked AS (
      SELECT doc_id, t,
        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
      FROM synth
    ),
    masked2 AS (
      SELECT doc_id, t, t1,
        regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '<IP>', 'g') AS t2
      FROM masked
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
        AS n_emails,
      CAST(len(regexp_extract_all(t1,
        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ips,
      CAST(len(regexp_extract_all(t2,
        '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INT) AS n_phones,
      regexp_replace(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')
        AS redacted
    FROM masked2
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (C4/Dolma-style hygiene): emails, IPv4s, and 3-3-4
    phone numbers mask to typed placeholders.  The testdata corpus
    carries no PII, so the query deterministically injects a contact
    line per doc (derived from doc_id — the oracle replays the same
    construction) and the operator under test strips it.  Map-only
    chained regexp_replace at scan speed; counts are taken on the
    progressively-masked text so overlapping matches never
    double-count."""
    from .operators.text import pii_counts, pii_redact

    d = read_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 202-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 :: "),
        F.col("text"),
    )
    c = pii_counts(synth)
    return d.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        c["n_phones"].alias("n_phones"),
        pii_redact(synth).alias("redacted"),
    )
