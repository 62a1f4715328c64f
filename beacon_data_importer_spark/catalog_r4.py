"""Round-4 catalog tier: data-layout operators (bucketed co-located
joins, partition pruning, Z-order clustering), sketch audits, regression
aggregates, sliding distinct counts, semantic dedup, split-leakage
audits, k-fold assignment, and the JSONL/ORC source round-trips.

Same cross-engine parity discipline as catalog.py (cents trick, floor
micro-units, md5 hashing, id tie-breakers).  Layout queries write to a
per-session temp dir under /tmp (never the testdata) and read back —
the round-trip IS the operator under test; the oracle checks the final
relational result against the un-laid-out table, which only matches if
the layout step was lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import ORACLES, QUERIES, cents, query
from .catalog_r2 import _duck_hash64
from .operators.distinct_window import sliding_distinct_count
from .plans.staging_meter import stage_dir
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# grouped_linreg — per-nation OLS of order value vs time
# ---------------------------------------------------------------------------


@query(
    "grouped_linreg",
    oracle="""
    WITH pts AS (
      SELECT c_nationkey AS nationkey,
             CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                  AS BIGINT) AS x,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    s AS (
      SELECT nationkey,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
      FROM pts GROUP BY nationkey
    )
    SELECT nationkey,
           CAST(n AS BIGINT) AS n_orders,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6)
                AS BIGINT) AS slope_cents_per_day_e6,
           CAST(floor((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) * 1e2)
                AS BIGINT) AS intercept_cents_e2
    FROM s
    """,
)
def q_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (order value in cents vs days
    since epoch), computed from SUFFICIENT STATISTICS — n, Σx, Σy, Σxy,
    Σx² — in one map-side-combinable aggregation.  This is the
    distributed-regression shape: no per-group data collection, one
    shuffle of 5 numbers per group, merge-associative everywhere
    (the same stats stream into `applyInPandasWithState` unchanged for
    the online variant).

    Parity: the sums are exact DECIMAL(38,0) (bigint products would
    overflow past sf≈0.3; decimal keeps the aggregation
    order-independent), the final slope/intercept are single IEEE
    divisions of identical exact numerators → floor micro-units are
    drift-free cross-engine."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    y = cents(F.col("o_totalprice"))
    pts = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nationkey"),
        x.alias("x"),
        y.alias("y"),
    )
    s = pts.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "nationkey",
        F.col("n").cast("bigint").alias("n_orders"),
        F.floor(slope * 1e6).alias("slope_cents_per_day_e6"),
        F.floor(intercept * 1e2).alias("intercept_cents_e2"),
    )


# ---------------------------------------------------------------------------
# rolling_distinct_customers — sliding-window COUNT DISTINCT
# ---------------------------------------------------------------------------


@query(
    "rolling_distinct_customers",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
             AS day_no,
           CAST(count(DISTINCT o_custkey) OVER (
             PARTITION BY o_orderpriority
             ORDER BY CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                           AS BIGINT)
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS distinct_customers_90d
    FROM orders
    """,
)
def q_rolling_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT count: per order priority, the number of
    distinct customers ordering in the trailing 90 days.  Spark has no
    ``count(DISTINCT) OVER``, and the naive composition —
    ``size(array_distinct(collect_list))`` over a RANGE frame — is
    O(frame) PER ROW (measured 9.6 s warm at sf0.1, the worst query in
    the round-4 tier).  This is the LINEAR interval-union formulation
    instead:

      1. distinct (priority, custkey, day) — one exchange;
      2. per customer, merge order days closer than 90 days into
         presence islands (lag + running island id — gaps-and-islands,
         same device as event_debounce);
      3. each island [start, last+90] becomes +1/−1 boundary deltas;
      4. a running sum over each priority's deltas is the active-
         customer count at every boundary, and each order day picks
         the last boundary at-or-before it (union + LOCF — the
         resample_interpolate device, no as-of join).

    Every step is a plain window or aggregate on the same two keys; no
    per-row frame materialization anywhere, so cost is O(orders), not
    O(orders × frame).  The oracle keeps DuckDB's native
    ``count(DISTINCT) OVER RANGE`` — same result, independent
    algorithm, which is exactly what the gate should compare."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").alias("custkey"),
        day_no.alias("day"),
    )
    counted = sliding_distinct_count(base, "priority", "custkey", "day", 90)
    # re-attach to every order row (per (priority, day) the count is
    # constant, so the distinct-keyed join restores row multiplicity)
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"), day_no.alias("day_no")
        )
        .join(
            counted.withColumnsRenamed({"day": "day_no"}),
            ["priority", "day_no"],
        )
        .select(
            "priority",
            "day_no",
            F.col("active").cast("bigint").alias("distinct_customers_90d"),
        )
    )


# ---------------------------------------------------------------------------
# hll_distinct_audit — sketch estimate vs exact, with an error bound
# ---------------------------------------------------------------------------


@query(
    "hll_distinct_audit",
    oracle="""
    SELECT l_returnflag AS returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
           true AS approx_within_15pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch audit: HyperLogLog++ approximate distinct (rsd=0.05) next
    to the exact distinct, surfaced as a BOOLEAN bound check (|approx −
    exact| ≤ 15% — 3× the configured rsd, so the flag is stable by a
    wide margin) rather than the raw estimate, which no other engine
    could reproduce bit-for-bit.  This is the production discipline for
    sketches at 100 TB: the exact pass is affordable at audit scale
    (here), the sketch runs at full scale, and the audit row proves the
    error budget holds on THIS data distribution.

    Exact distinct shuffles (key, orderkey) once; the HLL aggregate is
    a fixed ~1.5 KB register set per group, merge-associative —
    map-side partials, no second shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count_distinct(F.col("l_orderkey")).alias("exact_distinct"),
        F.approx_count_distinct("l_orderkey", 0.05).alias("approx"),
    )
    rel_err = F.abs(F.col("approx") - F.col("exact_distinct")) / F.col(
        "exact_distinct"
    )
    return agg.select(
        "returnflag",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (rel_err <= 0.15).alias("approx_within_15pct"),
    )


# ---------------------------------------------------------------------------
# kfold_assignment — deterministic k-fold cross-validation folds
# ---------------------------------------------------------------------------

_KFOLD_K = 5


@query(
    "kfold_assignment",
    oracle=f"""
    SELECT
      CAST({_duck_hash64("CAST(doc_id AS VARCHAR)", seed=7)} % {_KFOLD_K}
           AS INT) AS fold,
      source,
      count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k=5) by id
    hash — the CV counterpart of dataset_split: any engine or run
    recomputes identical folds, and per-(fold, source) counts expose
    fold balance (a skewed fold invalidates the CV estimate).  One
    map-side-combinable aggregation; the hash is the engine's portable
    md5-based hash64 so the oracle replays it exactly."""
    from .functions.expressions import portable_hash64

    d = read_table(spark, sf_dir, "documents")
    fold = (
        portable_hash64(F.col("doc_id").cast("string"), seed=7) % _KFOLD_K
    ).cast("int")
    return (
        d.select(fold.alias("fold"), "source", "n_chars")
        .groupBy("fold", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ===========================================================================
# Data-layout tier: the physical-design operators a 100 TB warehouse
# lives and dies by.  Each query stages a layout into a stage dir
# (plans/staging_meter.stage_dir) ONCE per (sf_dir, session), then
# answers a relational question THROUGH the layout; the oracle answers
# the same question from the raw table, so a green row proves the
# layout step lossless AND the layout-side plan correct.
# ===========================================================================


@query(
    "bucketed_join",
    oracle="""
    SELECT c_nationkey AS nationkey,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY c_nationkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via BUCKETED table layout: orders
    and customer are written ``bucketBy(8, custkey)`` + sorted, so the
    fact⋈dim join needs NO Exchange on either side — the bucket layout
    IS the shuffle, paid once at write time and amortized over every
    subsequent join on that key.  This is the single highest-leverage
    physical design at 100 TB: a daily-joined fact table re-shuffles
    terabytes per query unbucketed, zero bucketed.

    tests/test_r4_layout.py asserts the physical plan contains no
    Exchange between the scans and the SortMergeJoin.  The oracle
    answers from the raw tables — green means the bucketed write was
    lossless and the bucket-pruned join correct."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, ct = f"r4_orders_b_{tag}", f"r4_customer_b_{tag}"

    def write(path: str) -> None:
        # external tables (explicit path): the bucket files live in the
        # stage dir, never in the warehouse dir
        for table, src, key, cols in (
            (ot, "orders", "o_custkey", ("o_orderkey", "o_custkey", "o_totalprice")),
            (ct, "customer", "c_custkey", ("c_custkey", "c_nationkey")),
        ):
            (
                read_table(spark, sf_dir, src)
                .select(*cols)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .option("path", os.path.join(path, src))
                .saveAsTable(table)
            )

    stage_dir(spark, f"bucketed|{sf_dir}", write)
    ob, cb = spark.table(ot), spark.table(ct)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
    )


@query(
    "partitioned_scan_prune",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE source IN ('src1', 'src7', 'src12')
    GROUP BY source
    """,
)
def q_partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style PARTITION PRUNING: documents are laid out
    ``partitionBy(source)``, so a source predicate is resolved against
    directory names at PLANNING time — non-matching partitions are
    never listed, opened, or read.  At 100 TB with daily × source
    partitions this is the difference between scanning 300 GB and
    300 TB for the same query; the predicate must appear under
    PartitionFilters (asserted by tests/test_r4_layout.py), not as a
    post-scan filter.

    The partition column round-trips through directory names (string
    here; typed values re-parse under partition-column inference) —
    the oracle answering from the raw table proves the round-trip
    lossless."""
    out = stage_dir(
        spark,
        f"part_docs|{sf_dir}",
        lambda path: read_table(spark, sf_dir, "documents")
        .write.partitionBy("source")
        .mode("overwrite")
        .parquet(path),
    )
    d = spark.read.parquet(out)
    return (
        d.filter(F.col("source").isin("src1", "src7", "src12"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_Z_BITS = 16
_Z_FILES = 64
# box query the pruning stat is computed for: a customer-id stripe
# crossed with a date stripe
_Z_BOX = (64, 127, 1024, 1535)  # x_lo, x_hi, y_lo, y_hi — in-domain at every test SF


def _zval_sql(x: str, y: str, bits: int = _Z_BITS) -> str:
    """Morton/Z-order interleave of two masked {bits}-bit ints — one
    shared SQL string evaluated by BOTH engines (only >>, &, <<, +)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


@query(
    "zorder_layout",
    oracle=f"""
    WITH pts AS (
      SELECT (o_custkey & {2**_Z_BITS - 1}) AS x,
             (CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                   AS BIGINT) & {2**_Z_BITS - 1}) AS y,
             o_orderkey
      FROM orders
    ),
    z AS (
      SELECT x, y, {_zval_sql("x", "y")} AS zval, o_orderkey FROM pts
    ),
    filed AS (
      SELECT x, y,
             ntile({_Z_FILES}) OVER (ORDER BY zval, o_orderkey) AS file_id
      FROM z
    )
    SELECT CAST(file_id AS INT) AS file_id,
           count(*) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
           (min(x) <= {_Z_BOX[1]} AND max(x) >= {_Z_BOX[0]}
            AND min(y) <= {_Z_BOX[3]} AND max(y) >= {_Z_BOX[2]})
             AS scanned_for_box
    FROM filed GROUP BY file_id
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering: interleave the bits of (custkey, day) into a
    Morton code, sort into {files} equal files, and report each file's
    min/max envelope per dimension plus whether a representative box
    query (custkey stripe × date stripe) would have to scan it.  A
    linear sort on either single key leaves the OTHER dimension's
    min/max spanning the whole domain (every file scanned for a
    predicate on it); the Z-curve keeps files spatially local so BOTH
    dimensions prune — this is exactly the Delta/Iceberg OPTIMIZE
    ZORDER primitive, reduced to its relational core.

    The interleave is one shared arithmetic SQL string (>> & << only)
    evaluated identically by both engines; file assignment is an exact distributed
    ntile over (zval, orderkey) — fully tie-broken, so file envelopes
    are deterministic, and computed via range partition + per-partition
    offsets (operators/order.py) so no single task ever sees the whole
    table.  The range exchange is the same cost a real OPTIMIZE ZORDER
    write pays."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    mask = 2**_Z_BITS - 1
    pts = o.select(
        F.col("o_custkey").bitwiseAND(mask).alias("x"),
        day_no.bitwiseAND(mask).alias("y"),
        "o_orderkey",
    )
    z = pts.withColumn("zval", F.expr(_zval_sql("x", "y")))
    # file assignment = ntile over the GLOBAL z order — computed with
    # the distributed range-partition + offset-table device
    # (operators/order.py), NOT a bare Window.orderBy, which would
    # funnel the whole table through one task.  Result is identical to
    # SQL ntile (tested against the window form in test_r4_layout.py).
    from .operators.order import global_ntile

    filed = global_ntile(z, _Z_FILES, ["zval", "o_orderkey"]).select(
        "x", "y", F.col("__ntile").alias("file_id")
    )
    x_lo, x_hi, y_lo, y_hi = _Z_BOX
    g = filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    return g.select(
        "file_id",
        "n_rows",
        "min_x",
        "max_x",
        "min_y",
        "max_y",
        (
            (F.col("min_x") <= x_hi)
            & (F.col("max_x") >= x_lo)
            & (F.col("min_y") <= y_hi)
            & (F.col("max_y") >= y_lo)
        ).alias("scanned_for_box"),
    )


q_zorder_layout.__doc__ = (q_zorder_layout.__doc__ or "").replace(
    "{files}", str(_Z_FILES)
)


# ---------------------------------------------------------------------------
# asof_join_nearest — nearest-in-time variant of the as-of join
# ---------------------------------------------------------------------------


@query(
    "asof_join_nearest",
    oracle="""
    SELECT purchase_id, user_id, nearest_click, gap_us FROM (
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS nearest_click,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), c.event_id
             ) AS rn
      FROM events p JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click'
      WHERE p.event_type = 'purchase'
    ) t WHERE rn = 1
    """,
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (asof_join is backward-only): each
    purchase matches the click of the same user closest in time, either
    direction — pandas ``merge_asof(direction='nearest')`` semantics,
    composed Spark-natively as equality-keyed join + per-key top-1
    window, ranked by absolute µs gap with an event-id tie-breaker.

    Scale: identical shape to asof_join — the user-id equality keys the
    shuffle, fan-out is per-user clicks × purchases (bounded by
    activity, not corpus), and the window dedups per purchase.  A
    backward-only engine needs two passes + a merge for 'nearest';
    the rank formulation does it in one."""
    e = read_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    # ts is TIMESTAMP_NTZ; the session zone is pinned UTC, so the cast to
    # instant is zero-shift and unix_micros matches DuckDB epoch_us
    gap = F.abs(
        F.unix_micros(F.col("p_ts").cast("timestamp"))
        - F.unix_micros(F.col("c_ts").cast("timestamp"))
    )
    j = p.join(c, p.user_id == c.c_user).select(
        "purchase_id", "user_id", "click_id", gap.alias("gap_us")
    )
    w = Window.partitionBy("purchase_id").orderBy("gap_us", "click_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.col("click_id").alias("nearest_click"),
            "gap_us",
        )
    )


# ===========================================================================
# Source round-trips: JSONL and ORC.  The engine's source surface grows
# beyond CSV/parquet/JDBC; the oracle answers from the raw parquet, so a
# green row proves the sink+source pair byte-lossless for these types.
# ===========================================================================

_CKSUM_MOD = 1_000_000_000


def _cksum(c: Column) -> Column:
    """Order-independent content checksum: sum of bounded per-row
    hashes (mod 1e9 keeps the bigint sum overflow-free to ~1e9 rows)."""
    from .functions.expressions import portable_hash64

    return F.sum(F.pmod(portable_hash64(c), F.lit(_CKSUM_MOD)))


@query(
    "jsonl_roundtrip",
    oracle=f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({_duck_hash64("text")} % {_CKSUM_MOD}) AS BIGINT)
             AS text_cksum
    FROM documents GROUP BY lang
    """,
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines sink + source: documents are written as JSONL (one
    object per line — the lingua franca of LLM corpus interchange) and
    read back with an EXPLICIT schema (schema inference is a full extra
    pass at 100 TB and types drift by file; production readers pin the
    schema).  Per-lang counts plus an order-independent md5 content
    checksum prove the text column — including whatever needed JSON
    escaping — round-tripped byte-exactly; the oracle never sees the
    JSONL, only the raw table."""
    out = stage_dir(
        spark,
        f"jsonl_docs|{sf_dir}",
        lambda path: read_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .json(path),
    )
    d = spark.read.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).json(out)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        _cksum(F.col("text")).alias("text_cksum"),
    )


@query(
    "orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(max(l_shipdate) AS DATE) AS max_shipdate,
           CAST(sum({_duck_hash64(
               "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
           )} % {_CKSUM_MOD}) AS BIGINT) AS key_cksum
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (the second columnar format a warehouse must
    speak): lineitem round-trips through ORC and the pricing-summary
    shape re-aggregates from the ORC copy — exact cents, a DATE
    max, and an md5 checksum over the composite row key.  Green against the parquet-side oracle proves doubles,
    dates and strings survive the format hop bit-exactly (ORC and
    parquet have different logical-type encodings for all three)."""
    out = stage_dir(
        spark,
        f"orc_lineitem|{sf_dir}",
        lambda path: read_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .orc(path),
    )
    li = spark.read.orc(out)
    return li.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
        F.max(F.col("l_shipdate").cast("date")).alias("max_shipdate"),
        _cksum(
            F.concat_ws("|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("key_cksum"),
    )


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup-style cluster-scoped embedding dedup
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35


def _semantic_dedup_oracle() -> str:
    from .catalog_more import _duck_kmeans_ctes

    # Pre-normalized form: cosine(a,b) == dot(â,b̂).  Each engine
    # normalizes once per VECTOR (identical IEEE divide-by-norm), so
    # the per-PAIR work is a single dot product — the arithmetic is
    # elementwise-identical cross-engine, keeping the >= tau compare
    # deterministic exactly as the unnormalized form was.
    return f"""
    WITH {_duck_kmeans_ctes()},
    asg AS MATERIALIZED (
      SELECT vec_id, cluster,
             list_transform(ev, x -> x / sqrt(list_dot_product(ev, ev)))
               AS uv
      FROM fin WHERE rn = 1
    ),
    dup AS MATERIALIZED (
      SELECT DISTINCT r.vec_id
      FROM asg l JOIN asg r
        ON l.cluster = r.cluster AND l.vec_id < r.vec_id
      WHERE list_dot_product(l.uv, r.uv) >= {_SEMDEDUP_TAU}
    )
    SELECT a.vec_id, a.cluster,
           a.vec_id NOT IN (SELECT vec_id FROM dup) AS keep
    FROM asg a
    """


@query(
    "semantic_dedup",
    oracle=None,  # assigned below — composes the kmeans CTE chain
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): k-means
    partitions the embedding space, exact cosine runs only WITHIN each
    cluster, and every vector with a higher-id cosine-≥τ neighbor in
    its cluster is dropped (lowest id survives — same first-wins rule
    as the MinHash tier).  This is the third dedup modality next to
    lexical (MinHash/SimHash) and LSH-bucketed embedding pairs: the
    cluster scope finds paraphrase-level duplicates hyperplane buckets
    can miss, at pair cost n·(n/k) instead of n².

    100 TB: k scales with the corpus so cluster population (n/k) stays
    constant — the within-cluster expansion is then linear in n; the
    centroid fit is the bounded-driver-state kmeans of
    operators/kmeans.py, and assignment is a broadcast narrow pass.
    Everything after assignment is one cluster-keyed shuffle.

    Per-pair cost: vectors are NORMALIZED ONCE after assignment, so
    each pair pays a single dot product instead of dot+2 norms —
    measured 8.8 s → ~3 s warm at sf0.1 (the pair stage is the whole
    cost).  The oracle normalizes the same way, so the >= τ compare
    stays an identical-IEEE comparison."""
    from .catalog_more import _kmeans_fit_cached
    from .operators import similarity as SIM
    from .operators.kmeans import assign_clusters

    e = read_table(spark, sf_dir, "embeddings")
    centroids = _kmeans_fit_cached(spark, sf_dir)
    assigned = assign_clusters(e, centroids, "vec_id", "embedding")
    asg = assigned.select(
        F.col("id").alias("vec_id"),
        "cluster",
        F.transform(
            "vec", lambda x: x.cast("double") / SIM.norm(F.col("vec"))
        ).alias("uv"),
    )
    # Explicit cluster-keyed repartition of the probe side: the tiny
    # post-shuffle bytes otherwise make AQE coalesce the pair join to a
    # SINGLE partition, serializing the within-cluster dot evaluation
    # (measured ~3.9 s single-core at sf0.1; r11 round, guide §2).  The
    # explicit count pins the join width; pair membership is per-row
    # arithmetic, so partitioning cannot change the output.
    l = asg.repartition(
        spark.sparkContext.defaultParallelism, "cluster"
    ).select(
        "cluster", F.col("vec_id").alias("a"), F.col("uv").alias("ua")
    )
    r = asg.select(
        "cluster", F.col("vec_id").alias("b"), F.col("uv").alias("ub")
    )
    dup = (
        l.join(r, "cluster")
        .filter(F.col("a") < F.col("b"))
        .filter(SIM.dot("ua", "ub") >= _SEMDEDUP_TAU)
        .select(F.col("b").alias("vec_id"))
        .distinct()
    )
    return asg.join(dup.withColumn("__dup", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
    )


ORACLES["semantic_dedup"] = _semantic_dedup_oracle()


# ---------------------------------------------------------------------------
# split_leakage_report — cross-split near-dup contamination audit
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    from .catalog_ext import _duck_minhash_sig_cte
    from .catalog_r3b import _DUCK_LSH_PAIRS

    def split_case(idexpr: str) -> str:
        h = _duck_hash64(f"CAST({idexpr} AS VARCHAR)")
        return (
            f"CASE WHEN {h} % 100 < 90 THEN 'train' "
            f"WHEN {h} % 100 < 95 THEN 'val' ELSE 'test' END"
        )

    return f"""
    WITH {_duck_minhash_sig_cte()},
    {_DUCK_LSH_PAIRS},
    labeled AS MATERIALIZED (
      SELECT least({split_case("a")}, {split_case("b")}) AS split_lo,
             greatest({split_case("a")}, {split_case("b")}) AS split_hi
      FROM pairs
    )
    SELECT split_lo, split_hi,
           count(*) AS n_pairs,
           (split_lo != split_hi) AS leaked
    FROM labeled GROUP BY split_lo, split_hi
    """


@query(
    "split_leakage_report",
    oracle=None,  # assigned below — composes the corpus-LSH fragments
)
def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split LEAKAGE audit: the production near-dup detector's
    candidate pairs (shared corpus-LSH staging, plans/corpus_lsh.py)
    crossed with the deterministic train/val/test assignment
    (dataset_split's hash rule) — every pair straddling a split
    boundary is an eval-contamination path.  This is the audit that
    must gate any split shipped from a deduplicated corpus: a grouped
    split (dataset_split_grouped) exists precisely to drive the
    leaked rows to zero, and THIS query is the measurement.

    Scale: pairs are same-LSH-bucket only (capped fan-out), the split
    label is a per-row hash — no join against the corpus needed — and
    the report is a 6-row aggregate."""
    from .operators.sampling import split_assign
    from .plans.corpus_lsh import corpus_candidate_pairs

    pairs = corpus_candidate_pairs(spark, sf_dir)
    sa = split_assign("id_a", 90, 5)
    sb = split_assign("id_b", 90, 5)
    labeled = pairs.select(
        F.least(sa, sb).alias("split_lo"),
        F.greatest(sa, sb).alias("split_hi"),
    )
    return labeled.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.col("split_lo") != F.col("split_hi")).alias("leaked"),
    )


ORACLES["split_leakage_report"] = _split_leakage_oracle()


# ===========================================================================
# Round-4 EXTRAS (slots are full at 50): aggregate argmax breadth,
# irregular-timeseries integration, weighted percentiles, and
# merkle-style snapshot reconciliation.
# ===========================================================================


@query(
    "argmax_per_group",
    oracle="""
    SELECT nationkey, top_customer, top_acctbal_cents,
           bottom_customer, bottom_acctbal_cents FROM (
      SELECT c_nationkey AS nationkey,
        first_value(c_name) OVER (
          PARTITION BY c_nationkey
          ORDER BY round(c_acctbal * 100) DESC, c_custkey DESC
        ) AS top_customer,
        first_value(CAST(round(c_acctbal * 100) AS BIGINT)) OVER (
          PARTITION BY c_nationkey
          ORDER BY round(c_acctbal * 100) DESC, c_custkey DESC
        ) AS top_acctbal_cents,
        first_value(c_name) OVER (
          PARTITION BY c_nationkey
          ORDER BY round(c_acctbal * 100) ASC, c_custkey ASC
        ) AS bottom_customer,
        first_value(CAST(round(c_acctbal * 100) AS BIGINT)) OVER (
          PARTITION BY c_nationkey
          ORDER BY round(c_acctbal * 100) ASC, c_custkey ASC
        ) AS bottom_acctbal_cents,
        row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      FROM customer
    ) t WHERE rn = 1
    """,
)
def q_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate ARGMAX/ARGMIN (``max_by``/``min_by``): the customer
    holding each nation's max and min balance — as a single hash
    aggregate, NOT a window.  The distinction matters at scale: a
    window rank materializes and sorts every row per group; max_by is
    map-side combinable (constant state per group — the current best
    struct), so the exchange carries one candidate per partition per
    group.  Determinism: the ordering struct is (cents, custkey) —
    totally ordered, so ties cannot flip cross-engine.  The oracle
    computes the same rows via first_value windows (the result is
    algorithm-independent)."""
    c = read_table(spark, sf_dir, "customer")
    ordkey = F.struct(
        cents(F.col("c_acctbal")).alias("bal"), F.col("c_custkey").alias("k")
    )
    return (
        c.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.max_by("c_name", ordkey).alias("top_customer"),
            F.max(cents(F.col("c_acctbal"))).alias("top_acctbal_cents"),
            F.min_by("c_name", ordkey).alias("bottom_customer"),
            F.min(cents(F.col("c_acctbal"))).alias("bottom_acctbal_cents"),
        )
    )


@query(
    "time_weighted_avg",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS t,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS t_next
      FROM events WHERE event_type = 'view'
    ),
    seg AS (
      SELECT user_id, v_c * (t_next - t) AS area, t_next - t AS dt
      FROM pts WHERE t_next IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(floor(CAST(sum(area) AS DOUBLE) / CAST(sum(dt) AS DOUBLE)
                      * 1e4) AS BIGINT) AS twa_e6
    FROM seg GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average over irregular samples (the metric a
    sampled gauge needs — a plain avg over-weights bursty periods):
    each view's value holds until the user's next view (left-continuous
    step function), so TWA = Σ vᵢ·Δtᵢ / ΣΔtᵢ with Δt from a lead
    window.  One (user_id) exchange serves both the lead and the
    aggregate.

    Parity: value→cents and Δt→exact µs make each segment area an
    exact bigint; the single final division is IEEE over identical
    ints (floor e4·cents = e6 of the raw value)."""
    e = read_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(t, F.col("event_id"))
    pts = (
        e.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            t.alias("t"),
            cents(F.col("value")).alias("v_c"),
            F.lead(t).over(w).alias("t_next"),
        )
        .filter(F.col("t_next").isNotNull())
    )
    seg = pts.select(
        "user_id",
        (F.col("v_c") * (F.col("t_next") - F.col("t"))).alias("area"),
        (F.col("t_next") - F.col("t")).alias("dt"),
    )
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.floor(
            F.sum("area").cast("double") / F.sum("dt").cast("double") * 1e4
        ).alias("twa_e6"),
    )


@query(
    "weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_quantity * 100) AS BIGINT) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    c AS (
      SELECT returnflag, price_c, wt,
        sum(wt) OVER (
          PARTITION BY returnflag
          ORDER BY price_c, l_orderkey, l_linenumber
        ) AS cumw,
        sum(wt) OVER (PARTITION BY returnflag) AS total
      FROM w
    )
    SELECT returnflag,
           CAST(min(price_c) AS BIGINT) AS weighted_median_cents,
           CAST(min(total) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cumw >= total
    GROUP BY returnflag
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median (here: price weighted by quantity — "the price
    at which half the volume trades", which an unweighted median like
    exact_quantiles' misstates): one running-weight window over a
    totally-ordered sort, then the first row whose cumulative weight
    reaches half the total.  All integer arithmetic (cents × cents).

    r11 (guide §2.2): the Spark side cumulates the per-PRICE weight
    HISTOGRAM instead of the row stream — the selected value is
    min price p with 2·W(≤p) ≥ total, and the row form's within-price
    tie-break rows can only satisfy the filter if the price's LAST row
    does, so the histogram pick is the identical value (exact
    integers).  The volume-bearing stage becomes a map-side
    combinable (flag, price) sum; the window sorts the bounded
    distinct-price frame.  The DuckDB oracle keeps the row form."""
    li = read_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("returnflag"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        cents(F.col("l_quantity")).alias("wt"),
    )
    hist = base.groupBy("returnflag", "price_c").agg(
        F.sum("wt").alias("cw")
    )
    win = Window.partitionBy("returnflag").orderBy("price_c")
    tot = Window.partitionBy("returnflag")
    c = hist.select(
        "returnflag",
        "price_c",
        F.sum("cw").over(win).alias("cumw"),
        F.sum("cw").over(tot).alias("total"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("returnflag")
        .agg(
            F.min("price_c").alias("weighted_median_cents"),
            F.min("total").alias("total_weight"),
        )
    )


_CKBUCKETS = 64


@query(
    "bucket_checksum_diff",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders
    ),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 97 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 1
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS price_c
      FROM orders WHERE o_orderkey % 101 != 0
    ),
    ck AS (
      SELECT 'old' AS side, k % {_CKBUCKETS} AS bucket,
             count(*) AS n,
             sum({_duck_hash64(
                 "CAST(k AS VARCHAR) || '|' || CAST(price_c AS VARCHAR)"
             )} % {_CKSUM_MOD}) AS cksum
      FROM old GROUP BY 2
      UNION ALL
      SELECT 'new', k % {_CKBUCKETS}, count(*),
             sum({_duck_hash64(
                 "CAST(k AS VARCHAR) || '|' || CAST(price_c AS VARCHAR)"
             )} % {_CKSUM_MOD})
      FROM new GROUP BY 2
    )
    SELECT o.bucket,
           CAST(o.n AS BIGINT) AS n_old, CAST(n.n AS BIGINT) AS n_new,
           (o.cksum != n.cksum) AS differs
    FROM (SELECT * FROM ck WHERE side = 'old') o
    JOIN (SELECT * FROM ck WHERE side = 'new') n USING (bucket)
    """,
)
def q_bucket_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot reconciliation: instead of full-outer
    diffing two 100 TB snapshots row-by-row (snapshot_diff), compare
    {b} per-bucket content checksums — each an order-independent sum
    of bounded row hashes — and only the buckets that differ need the
    row-level pass.  Bandwidth drops from O(table) to O(buckets) on
    the equal portion, which is the anti-entropy trick replicated
    storage systems use.  The 'new' snapshot here is the old one with
    deterministic mutations (1/97 updated, 1/101 deleted), so the
    expected differing-bucket set is fixed and the oracle replays it
    exactly."""
    from .functions.expressions import portable_hash64

    o = read_table(spark, sf_dir, "orders")
    old = o.select(
        F.col("o_orderkey").alias("k"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    new = (
        o.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 97 == 0,
                cents(F.col("o_totalprice")) + 1,
            )
            .otherwise(cents(F.col("o_totalprice")))
            .alias("price_c"),
        )
    )

    def bucketsum(df: DataFrame, n_alias: str, ck_alias: str) -> DataFrame:
        row = F.concat_ws(
            "|", F.col("k").cast("string"), F.col("price_c").cast("string")
        )
        return df.groupBy((F.col("k") % _CKBUCKETS).alias("bucket")).agg(
            F.count(F.lit(1)).alias(n_alias),
            F.sum(F.pmod(portable_hash64(row), F.lit(_CKSUM_MOD))).alias(
                ck_alias
            ),
        )

    a = bucketsum(old, "n_old", "ck_old")
    b = bucketsum(new, "n_new", "ck_new")
    return a.join(b, "bucket").select(
        "bucket",
        "n_old",
        "n_new",
        (F.col("ck_old") != F.col("ck_new")).alias("differs"),
    )


q_bucket_checksum_diff.__doc__ = (q_bucket_checksum_diff.__doc__ or "").format(
    b=_CKBUCKETS
)


@query(
    "quantile_sketch_audit",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
    ),
    ranked AS (
      SELECT returnflag, price_c,
             row_number() OVER (PARTITION BY returnflag ORDER BY price_c)
               AS rk,
             count(*) OVER (PARTITION BY returnflag) AS n
      FROM r
    )
    SELECT returnflag,
           CAST(max(CASE WHEN 2 * rk <= n + 1 THEN price_c END) AS BIGINT)
             AS exact_p50_cents,
           true AS approx_within_5pct_rank
    FROM ranked GROUP BY returnflag
    """,
)
def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch audit, same discipline as hll_distinct_audit:
    ``approx_percentile`` (the KLL/GK-style mergeable sketch Spark uses
    — constant memory per group, one pass) is audited against the
    EXACT median, surfaced as a rank-error bound flag: the sketch's
    answer must sit within ±5% of the true rank.  accuracy=10000
    guarantees ±0.01% rank error, so the flag holds with 500× margin —
    stable, unlike the raw estimate, which no second engine
    reproduces.  At 100 TB the exact window pass is the audit-scale
    luxury; the sketch is the production path."""
    li = read_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("returnflag"),
        cents(F.col("l_extendedprice")).alias("price_c"),
    )
    # Two-phase exact median over the (flag, price) COUNT histogram
    # (r11 optimization round; guide §2.2 + §2.5 — the distributed
    # exact-quantile shape): the old row_number window sorted the full
    # stream inside 3 returnflag partitions, and even the flat
    # histogram cumulation kept a ~460k-row window in 3 serial tasks.
    # Now: (1) the histogram groupBy runs behind an explicit keyed
    # repartition (the single-split scan otherwise builds the 460k-
    # entry partial hash map on ONE core), (2) a BOUNDED per-(flag,
    # price-bucket) rollup is cumulated (few hundred rows), (3) the
    # one bucket containing rank r* = (n+1) div 2 is located per flag,
    # and (4) only THAT bucket's histogram slice is cumulated to pick
    # the value whose first rank cum−c+1 ≤ r* — the same VALUE the
    # row_number form selected (tie resolution cannot move a rank
    # across values).  rank_approx == count(price ≤ approx_p50) is a
    # plain conditional aggregate over the histogram — no window.
    width = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    hist = (
        base.repartition(width, "returnflag", "price_c")
        .groupBy("returnflag", "price_c")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    _QSA_B = 1 << 20  # ~$10.5k bucket width in cents → few hundred buckets
    hb = hist.groupBy(
        "returnflag", F.expr(f"price_c div {_QSA_B}").alias("b")
    ).agg(F.sum("c").alias("bc"))
    wb = (
        Window.partitionBy("returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hbc = hb.withColumn("bcum", F.sum("bc").over(wb)).withColumn(
        "n_g", F.sum("bc").over(Window.partitionBy("returnflag"))
    )
    tgt = (
        hbc.withColumn("rstar", F.expr("(n_g + 1) div 2"))
        .filter(F.col("bcum") >= F.col("rstar"))
        .groupBy("returnflag")
        .agg(F.min(F.struct("b", "bc", "bcum", "rstar")).alias("m"))
        .select(
            "returnflag",
            F.col("m.b").alias("b"),
            (F.col("m.bcum") - F.col("m.bc")).alias("prev_cum"),
            F.col("m.rstar").alias("rstar"),
        )
    )
    wv = (
        Window.partitionBy("returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    exact = (
        hist.join(
            F.broadcast(tgt),
            (hist["returnflag"] == tgt["returnflag"])
            & (F.expr(f"price_c div {_QSA_B}") == tgt["b"]),
        )
        .drop(tgt["returnflag"])
        .withColumn("wcum", F.sum("c").over(wv))
        .filter(
            F.col("prev_cum") + F.col("wcum") - F.col("c") < F.col("rstar")
        )
        .groupBy("returnflag")
        .agg(F.max("price_c").alias("exact_p50_cents"))
    )
    approx = base.groupBy("returnflag").agg(
        F.percentile_approx("price_c", 0.5, 10000).alias("approx_p50"),
        F.count(F.lit(1)).alias("n"),
    )
    # rank of the approx answer must lie within ±5% of n/2
    joined = exact.join(approx, "returnflag")
    rank_of_approx = (
        hist.join(
            F.broadcast(joined.select("returnflag", "approx_p50")),
            "returnflag",
        )
        .filter(F.col("price_c") <= F.col("approx_p50"))
        .groupBy("returnflag")
        .agg(F.sum("c").alias("rank_approx"))
    )
    return (
        joined.join(rank_of_approx, "returnflag")
        .select(
            "returnflag",
            "exact_p50_cents",
            (
                F.abs(F.col("rank_approx") - F.col("n") / 2)
                <= F.col("n") * 0.05
            ).alias("approx_within_5pct_rank"),
        )
    )


@query(
    "chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS o
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    margins AS (
      SELECT seg, pri, o,
             sum(o) OVER (PARTITION BY seg) AS row_t,
             sum(o) OVER (PARTITION BY pri) AS col_t,
             sum(o) OVER () AS n
      FROM obs
    )
    SELECT seg, pri, o,
           CAST(floor(CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE)
                      * 1e2) AS BIGINT) AS expected_e2,
           CAST(floor(
             (CAST(o AS DOUBLE)
              - CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE)
                - CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(row_t * col_t AS DOUBLE) / CAST(n AS DOUBLE))
             * 1e6) AS BIGINT) AS chi2_term_e6
    FROM margins
    """,
)
def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency analysis (segment × order priority):
    observed vs expected-under-independence counts and each cell's χ²
    contribution — the categorical counterpart of ab_test_ztest.  One
    groupBy builds the table; the margins are windows over the
    (|seg|×|pri|)-row contingency frame, so the heavy exchange is the
    initial count only.  Expected counts and χ² terms are single-IEEE-
    expression floors over exact integer margins — bit-stable
    cross-engine."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    obs = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = obs.select(
        "seg",
        "pri",
        "o",
        F.sum("o").over(Window.partitionBy("seg")).alias("row_t"),
        F.sum("o").over(Window.partitionBy("pri")).alias("col_t"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    expected = (F.col("row_t") * F.col("col_t")).cast("double") / F.col(
        "n"
    ).cast("double")
    dev = F.col("o").cast("double") - expected
    return m.select(
        "seg",
        "pri",
        "o",
        F.floor(expected * 1e2).alias("expected_e2"),
        F.floor(dev * dev / expected * 1e6).alias("chi2_term_e6"),
    )


@query(
    "benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    )
    SELECT digit,
           count(*) AS n,
           CAST(count(*) * 1000000 // (SELECT count(*) FROM d) AS BIGINT)
             AS observed_ppm,
           CAST(floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 1e6) AS BIGINT)
             AS benford_ppm
    FROM d GROUP BY digit
    """,
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the forensic data-quality screen for
    fabricated or truncated numeric columns: observed leading-digit
    shares (exact integer ppm) next to the Benford expectation
    log10(1+1/d).  One scan + a 9-row aggregate; the total rides along
    as a broadcast scalar.  Deviations don't prove fraud, but a
    uniform first-digit histogram on a spend column is the classic
    symptom of synthetic data — worth one cheap scan at intake."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(cents(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    total = d.agg(F.count(F.lit(1)).alias("t"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("CAST(n * 1000000 DIV t AS BIGINT)").alias("observed_ppm"),
            F.floor(
                F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                / F.log(F.lit(10.0))
                * 1e6
            ).alias("benford_ppm"),
        )
    )


_QLR_BUCKETS = 16


@query(
    "quality_lr_score",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, u.tok
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    ),
    feats AS MATERIALIZED (
      SELECT doc_id,
             CAST('0x' || substring(md5('0|' || tok), 1, 15) AS BIGINT)
               % {_QLR_BUCKETS} AS bucket,
             count(*) AS tf,
             sum(count(*)) OVER (PARTITION BY doc_id) AS n
      FROM toks GROUP BY doc_id, bucket
    ),
    wts AS (
      SELECT CAST(r.range AS BIGINT) AS bucket,
             CAST('0x' || substring(
                md5('w|' || CAST(r.range AS VARCHAR)), 1, 8)
              AS BIGINT) % 2001 - 1000 AS wint
      FROM range({_QLR_BUCKETS}) r
    )
    SELECT f.doc_id,
           CAST(floor(CAST(sum(wint * tf) AS DOUBLE)
                      / CAST(1000 * min(n) AS DOUBLE)
                      * 1e6) AS BIGINT) AS lr_score_e6
    FROM feats f JOIN wts USING (bucket)
    GROUP BY f.doc_id
    """,
)
def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (the FineWeb-Edu / DCLM filter
    shape): score = w · x over hashed-token term frequencies — LINEAR
    MODEL INFERENCE as one JVM-side plan.  The weight vector is a
    {b}-row broadcast table (here derived deterministically from md5 so
    the oracle can replay it; in production it is the trained
    classifier's coefficients loaded from a file): batch scoring a
    100 TB corpus is then tokenize → hash → tf → broadcast-join → one
    partial-summed dot product per doc — no vocabulary state, no
    Python, no model server.

    The raw linear score is emitted (monotone to the sigmoid, so any
    threshold decision is identical) because exp() is not a
    correctly-rounded operation — engines' libm may differ by an ulp,
    which the parity discipline forbids.  The dot product itself is
    EXACT integer arithmetic (milli-unit integer weights × integer
    term frequencies — float summation order flipped floors in the
    first cut), with one IEEE division by 1000·n at the end."""
    from .catalog_ext import _docs_parallel
    from .functions.expressions import portable_hash64
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select("doc_id", F.explode(_tokens("text")).alias("tok"))
    feats = toks.groupBy(
        "doc_id",
        F.pmod(portable_hash64(F.col("tok")), F.lit(_QLR_BUCKETS))
        .cast("bigint")
        .alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("tf"))
    feats = feats.withColumn(
        "n", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    w_expr = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w|"), F.col("id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    wts = spark.range(_QLR_BUCKETS).select(
        F.col("id").cast("bigint").alias("bucket"), w_expr.alias("wint")
    )
    # exact integer dot product (weights in milli-units x integer tf),
    # ONE IEEE division at the end — summation order cannot matter
    scored = (
        feats.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            F.floor(
                F.sum(F.col("wint") * F.col("tf")).cast("double")
                / (1000 * F.min("n")).cast("double")
                * 1e6
            ).alias("lr_score_e6")
        )
    )
    return scored


q_quality_lr_score.__doc__ = (q_quality_lr_score.__doc__ or "").format(
    b=_QLR_BUCKETS
)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio'
             ELSE 'video' END AS media_type,
        text
      FROM documents
    ),
    dec AS (
      SELECT media_id,
        CAST(CASE WHEN media_type = 'image' THEN 1
                  ELSE 1 + (CAST('0x' || substring(md5(text), 5, 2) AS INT)
                            % 64)
             END AS INT) AS n_frames
      FROM m
    )
    SELECT media_id,
           CAST(u.i AS INT) AS frame_idx,
           md5(CAST(media_id AS VARCHAR) || '|' || CAST(u.i AS VARCHAR))
             AS frame_md5
    FROM (SELECT media_id,
                 list_filter(range(0, n_frames), x -> x % 8 = 0) AS idxs
          FROM dec) t,
         unnest(t.idxs) AS u(i)
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out as a first-class verified query: decode
    metadata (Arrow mapInPandas, stub codec) → one row per 8th frame
    per media item — the 1→N media UDTF shape an image/video pipeline
    hangs feature extraction off.  The decode stays behind Arrow
    mapInPandas (the real-codec seam); the fan-out itself is native
    explode(sequence(...)) + md5 — JVM-side, no second Python stage
    (VERDICT r10 item 6; operators/multimodal.py sample_frames keeps
    the batch-iterator form for when per-frame payload extraction is
    real).  Per-frame downstream work keys on (media_id, frame_idx).  The
    oracle replays the deterministic stub (n_frames from the payload
    md5, frame hash from id|idx), proving batch shape and fan-out
    arithmetic end-to-end."""
    from .catalog_ext import _docs_parallel
    from .operators import multimodal as MM

    d = _docs_parallel(spark, sf_dir, n=8)
    media = MM.media_from_documents(d)
    decoded = MM.decode_media(media)
    return MM.sample_frames_native(decoded, every_k=8)


@query(
    "multimodal_resize_plan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, text FROM documents
    ),
    dec AS (
      SELECT media_id,
        CAST(16 + (CAST('0x' || substring(md5(text), 1, 2) AS INT) % 240)
             AS INT) AS width,
        CAST(16 + (CAST('0x' || substring(md5(text), 3, 2) AS INT) % 240)
             AS INT) AS height
      FROM m
    )
    SELECT media_id, width, height,
      CAST(floor(width * least(64e0 / width, 64e0 / height)) AS INT)
        AS target_width,
      CAST(floor(height * least(64e0 / width, 64e0 / height)) AS INT)
        AS target_height
    FROM dec
    """,
)
def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over decoded media metadata: aspect-preserving
    target dims (longer side → 64) as PURE Column arithmetic — the
    metadata half of a resize stage is engine work; only the pixel
    resample belongs in the codec stub.  Composes decode_media →
    resize_meta; the oracle replays the stub's md5-derived dims and the
    same least/floor arithmetic."""
    from .catalog_ext import _docs_parallel
    from .operators import multimodal as MM

    d = _docs_parallel(spark, sf_dir, n=8)
    decoded = MM.decode_media(MM.media_from_documents(d))
    return MM.resize_meta(decoded, max_side=64)


_WALK_STEPS = 3


def _walks_oracle() -> str:
    # symmetric edges, then 3 chained hash-argmin steps
    h = lambda cur, step, nb: (  # noqa: E731
        f"CAST('0x' || substring(md5('0|walk|' || CAST({cur} AS VARCHAR) "
        f"|| '|' || CAST({step} AS VARCHAR) || '|' "
        f"|| CAST({nb} AS VARCHAR)), 1, 15) AS BIGINT)"
    )
    steps = []
    prev = "w0"
    steps.append(
        "w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS cur "
        "FROM sym)"
    )
    for i in range(1, _WALK_STEPS + 1):
        steps.append(f"""w{i} AS MATERIALIZED (
      SELECT start, nxt AS cur FROM (
        SELECT p.start, e.dst AS nxt,
               row_number() OVER (
                 PARTITION BY p.start
                 ORDER BY {h("p.cur", i, "e.dst")}, e.dst
               ) AS rn
        FROM {prev} p JOIN sym e ON e.src = p.cur
      ) t WHERE rn = 1
    )""")
        prev = f"w{i}"
    return ",\n    ".join(steps)


@query(
    "random_walks",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT l.a, l.b FROM (
        SELECT x.c1 AS a, y.c1 AS b
        FROM (SELECT DISTINCT l_partkey AS pk, o_custkey AS c1
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey) x
        JOIN (SELECT DISTINCT l_partkey AS pk, o_custkey AS c1
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey) y
          ON x.pk = y.pk AND x.c1 < y.c1
        GROUP BY x.c1, y.c1
        HAVING count(*) >= 3
      ) l
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b, a FROM e0
    ),
    {_walks_oracle()}
    SELECT start AS start_node, cur AS end_node FROM w{_WALK_STEPS}
    """,
)
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random walks over the co-purchase graph — the
    DeepWalk/node2vec sampling primitive, RNG-free: at each step the
    walker at ``cur`` moves to the neighbor minimizing
    ``hash(walk|cur|step|neighbor)``, so any engine, run, or partition
    layout reproduces the identical {k}-step walk from every start
    node (the property a training-data sampler needs — re-running the
    corpus build cannot reshuffle walk corpora).

    Plan: per step, one join of the walker frontier (|V| rows) against
    the symmetric edge list + a per-walker top-1 window — the same
    bounded-rounds device as bfs_hops/pagerank_parts; the hash-argmin
    IS the alias-table sample of the uniform walk.  The oracle replays
    each step as a chained CTE."""
    from .functions.expressions import portable_hash64
    from .plans.co_purchase import co_purchase_edges

    edges = co_purchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.localCheckpoint()

    walk = sym.select(F.col("src").alias("start")).distinct().select(
        "start", F.col("start").alias("cur")
    )
    for step in range(1, _WALK_STEPS + 1):
        hcol = portable_hash64(
            F.concat(
                F.lit("walk|"),
                F.col("cur").cast("string"),
                F.lit(f"|{step}|"),
                F.col("dst").cast("string"),
            )
        )
        w = Window.partitionBy("start").orderBy(hcol, F.col("dst"))
        walk = (
            walk.join(sym, walk.cur == sym.src)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("start", F.col("dst").alias("cur"))
        )
    return walk.select(
        F.col("start").alias("start_node"), F.col("cur").alias("end_node")
    )


q_random_walks.__doc__ = (q_random_walks.__doc__ or "").format(k=_WALK_STEPS)


_NEYMAN_TOTAL = 1000


@query(
    "neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT c_nationkey AS nationkey,
             CAST(count(*) AS DECIMAL(38,0)) AS nh,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                           AS DECIMAL(38,0))
                      * CAST(round(c_acctbal * 100) AS BIGINT))
                  AS DECIMAL(38,0)) AS sxx
      FROM customer GROUP BY c_nationkey
    ),
    wts AS (
      SELECT nationkey, CAST(nh AS BIGINT) AS n_pop,
             CAST(floor(
               CAST(nh AS DOUBLE)
                 * sqrt(greatest(
                     CAST(nh * sxx - sx * sx AS DOUBLE)
                       / CAST(nh * nh AS DOUBLE),
                     0e0))
                 * 1e6) AS BIGINT) AS wq
      FROM s
    ),
    base AS (
      SELECT nationkey, n_pop, wq,
             sum(wq) OVER () AS wtot
      FROM wts
    ),
    fl AS (
      SELECT nationkey, n_pop,
             CAST(floor(CAST({_NEYMAN_TOTAL} * wq AS DOUBLE)
                        / CAST(wtot AS DOUBLE)) AS BIGINT) AS base_n,
             CAST({_NEYMAN_TOTAL} * wq AS DOUBLE) / CAST(wtot AS DOUBLE)
               - floor(CAST({_NEYMAN_TOTAL} * wq AS DOUBLE)
                       / CAST(wtot AS DOUBLE)) AS rem
      FROM base
    ),
    ranked AS (
      SELECT nationkey, n_pop, base_n,
             row_number() OVER (ORDER BY rem DESC, nationkey) AS rk,
             {_NEYMAN_TOTAL} - sum(base_n) OVER () AS short
      FROM fl
    )
    SELECT nationkey, n_pop,
           CAST(base_n + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
             AS allocated
    FROM ranked
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (optimal) allocation for stratified sampling: a fixed
    budget of {t} samples split across strata ∝ N_h·σ_h — the
    variance-minimizing allocation, vs the proportional-to-size rule
    stratified_exact_sample uses.  Strata variances come from the
    one-pass sufficient-stat aggregate (same device as
    grouped_linreg: exact DECIMAL sums, single IEEE sqrt), and the
    integer allocation uses largest-remainder rounding with a
    nationkey tie-break — deterministic, sums exactly to the budget.
    The per-stratum weight is quantized to micro-unit BIGINTs before
    the cross-strata total (an unordered float sum would be ULP-
    order-sensitive and could flip a floor/remainder-rank boundary);
    the only IEEE op after quantization is one exactly-rounded
    division per stratum.

    Plan: one scan + 25-row window math; the allocation table then
    drives the per-stratum hash-ranked take (source_quota_sample's
    device) at any scale."""
    c = read_table(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    bal = cents(F.col("c_acctbal"))
    s = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).cast(dec).alias("nh"),
        F.sum(bal).cast(dec).alias("sx"),
        F.sum(bal.cast(dec) * bal).cast(dec).alias("sxx"),
    )
    var = F.greatest(
        (F.col("nh") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / (F.col("nh") * F.col("nh")).cast("double"),
        F.lit(0.0),
    )
    wts = s.select(
        "nationkey",
        F.col("nh").cast("bigint").alias("n_pop"),
        F.floor(F.col("nh").cast("double") * F.sqrt(var) * F.lit(1e6))
        .cast("bigint")
        .alias("wq"),
    )
    wall = Window.partitionBy()
    base = wts.withColumn("wtot", F.sum("wq").over(wall))
    share = (F.lit(_NEYMAN_TOTAL) * F.col("wq")).cast("double") / F.col(
        "wtot"
    ).cast("double")
    fl = base.select(
        "nationkey",
        "n_pop",
        F.floor(share).alias("base_n"),
        (share - F.floor(share)).alias("rem"),
    )
    ranked = fl.select(
        "nationkey",
        "n_pop",
        "base_n",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "nationkey"))
        .alias("rk"),
        (F.lit(_NEYMAN_TOTAL) - F.sum("base_n").over(wall)).alias("short"),
    )
    return ranked.select(
        "nationkey",
        "n_pop",
        (
            F.col("base_n")
            + F.when(F.col("rk") <= F.col("short"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated"),
    )


q_neyman_allocation.__doc__ = (q_neyman_allocation.__doc__ or "").format(
    t=_NEYMAN_TOTAL
)


_BOM_FANOUT = 8
_BOM_LEVELS = 6  # 8^6 > any part key at the test SFs


@query(
    "bom_rollup",
    oracle=f"""
    WITH parts AS (
      SELECT p_partkey AS p,
             CAST(round(p_retailprice * 100) AS BIGINT) AS v
      FROM part
    ),
    anc AS (
      SELECT p, v, u.node
      FROM (
        SELECT p, v,
               list_distinct([
                 {", ".join(f"p // {_BOM_FANOUT**i}" for i in range(_BOM_LEVELS + 1))}
               ]) AS nodes
        FROM parts
      ) t, unnest(t.nodes) AS u(node)
    )
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_subtree_parts,
           CAST(sum(v) AS BIGINT) AS subtree_value_cents
    FROM anc GROUP BY node
    HAVING count(*) > 1
    """,
)
def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials / hierarchy rollup WITHOUT recursion: every
    part sits in a synthetic {f}-ary assembly tree (parent = key div
    {f}); each row explodes its own ancestor chain — a CLOSED-FORM
    bounded array, {lv}+1 integer divides — and one aggregate then
    yields every assembly node's subtree size and rolled-up value.

    This is the scale-correct shape for hierarchical aggregation: a
    recursive CTE iterates depth times over the full table with a
    shuffle per round, while the ancestor-explode is ONE map-side
    array expansion (rows × depth, generated in the scan stage) + ONE
    aggregation — the same flattening trick hierarchical dimensions
    (org charts, category trees, file systems) use in warehouse
    practice.  Leaf-only nodes are filtered (HAVING count > 1) to keep
    the report assembly-level."""
    p = read_table(spark, sf_dir, "part")
    parts = p.select(
        F.col("p_partkey").alias("p"),
        cents(F.col("p_retailprice")).alias("v"),
    )
    nodes = F.array_distinct(
        F.array(
            *[
                (F.col("p") / (_BOM_FANOUT**i)).cast("bigint")
                for i in range(_BOM_LEVELS + 1)
            ]
        )
    )
    anc = parts.select("v", F.explode(nodes).alias("node"))
    return (
        anc.groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_subtree_parts"),
            F.sum("v").alias("subtree_value_cents"),
        )
        .filter(F.col("n_subtree_parts") > 1)
    )


q_bom_rollup.__doc__ = (q_bom_rollup.__doc__ or "").format(
    f=_BOM_FANOUT, lv=_BOM_LEVELS
)


@query(
    "yoy_growth",
    oracle="""
    WITH m AS (
      SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
             CAST(extract(month FROM o_orderdate) AS BIGINT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, rev_c,
           CAST(lag(rev_c, 12) OVER (ORDER BY yr, mo) AS BIGINT)
             AS rev_prev_year_c,
           CAST(floor((CAST(rev_c AS DOUBLE)
                       / CAST(lag(rev_c, 12) OVER (ORDER BY yr, mo)
                              AS DOUBLE) - 1e0) * 1e6) AS BIGINT)
             AS yoy_growth_e6
    FROM m
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth with CALENDAR alignment: monthly revenue
    compared to the same calendar month a year earlier via lag(12)
    over the (year, month) series — the alignment a naive 365-day
    shift gets wrong around leap years and month lengths.  Companion
    to wow_growth (weekly lag-1).  The month frame is
    statistics-sized (≤ ~84 rows over the TPC-H date range), so the
    unpartitioned lag window is bounded by construction; the only real
    exchange is the month aggregation with map-side partials."""
    o = read_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_c"))
    w = Window.orderBy("yr", "mo")
    prev = F.lag("rev_c", 12).over(w)
    return m.select(
        "yr",
        "mo",
        "rev_c",
        prev.alias("rev_prev_year_c"),
        F.floor(
            (F.col("rev_c").cast("double") / prev.cast("double") - 1.0) * 1e6
        ).alias("yoy_growth_e6"),
    )


@query(
    "cumulative_distinct_customers",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority AS priority, o_custkey AS ck,
             min(CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                      AS BIGINT)) AS first_day
      FROM orders GROUP BY 1, 2
    ),
    per_day AS (
      SELECT priority, first_day AS day_no,
             CAST(count(*) AS BIGINT) AS new_customers
      FROM d GROUP BY 1, 2
    )
    SELECT priority, day_no, new_customers,
           CAST(sum(new_customers) OVER (
             PARTITION BY priority ORDER BY day_no
           ) AS BIGINT) AS distinct_customers_to_date
    FROM per_day
    """,
)
def q_cumulative_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPANDING-window distinct count (distinct customers to date per
    priority) via the FIRST-SEEN device: a cumulative distinct equals
    the running sum of first occurrences, so one (priority, customer)
    min-day aggregate + a tiny per-day running sum replaces any
    per-row distinct state.  Third member of the distinct-count
    family: rolling_distinct_customers (sliding — interval union),
    hll_distinct_audit (sketch), this (expanding — first-seen flag).
    Both exchanges are map-side combinable; the running sum's window
    partition is per (priority, day) — report-sized."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    firsts = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").alias("ck"),
        )
        .agg(F.min(day_no).alias("first_day"))
    )
    per_day = firsts.groupBy(
        "priority", F.col("first_day").alias("day_no")
    ).agg(F.count(F.lit(1)).alias("new_customers"))
    w = Window.partitionBy("priority").orderBy("day_no")
    return per_day.select(
        "priority",
        "day_no",
        "new_customers",
        F.sum("new_customers").over(w).alias("distinct_customers_to_date"),
    )


_FW_COLS = (  # (name, width) — fixed-width layout for the nation table
    ("nationkey", 4),
    ("name", 26),
    ("regionkey", 4),
)


@query(
    "fixed_width_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
           trim(n_name) AS name,
           CAST(n_regionkey AS BIGINT) AS regionkey
    FROM nation
    """,
)
def q_fixed_width_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH text sink + source — the mainframe/legacy intake
    format CSV tooling can't speak: each row is one padded line
    (format_string), the reader is the plain text source plus
    substring/trim column carving at declared offsets.  Both
    directions are pure Column expressions over the built-in text
    format; no custom InputFormat, full predicate/limit pushdown on
    the line scan.  The oracle reads the original table — green means
    pad→carve round-tripped every value (including the rpad-then-trim
    of space-bearing names)."""
    line = F.format_string(
        "%4d%-26s%4d",
        F.col("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey"),
    )
    out = stage_dir(
        spark,
        f"fixed_width|{sf_dir}",
        lambda path: read_table(spark, sf_dir, "nation")
        .select(line.alias("value"))
        .write.mode("overwrite")
        .text(path),
    )
    txt = spark.read.text(out)
    pos = 1
    cols = []
    for name, width in _FW_COLS:
        c = F.substring("value", pos, width)
        pos += width
        cols.append((name, c))
    return txt.select(
        F.trim(cols[0][1]).cast("bigint").alias("nationkey"),
        F.trim(cols[1][1]).alias("name"),
        F.trim(cols[2][1]).cast("bigint").alias("regionkey"),
    )


@query(
    "variant_json_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(max(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing on Spark 4's VARIANT type:
    ``parse_json`` ingests the raw JSON column ONCE into Variant's
    binary encoding, and ``variant_get`` path extraction then runs on
    the encoded form — the engine-native answer to schema-on-read
    (Snowflake VARIANT / Databricks VARIANT parity).  Against
    ``get_json_object`` (string re-parse per extraction), Variant pays
    the parse once per row regardless of how many paths are pulled —
    the difference between 1× and k× parse cost on a 100 TB event log
    with wide props.  The oracle uses DuckDB's JSON operators on the
    raw strings — same values, independent parser."""
    e = read_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.variant_get(F.col("v"), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


_CORR_PAIRS = (("qty", "price"), ("qty", "disc"), ("price", "disc"))


@query(
    "correlation_matrix",
    oracle="""
    WITH b AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(round(l_discount * 100) AS BIGINT) AS disc
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             CAST(sum(qty) AS DECIMAL(38,0)) AS s_qty,
             CAST(sum(price) AS DECIMAL(38,0)) AS s_price,
             CAST(sum(disc) AS DECIMAL(38,0)) AS s_disc,
             CAST(sum(CAST(qty AS DECIMAL(38,0)) * qty) AS DECIMAL(38,0)) AS s_qq,
             CAST(sum(CAST(price AS DECIMAL(38,0)) * price) AS DECIMAL(38,0)) AS s_pp,
             CAST(sum(CAST(disc AS DECIMAL(38,0)) * disc) AS DECIMAL(38,0)) AS s_dd,
             CAST(sum(CAST(qty AS DECIMAL(38,0)) * price) AS DECIMAL(38,0)) AS s_qp,
             CAST(sum(CAST(qty AS DECIMAL(38,0)) * disc) AS DECIMAL(38,0)) AS s_qd,
             CAST(sum(CAST(price AS DECIMAL(38,0)) * disc) AS DECIMAL(38,0)) AS s_pd
      FROM b
    )
    SELECT 'qty' AS var_a, 'price' AS var_b,
           CAST(floor(CAST(n * s_qp - s_qty * s_price AS DOUBLE)
             / (sqrt(CAST(n * s_qq - s_qty * s_qty AS DOUBLE))
                * sqrt(CAST(n * s_pp - s_price * s_price AS DOUBLE)))
             * 1e6) AS BIGINT) AS pearson_e6
    FROM s
    UNION ALL
    SELECT 'qty', 'disc',
           CAST(floor(CAST(n * s_qd - s_qty * s_disc AS DOUBLE)
             / (sqrt(CAST(n * s_qq - s_qty * s_qty AS DOUBLE))
                * sqrt(CAST(n * s_dd - s_disc * s_disc AS DOUBLE)))
             * 1e6) AS BIGINT)
    FROM s
    UNION ALL
    SELECT 'price', 'disc',
           CAST(floor(CAST(n * s_pd - s_price * s_disc AS DOUBLE)
             / (sqrt(CAST(n * s_pp - s_price * s_price AS DOUBLE))
                * sqrt(CAST(n * s_dd - s_disc * s_disc AS DOUBLE)))
             * 1e6) AS BIGINT)
    FROM s
    """,
)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the lineitem metrics — from
    ONE sufficient-statistics aggregate (n, Σx, Σx², Σxy for every
    pair), the distributed-correlation shape.  Spark's built-in
    ``corr`` accumulates FLOATS whose partial-sum order varies with
    partitioning — not cross-engine-stable; the decimal sums here are
    exact and order-free, with the floors applied to single IEEE
    expressions of identical integers (same discipline as
    grouped_linreg / ab_test_ztest).  One scan, one 1-row shuffle,
    three report rows."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    b = li.select(
        cents(F.col("l_quantity")).alias("qty"),
        cents(F.col("l_extendedprice")).alias("price"),
        cents(F.col("l_discount")).alias("disc"),
    )
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    for v in ("qty", "price", "disc"):
        aggs.append(F.sum(v).cast(dec).alias(f"s_{v}"))
        aggs.append(
            F.sum(F.col(v).cast(dec) * F.col(v)).cast(dec).alias(f"s_{v}{v[0]}")
        )
    for a, c in _CORR_PAIRS:
        aggs.append(
            F.sum(F.col(a).cast(dec) * F.col(c)).cast(dec).alias(f"s_{a}_{c}")
        )
    s = b.agg(*aggs)

    def pearson(a: str, c: str) -> Column:
        num = (F.col("n") * F.col(f"s_{a}_{c}") - F.col(f"s_{a}") * F.col(f"s_{c}")).cast("double")
        da = F.sqrt((F.col("n") * F.col(f"s_{a}{a[0]}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double"))
        dc = F.sqrt((F.col("n") * F.col(f"s_{c}{c[0]}") - F.col(f"s_{c}") * F.col(f"s_{c}")).cast("double"))
        return F.floor(num / (da * dc) * 1e6)

    out = None
    for a, c in _CORR_PAIRS:
        row = s.select(
            F.lit(a).alias("var_a"),
            F.lit(c).alias("var_b"),
            pearson(a, c).alias("pearson_e6"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_SCD2_ASOF = "1995-06-01"


@query(
    "scd2_asof_view",
    oracle=f"""
    WITH upd AS (
      SELECT o_custkey AS custkey, 'BIG SPENDER' AS segment,
             min(CAST(o_orderdate AS DATE)) AS eff
      FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ),
    hist AS (
      SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
             DATE '1990-01-01' AS valid_from, u.eff AS valid_to
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.custkey
      UNION ALL
      SELECT u.custkey, u.segment, u.eff, CAST(NULL AS DATE)
      FROM upd u
    )
    SELECT custkey, segment, valid_from
    FROM hist
    WHERE valid_from <= DATE '{_SCD2_ASOF}'
      AND (valid_to IS NULL OR valid_to > DATE '{_SCD2_ASOF}')
    """,
)
def q_scd2_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME reconstruction over the SCD2 history scd2_merge
    builds: the dimension exactly as it stood on {d} — one interval
    predicate (valid_from ≤ d < valid_to), which is the entire payoff
    of type-2 versioning: any past training run, report, or feature
    snapshot is reproducible without table-format time travel.  The
    predicate is sargable (pushes to the scan; at warehouse scale the
    history table partitions by valid_from range so the as-of read
    prunes whole partitions).  Exactly one row per key survives —
    intervals per key are disjoint by construction."""
    hist = QUERIES["scd2_merge"](spark, sf_dir)
    d = F.lit(_SCD2_ASOF).cast("date")
    return hist.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    ).select("custkey", "segment", "valid_from")


q_scd2_asof_view.__doc__ = (q_scd2_asof_view.__doc__ or "").format(d=_SCD2_ASOF)


@query(
    "trending_parts",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey AS part,
             CAST(datediff('day', DATE '1992-01-01',
                           date_trunc('week', l_shipdate)) AS BIGINT) // 7
               AS wk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM lineitem GROUP BY 1, 2
    ),
    trail4 AS (
      SELECT part, wk,
             CAST(sum(rev_c) OVER (
               PARTITION BY part ORDER BY wk
               RANGE BETWEEN 3 PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS rev_4w_c
      FROM weekly
    )
    SELECT wk, part, rev_4w_c FROM (
      SELECT wk, part, rev_4w_c,
             row_number() OVER (PARTITION BY wk
                                ORDER BY rev_4w_c DESC, part) AS rk
      FROM trail4
    ) t WHERE rk <= 5
    """,
)
def q_trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: top-5 parts per week by TRAILING-4-WEEK revenue
    — the BI leaderboard shape that needs three window tiers stacked
    (weekly rollup → trailing RANGE sum per part → per-week rank).
    The rollup shrinks lineitem to (part, week) rows before any
    window, so both window exchanges run over the pre-aggregated
    frame; the trailing sum partitions by part and the rank by week —
    two different keys, two exchanges, both over the small frame (the
    scale rule: aggregate FIRST, window SECOND)."""
    li = read_table(spark, sf_dir, "lineitem")
    wk = (
        F.datediff(
            F.date_trunc("week", F.col("l_shipdate")).cast("date"),
            F.lit("1992-01-01").cast("date"),
        ).cast("bigint")
        / 7
    ).cast("bigint")
    weekly = li.groupBy(
        F.col("l_partkey").alias("part"), wk.alias("wk")
    ).agg(F.sum(cents(F.col("l_extendedprice"))).alias("rev_c"))
    wtrail = (
        Window.partitionBy("part").orderBy("wk").rangeBetween(-3, Window.currentRow)
    )
    trailing = weekly.select(
        "part", "wk", F.sum("rev_c").over(wtrail).alias("rev_4w_c")
    )
    wrank = Window.partitionBy("wk").orderBy(
        F.col("rev_4w_c").desc(), F.col("part")
    )
    return (
        trailing.withColumn("rk", F.row_number().over(wrank))
        .filter(F.col("rk") <= 5)
        .select("wk", "part", "rev_4w_c")
    )


@query(
    "scd2_temporal_join",
    oracle="""
    WITH upd AS (
      SELECT o_custkey AS custkey, 'BIG SPENDER' AS segment,
             min(CAST(o_orderdate AS DATE)) AS eff
      FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ),
    hist AS (
      SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
             DATE '1990-01-01' AS valid_from, u.eff AS valid_to
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.custkey
      UNION ALL
      SELECT u.custkey, u.segment, u.eff, CAST(NULL AS DATE)
      FROM upd u
    )
    SELECT h.segment,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN hist h
      ON h.custkey = o.o_custkey
     AND h.valid_from <= CAST(o.o_orderdate AS DATE)
     AND (h.valid_to IS NULL OR h.valid_to > CAST(o.o_orderdate AS DATE))
    GROUP BY h.segment
    """,
)
def q_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL fact⋈dimension join over SCD2 history: each order joins
    the dimension VERSION that was effective on its order date
    (equality on the key + interval containment on the date) — revenue
    attributed to the segment the customer was in AT ORDER TIME, which
    a current-state join silently misattributes for every
    since-changed customer.  This is the workhorse read pattern SCD2
    exists for; scd2_asof_view is its fixed-date special case.

    Plan: the equality conjunct keys the shuffle; the interval
    predicate only filters within each key's (few) versions, so
    fan-out is bounded by versions-per-key — never a range cross
    join.  Exactly one version matches per (key, date) because
    intervals per key partition the timeline."""
    hist = QUERIES["scd2_merge"](spark, sf_dir)
    o = read_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    j = o.join(
        hist,
        (hist.custkey == o.o_custkey)
        & (hist.valid_from <= od)
        & (hist.valid_to.isNull() | (hist.valid_to > od)),
    )
    return j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    rounds.append(
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM sym)"
    )
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""l{i} AS MATERIALIZED (
      SELECT v, lbl FROM (
        SELECT e.dst AS v, p.lbl,
               row_number() OVER (
                 PARTITION BY e.dst
                 ORDER BY count(*) DESC, p.lbl
               ) AS rn
        FROM sym e JOIN {prev} p ON p.v = e.src
        GROUP BY e.dst, p.lbl
      ) t WHERE rn = 1
    )""")
        prev = f"l{i}"
    return ",\n    ".join(rounds)


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT l.a, l.b FROM (
        SELECT x.c1 AS a, y.c1 AS b
        FROM (SELECT DISTINCT l_partkey AS pk, o_custkey AS c1
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey) x
        JOIN (SELECT DISTINCT l_partkey AS pk, o_custkey AS c1
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey) y
          ON x.pk = y.pk AND x.c1 < y.c1
        GROUP BY x.c1, y.c1
        HAVING count(*) >= 3
      ) l
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b, a FROM e0
    ),
    {_lpa_oracle()}
    SELECT lbl AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(v) AS BIGINT) AS min_member
    FROM l{_LPA_ROUNDS}
    GROUP BY lbl
    """,
)
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by LABEL PROPAGATION (Raghavan et al. 2007),
    {r} synchronous rounds over the co-purchase graph: each node adopts
    its neighbors' MOST FREQUENT label (count desc, label asc — fully
    deterministic, unlike classic random-order LPA).  Communities are
    denser-than-random subgraphs — the market-segmentation /
    fraud-ring primitive next to connected_components' pure
    reachability (CC merges everything touching; LPA splits weakly-
    joined regions).

    Per round: one frontier join + a (node, label) count + per-node
    argmax window — all keyed on the vertex, the bounded-rounds device
    of pagerank/bfs/random_walks.  Output: per-community size + min
    member (the canonical representative)."""
    from .plans.co_purchase import co_purchase_edges

    edges = co_purchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.localCheckpoint()

    labels = sym.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        freq = (
            sym.join(labels, labels.v == sym.src)
            .groupBy(F.col("dst").alias("nv"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("nv").orderBy(F.col("c").desc(), F.col("lbl"))
        labels = (
            freq.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("nv").alias("v"), "lbl")
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("v").alias("min_member"),
    )


q_label_propagation_communities.__doc__ = (
    q_label_propagation_communities.__doc__ or ""
).format(r=_LPA_ROUNDS)


@query(
    "corpus_diversity_report",
    oracle="""
    WITH toks AS (
      SELECT source, u.tok
      FROM (SELECT source,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
            FROM documents WHERE trim(text) <> '') t,
           unnest(t.tk) AS u(tok)
    ),
    uni AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT tok) AS BIGINT) AS n_types
      FROM toks GROUP BY source
    ),
    big AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_bigrams
      FROM (
        SELECT source, u.g
        FROM (
          SELECT source,
                 list_transform(
                   range(len(tk) - 1),
                   i -> tk[i + 1] || ' ' || tk[i + 2]
                 ) AS gs
          FROM (SELECT doc_id, source,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
                FROM documents WHERE trim(text) <> '') t
          WHERE len(tk) >= 2
        ) b, unnest(b.gs) AS u(g)
      )
      GROUP BY source
    )
    SELECT uni.source, n_tokens, n_types,
           CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
           CAST(n_distinct_bigrams * 1000000 // n_bigrams AS BIGINT)
             AS distinct_bigram_ppm
    FROM uni JOIN big ON uni.source = big.source
    """,
)
def q_corpus_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DIVERSITY report per source — type-token ratio and
    distinct-bigram rate (the self-BLEU-adjacent signals): low values
    mark template-generated or mode-collapsed text that dedup misses
    because no two documents are pairwise similar, yet the SOURCE as a
    whole is repetitive — the complement of per-document repetition
    (gopher signals) and cross-document near-dup (MinHash tier).

    Plan: tokenize once per doc (staged projection), bigrams from a
    per-doc posexplode + lead window keyed on doc_id, then two
    map-side-combinable distinct aggregates per source.  Exact integer
    ppm — no float division."""
    from .catalog_ext import _docs_parallel
    from .operators.text import _tokens

    d = _docs_parallel(spark, sf_dir).filter(F.trim(F.col("text")) != "")
    toks = d.select(
        "doc_id", "source", F.posexplode(_tokens("text")).alias("i", "tok")
    )
    uni = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("tok").alias("n_types"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    big = (
        toks.withColumn("__next", F.lead("tok").over(wdoc))
        .filter(F.col("__next").isNotNull())
        .withColumn("g", F.concat_ws(" ", F.col("tok"), F.col("__next")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_distinct("g").alias("n_distinct_bigrams"),
        )
    )
    return uni.join(big, "source").select(
        "source",
        "n_tokens",
        "n_types",
        F.expr("CAST(n_types * 1000000 DIV n_tokens AS BIGINT)").alias(
            "ttr_ppm"
        ),
        F.expr(
            "CAST(n_distinct_bigrams * 1000000 DIV n_bigrams AS BIGINT)"
        ).alias("distinct_bigram_ppm"),
    )


def _dup_rate_oracle() -> str:
    from .catalog_ext import _duck_minhash_sig_cte
    from .catalog_r3b import _DUCK_LSH_PAIRS

    return f"""
    WITH {_duck_minhash_sig_cte()},
    {_DUCK_LSH_PAIRS},
    dup_ids AS MATERIALIZED (
      SELECT DISTINCT id FROM (
        SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs
      )
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE dup_ids.id IS NOT NULL) AS BIGINT)
             AS n_near_dup,
           CAST(count(*) FILTER (WHERE dup_ids.id IS NOT NULL) * 1000000
                // count(*) AS BIGINT) AS dup_rate_ppm
    FROM documents d LEFT JOIN dup_ids ON dup_ids.id = d.doc_id
    GROUP BY d.source
    """


@query(
    "dup_rate_by_source",
    oracle=None,  # assigned below — composes the corpus-LSH fragments
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate PER SOURCE — the triage view over the
    dedup tier: a source whose dup-rate spikes is a scraper loop, a
    mirror, or a mis-merged feed, and fixing the SOURCE beats deleting
    its output one pair at a time.  Docs in ≥1 LSH candidate pair
    (shared corpus staging) count as near-dup; exact-integer ppm per
    source.  Companion to split_leakage_report (same pair frame,
    different rollup) and source_mix_report (share vs duplication)."""
    from .plans.corpus_lsh import corpus_candidate_pairs

    pairs = corpus_candidate_pairs(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(dup_ids, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("n_near_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_near_dup",
            F.expr("CAST(n_near_dup * 1000000 DIV n_docs AS BIGINT)").alias(
                "dup_rate_ppm"
            ),
        )
    )


ORACLES["dup_rate_by_source"] = _dup_rate_oracle()


@query(
    "order_to_ship_funnel_daily",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             min(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    ),
    base AS (
      SELECT CAST(datediff('day', DATE '1992-01-01',
                           CAST(o.o_orderdate AS DATE)) AS BIGINT) // 30
               AS period,
             datediff('day', CAST(o.o_orderdate AS DATE), li.first_ship)
               AS lat
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT period,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE lat <= 7) AS BIGINT) AS shipped_7d,
           CAST(count(*) FILTER (WHERE lat <= 30) AS BIGINT) AS shipped_30d,
           CAST(count(*) FILTER (WHERE lat <= 7) * 1000000 // count(*)
                AS BIGINT) AS rate_7d_ppm
    FROM base GROUP BY period
    """,
)
def q_order_to_ship_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational SLA funnel: per 30-day cohort of orders, how many
    first-shipped within 7 and within 30 days (conditional aggregation
    — COUNT FILTER — over the order→first-ship latency).  The
    fulfillment-SLA twin of ship_latency_histogram (which buckets the
    distribution; this tracks threshold attainment over time — the
    number an ops dashboard alarms on).  One lineitem min-agg keyed on
    the order, one broadcast-or-shuffle join, one period rollup — all
    map-side combinable."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    base = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        (
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
            ).cast("bigint")
            / 30
        )
        .cast("bigint")
        .alias("period"),
        F.datediff(F.col("first_ship"), F.to_date("o_orderdate")).alias("lat"),
    )
    return base.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("lat") <= 7, 1)).alias("shipped_7d"),
        F.count(F.when(F.col("lat") <= 30, 1)).alias("shipped_30d"),
        F.expr(
            "CAST(count(CASE WHEN lat <= 7 THEN 1 END) * 1000000 "
            "DIV count(*) AS BIGINT)"
        ).alias("rate_7d_ppm"),
    )


_EWMA_W = ("1.0", "0.5", "0.25", "0.125", "0.0625", "0.03125", "0.015625")


def _ewma_terms(col_fmt: str) -> tuple[str, str]:
    """(numerator, denominator) SQL for the 7-lag EWMA — one shared
    string per engine with IDENTICAL literal weights."""
    num = " + ".join(
        f"{w} * coalesce({col_fmt.format(j=j)}, 0)"
        for j, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"{w} * (CASE WHEN {col_fmt.format(j=j)} IS NULL THEN 0 ELSE 1 END)"
        for j, w in enumerate(_EWMA_W)
    )
    return num, den


_EWMA_NUM_DUCK, _EWMA_DEN_DUCK = _ewma_terms(
    "lag(rev_c, {j}) OVER (ORDER BY day_no)"
)


@query(
    "ewma_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    )
    SELECT day_no, rev_c,
           CAST(floor(({_EWMA_NUM_DUCK}) / ({_EWMA_DEN_DUCK}) * 1e2)
                AS BIGINT) AS ewma_e2
    FROM daily
    """,
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue (α=0.5,
    7-term truncation) — the smoothing an ops dashboard tracks.  EWMA's
    recurrence is non-associative (not window-expressible in general),
    but the TRUNCATED form is a closed-form lag combination; α=0.5
    makes every weight an exact binary fraction, so each weight×cents
    product and their sum are EXACT doubles — no float-order hazard,
    no pow() (whose rounding differs across engines' libm).  Weights
    are shared literals between the Spark and DuckDB expressions; the
    start-of-series is renormalized over the available lags.  The
    daily frame is bounded (~2,400 rows), so the unpartitioned lag
    window is statistics-sized — the heavy exchange is only the daily
    rollup."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    daily = o.groupBy(day_no.alias("day_no")).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_c")
    )
    w = Window.orderBy("day_no")
    lagged = daily.select(
        "day_no",
        "rev_c",
        *[F.lag("rev_c", j).over(w).alias(f"__l{j}") for j in range(len(_EWMA_W))],
    )
    num_sql, den_sql = _ewma_terms("__l{j}")
    return lagged.select(
        "day_no",
        "rev_c",
        F.expr(
            f"CAST(floor(({num_sql}) / ({den_sql}) * 1e2) AS BIGINT)"
        ).alias("ewma_e2"),
    )


@query(
    "hourly_seasonality",
    oracle="""
    WITH tot AS (SELECT count(*) AS t FROM events)
    SELECT CAST(isodow(ts) AS INT) AS weekday,
           CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS share_ppm
    FROM events GROUP BY 1, 2
    """,
)
def q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality profile: event share per (ISO weekday ×
    hour-of-day) cell — the 7×24 heatmap capacity planning and anomaly
    baselines start from.  One scan, one 168-cell aggregate, the total
    riding along as a broadcast scalar; exact integer ppm.  Timestamp
    decomposition happens in the session's pinned UTC zone, so both
    engines bin identically (the classic cross-engine drift here is a
    local-zone hour shift)."""
    e = read_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek(F.col("ts")).alias("__dow_sun1"),
        F.hour(F.col("ts")).alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # Spark dayofweek is 1=Sunday; ISO wants 1=Monday..7=Sunday
    iso = F.when(F.col("__dow_sun1") == 1, 7).otherwise(
        F.col("__dow_sun1") - 1
    )
    total = e.agg(F.count(F.lit(1)).alias("t"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            iso.cast("int").alias("weekday"),
            F.col("hour_of_day").cast("int"),
            "n_events",
            F.expr("CAST(n_events * 1000000 DIV t AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )
