"""Round-5c catalog tier: physical-layout and optimizer-statistics
audits plus spatial/placement operators — the "would this survive
100 TB" questions asked AS queries:

* ``geo_grid_join`` — grid-bucketed spatial self-join (cell + 8
  neighbors candidate generation, exact integer micro-degree distance);
  the classic all-pairs-within-radius shape with NO cross join.
* ``rendezvous_sharding`` — highest-random-weight (HRW) shard
  assignment and the minimal-movement audit for adding a node (the
  placement algorithm consistent-hashing rings approximate).
* ``zonemap_skip_audit`` — parquet row-group min/max zone maps
  simulated for two file layouts (ingest-ordered vs sort-ordered) and
  three predicates; reports exactly how many files/rows a scan skips.
  The linear-sort complement of ``zorder_layout`` (catalog_r4.py).
* ``join_cardinality_estimate`` — optimizer-statistics audit: exact
  self-join sizes per group vs the uniform-frequency estimate and an
  end-biased (top-k heavy hitters exact + uniform tail) histogram
  estimate, with ppm errors.
* ``cusum_changepoints`` — CUSUM drift detection over daily revenue.
  The max(0, s+x) recurrence is not a window aggregate, but its
  closed form IS: s_i = P_i - min(0, min_{j<=i} P_j) for prefix sums
  P of the centered series — all exact BIGINT arithmetic.
* ``encoding_advisor`` — per-column NDV / run-length / width profile
  over an unpivoted column sample, emitting a DICT/RLE/PLAIN
  recommendation per column (the write-path analogue of the scan
  audits above).

Same cross-engine parity discipline as catalog.py (cents trick,
floor micro-units/ppm, md5-based hashing, id tie-breakers, identical
aliases, every DuckDB sum CAST back from HUGEINT).  All queries here
are extras marked "rotation candidate for round 6".

Reference parity: the reference's surface ends at staged SQL imports
(``import_stage.py``); this tier covers what its operators would need
the moment the same pipeline ran at warehouse scale — file layout,
placement, and join-size statistics.  Cited per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# geo_grid_join
# ---------------------------------------------------------------------------

_GEO_SPAN_U = 2_000_000  # micro-degree extent of the synthetic region (2°x2°)
_GEO_CELL_U = 100_000    # grid cell edge (0.1°) — cell >= radius, so 3x3 covers
_GEO_RADIUS_U = 90_000   # query radius (0.09° ~ 10 km)
_GEO_R2 = _GEO_RADIUS_U * _GEO_RADIUS_U


def _geo_hash_sql(prefix: str) -> str:
    """DuckDB twin of the portable md5-based coordinate derivation."""
    return (
        f"CAST('0x' || substring(md5('{prefix}|' || CAST(c_custkey AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % {_GEO_SPAN_U}"
    )


def _geo_hash_col(prefix: str) -> Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{prefix}|"), F.col("c_custkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % _GEO_SPAN_U
    )


@query(
    "geo_grid_join",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             {_geo_hash_sql("lat")} AS lat_u,
             {_geo_hash_sql("lon")} AS lon_u
      FROM customer
    ),
    cand AS (
      SELECT a.k AS custkey,
             (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
             + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS d2
      FROM pts a JOIN pts b
        ON b.k <> a.k
       AND (b.lat_u // {_GEO_CELL_U})
             BETWEEN (a.lat_u // {_GEO_CELL_U}) - 1
                 AND (a.lat_u // {_GEO_CELL_U}) + 1
       AND (b.lon_u // {_GEO_CELL_U})
             BETWEEN (a.lon_u // {_GEO_CELL_U}) - 1
                 AND (a.lon_u // {_GEO_CELL_U}) + 1
      WHERE (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
            + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {_GEO_R2}
    )
    SELECT custkey,
           count(*) AS n_within,
           CAST(min(d2) AS BIGINT) AS min_d2
    FROM cand GROUP BY custkey
    """,
)
def q_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-points-within-radius spatial self-join via grid bucketing.

    Each customer gets a deterministic md5-derived position in a 2°x2°
    region (micro-degree BIGINTs — exact, no trig/float: squared
    euclidean distance in integer micro-degrees, with the haversine
    refinement noted as a float-parity caveat).  Candidate generation
    is the textbook grid join: each point is exploded to its cell's
    3x3 neighborhood and hash-joined on cell id against single-cell
    points — every within-radius pair is found exactly once per
    direction (a point has ONE home cell), and NO cross join exists
    anywhere in the plan.  Cost is O(n · density·9), not O(n²); at
    100 TB the cell edge is chosen ~= radius so density per cell stays
    bounded, and the only exchange is the hash shuffle on cell id.

    Reference parity: the grid-candidate + exact-verify shape is the
    spatial instance of the reference's lookup-join pattern
    (``prepare_contacts.py`` dictlookup sites, SURVEY §2 J1-J3)."""
    pts = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        _geo_hash_col("lat").alias("lat_u"),
        _geo_hash_col("lon").alias("lon_u"),
    )
    cell = _GEO_CELL_U
    cx = F.expr(f"lat_u div {cell}")
    cy = F.expr(f"lon_u div {cell}")
    probe = pts.select(
        "k",
        "lat_u",
        "lon_u",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cx + F.lit(dx)).alias("nx"), (cy + F.lit(dy)).alias("ny")
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("nb"),
    ).select("k", "lat_u", "lon_u", "nb.nx", "nb.ny")
    build = pts.select(
        F.col("k").alias("bk"),
        F.col("lat_u").alias("blat"),
        F.col("lon_u").alias("blon"),
        cx.alias("nx"),
        cy.alias("ny"),
    )
    d2 = (F.col("lat_u") - F.col("blat")) * (F.col("lat_u") - F.col("blat")) + (
        F.col("lon_u") - F.col("blon")
    ) * (F.col("lon_u") - F.col("blon"))
    pairs = (
        probe.join(build, ["nx", "ny"])
        .filter(F.col("bk") != F.col("k"))
        .select("k", d2.alias("d2"))
        .filter(F.col("d2") <= _GEO_R2)
    )
    return pairs.groupBy(F.col("k").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_within"), F.min("d2").alias("min_d2")
    )


# ---------------------------------------------------------------------------
# rendezvous_sharding
# ---------------------------------------------------------------------------

_HRW_NODES_8 = [f"shard-{i}" for i in range(8)]
_HRW_NODES_9 = _HRW_NODES_8 + ["shard-8"]


def _hrw_owner_col(nodes: list[str]) -> Column:
    """argmax over nodes of md5(node || '|' || doc_id) — computed as
    array_max over (score, node) structs: pure map-side, no explode,
    no shuffle; md5 hex compares are unsigned byte-wise on BOTH
    engines (lowercase hex, equal-length strings)."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    F.md5(
                        F.concat(F.lit(f"{n}|"), F.col("doc_id").cast("string"))
                    ).alias("s"),
                    F.lit(n).alias("n"),
                )
                for n in nodes
            ]
        )
    )["n"]


def _hrw_owner_sql(nodes: list[str], alias: str) -> str:
    values = ", ".join(f"('{n}')" for n in nodes)
    return f"""
      SELECT doc_id,
             arg_max(node, md5(node || '|' || CAST(doc_id AS VARCHAR)))
               AS {alias}
      FROM documents, (VALUES {values}) AS nodes(node)
      GROUP BY doc_id
    """


@query(
    "rendezvous_sharding",
    oracle=f"""
    WITH a8 AS ({_hrw_owner_sql(_HRW_NODES_8, "owner8")}),
    a9 AS ({_hrw_owner_sql(_HRW_NODES_9, "owner9")})
    SELECT a8.owner8 AS shard,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN a9.owner9 <> a8.owner8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN a9.owner9 <> a8.owner8 THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS moved_ppm
    FROM a8 JOIN a9 USING (doc_id)
    GROUP BY a8.owner8
    """,
)
def q_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding + elasticity audit.

    Every document is owned by the node whose md5(node|doc) score is
    highest; when a 9th node joins, ONLY the documents whose new
    node's score beats their previous winner move — provably ~1/9 of
    the corpus, with zero coordination state (no ring metadata, no
    directory).  The report shows, per original shard, how many
    documents the expansion steals (each ~1/9 of that shard).

    Spark plan: both assignments are a constant-width array_max over
    literal structs — whole-stage-codegen map work, zero joins or
    explodes; the single exchange is the final groupBy on 8 keys.  At
    100 TB this is the data-placement audit run before any resharding
    job is allowed to move bytes.

    Reference parity: generalizes the reference's fixed staging-table
    placement (``import_stage.py`` DDL sites, SURVEY §2 S7) to
    content-addressed placement."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        _hrw_owner_col(_HRW_NODES_8).alias("owner8"),
        _hrw_owner_col(_HRW_NODES_9).alias("owner9"),
    )
    moved = F.when(F.col("owner9") != F.col("owner8"), 1).otherwise(0)
    g = d.groupBy(F.col("owner8").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(moved).cast("bigint").alias("n_moved"),
    )
    return g.select(
        "shard",
        "n_docs",
        "n_moved",
        F.expr("n_moved * 1000000 div n_docs").alias("moved_ppm"),
    )


# ---------------------------------------------------------------------------
# zonemap_skip_audit
# ---------------------------------------------------------------------------

_ZM_FILES = 64
_ZM_PREDS = [
    ("month_1995_03", "1995-03-01", "1995-03-31"),
    ("quarter_1994_q1", "1994-01-01", "1994-03-31"),
    ("year_1996", "1996-01-01", "1996-12-31"),
]


def _zm_layout_sql(layout: str, order_by: str) -> str:
    preds = ", ".join(
        f"('{n}', DATE '{lo}', DATE '{hi}')" for n, lo, hi in _ZM_PREDS
    )
    return f"""
      SELECT '{layout}' AS layout, p.pred,
             CAST(sum(CASE WHEN zm.max_d < p.lo OR zm.min_d > p.hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS buckets_skipped,
             CAST(sum(CASE WHEN zm.max_d < p.lo OR zm.min_d > p.hi
                           THEN zm.n ELSE 0 END) AS BIGINT) AS rows_skipped,
             CAST(sum(CASE WHEN zm.max_d < p.lo OR zm.min_d > p.hi
                           THEN zm.n ELSE 0 END) * 1000000
                  // sum(zm.n) AS BIGINT) AS skip_ppm
      FROM (
        SELECT min(ship_d) AS min_d, max(ship_d) AS max_d,
               count(*) AS n
        FROM (
          SELECT CAST(l_shipdate AS DATE) AS ship_d,
                 ntile({_ZM_FILES}) OVER (ORDER BY {order_by}) AS file_id
          FROM lineitem
        ) GROUP BY file_id
      ) zm, (VALUES {preds}) AS p(pred, lo, hi)
      GROUP BY p.pred
    """


@query(
    "zonemap_skip_audit",
    oracle=f"""
    {_zm_layout_sql("ingest", "l_orderkey, l_linenumber, CAST(l_shipdate AS DATE)")}
    UNION ALL
    {_zm_layout_sql("sorted", "CAST(l_shipdate AS DATE), l_orderkey, l_linenumber")}
    """,
)
def q_zonemap_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (parquet row-group min/max) skip audit across layouts.

    Simulates writing lineitem into {files} equal files under two
    layout policies — ingest order (orderkey, linenumber: the order an
    importer appends in) and sort order (shipdate-clustered) — then,
    for three date predicates, counts exactly how many files and rows
    min/max pruning would skip.  Ingest order already skips *some*
    files (orderkeys correlate loosely with dates), sorted layout
    skips nearly everything outside the range: the audit quantifies
    the gap that justifies a sort/OPTIMIZE job before a 100 TB scan.

    File assignment is the distributed exact ntile
    (operators/order.py global_ntile — range partition + offset table,
    no single-task global window), identical to SQL ntile; zone maps
    are one groupBy per layout; the predicate sweep is a 64x3 literal
    cross join.  Complements ``zorder_layout`` (catalog_r4.py), which
    audits the multi-dimensional variant of the same decision.

    Reference parity: the reference scans whole CSVs per import
    (``import_csv.py`` S1-S5); this is the scan-side economics of the
    same data once landed columnar."""
    from .operators.order import global_ntile

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_d"),
    )
    preds = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("pred"),
                        F.lit(lo).cast("date").alias("lo"),
                        F.lit(hi).cast("date").alias("hi"),
                    )
                    for n, lo, hi in _ZM_PREDS
                ]
            )
        ).alias("p")
    ).select("p.*")

    def audit(layout: str, order_cols: list[str]) -> DataFrame:
        filed = global_ntile(li, _ZM_FILES, order_cols)
        zm = filed.groupBy("__ntile").agg(
            F.min("ship_d").alias("min_d"),
            F.max("ship_d").alias("max_d"),
            F.count(F.lit(1)).alias("n"),
        )
        skipped = (F.col("max_d") < F.col("lo")) | (F.col("min_d") > F.col("hi"))
        return (
            zm.crossJoin(F.broadcast(preds))
            .groupBy("pred")
            .agg(
                F.sum(F.when(skipped, 1).otherwise(0))
                .cast("bigint")
                .alias("buckets_skipped"),
                F.sum(F.when(skipped, F.col("n")).otherwise(0))
                .cast("bigint")
                .alias("rows_skipped"),
                F.sum("n").alias("__tot"),
            )
            .select(
                F.lit(layout).alias("layout"),
                "pred",
                "buckets_skipped",
                "rows_skipped",
                F.expr("rows_skipped * 1000000 div __tot").alias("skip_ppm"),
            )
        )

    # (l_orderkey, l_linenumber) is not unique in the synthetic table;
    # ship_d joins each ordering so rows tied at an ntile boundary carry
    # an equal date — bucket stats become tie-invariant on both engines.
    return audit("ingest", ["l_orderkey", "l_linenumber", "ship_d"]).unionByName(
        audit("sorted", ["ship_d", "l_orderkey", "l_linenumber"])
    )


q_zonemap_skip_audit.__doc__ = (q_zonemap_skip_audit.__doc__ or "").replace(
    "{files}", str(_ZM_FILES)
)


# ---------------------------------------------------------------------------
# join_cardinality_estimate
# ---------------------------------------------------------------------------

_CARD_TOPK = 5


@query(
    "join_cardinality_estimate",
    oracle=f"""
    WITH per_key AS (
      SELECT p.p_brand AS brand, l.l_partkey AS k,
             count(*) AS cnt
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT brand, cnt,
             row_number() OVER (PARTITION BY brand
                                ORDER BY cnt DESC, k) AS rk
      FROM per_key
    ),
    agg AS (
      SELECT brand,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             count(*) AS ndv_keys,
             CAST(sum(cnt * cnt) AS BIGINT) AS true_pairs,
             CAST(sum(CASE WHEN rk <= {_CARD_TOPK} THEN cnt * cnt ELSE 0 END)
                  AS BIGINT) AS top_sq,
             CAST(sum(CASE WHEN rk <= {_CARD_TOPK} THEN cnt ELSE 0 END)
                  AS BIGINT) AS top_n
      FROM ranked GROUP BY brand
    )
    SELECT brand, n_rows, ndv_keys, true_pairs,
           CAST(n_rows * n_rows // ndv_keys AS BIGINT) AS est_uniform,
           CAST(abs(true_pairs - n_rows * n_rows // ndv_keys) * 1000000
                // true_pairs AS BIGINT) AS err_uniform_ppm,
           CAST(CASE WHEN ndv_keys > {_CARD_TOPK}
                     THEN top_sq + (n_rows - top_n) * (n_rows - top_n)
                                   // (ndv_keys - {_CARD_TOPK})
                     ELSE true_pairs END AS BIGINT) AS est_endbiased,
           CAST(abs(true_pairs
                    - CASE WHEN ndv_keys > {_CARD_TOPK}
                           THEN top_sq + (n_rows - top_n) * (n_rows - top_n)
                                         // (ndv_keys - {_CARD_TOPK})
                           ELSE true_pairs END) * 1000000
                // true_pairs AS BIGINT) AS err_endbiased_ppm
    FROM agg
    """,
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics audit: predicted vs exact join cardinality.

    For the lineitem⋈lineitem self-join on partkey, grouped by part
    brand: the EXACT output size (Σ cnt² over keys) against two
    estimators an optimizer would use — the uniform-frequency
    estimate n²/ndv, and an end-biased histogram ({topk} heaviest keys
    exact + uniform tail), with ppm errors for each.  This is the
    measurement that justifies (or vetoes) a broadcast/shuffle/skew
    decision before launching a 100 TB join; the end-biased column
    shows why optimizers keep heavy-hitter histograms, not just NDV.

    All arithmetic is BIGINT-exact (counts, squares, floor
    divisions); ranking ties break on partkey.  Plan: one map-side-
    combined groupBy on (brand, partkey), a 25-partition rank window,
    one final groupBy — the part-side join is broadcast.

    Reference parity: the reference trusts Postgres to size its
    INSERT…SELECT joins (``import_stage.py`` M2/J4-J5, SURVEY §2);
    this audits that trust explicitly."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_key = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rk = F.row_number().over(
        Window.partitionBy("brand").orderBy(F.col("cnt").desc(), F.col("k"))
    )
    ranked = per_key.select("brand", "cnt", rk.alias("rk"))
    topk = _CARD_TOPK
    agg = ranked.groupBy("brand").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("ndv_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("true_pairs"),
        F.sum(F.when(F.col("rk") <= topk, F.col("cnt") * F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("top_sq"),
        F.sum(F.when(F.col("rk") <= topk, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("top_n"),
    )
    est_end = (
        f"CASE WHEN ndv_keys > {topk} "
        f"THEN top_sq + (n_rows - top_n) * (n_rows - top_n) "
        f"div (ndv_keys - {topk}) ELSE true_pairs END"
    )
    return agg.select(
        "brand",
        "n_rows",
        "ndv_keys",
        "true_pairs",
        F.expr("n_rows * n_rows div ndv_keys").alias("est_uniform"),
        F.expr(
            "abs(true_pairs - n_rows * n_rows div ndv_keys) * 1000000"
            " div true_pairs"
        ).alias("err_uniform_ppm"),
        F.expr(f"CAST(({est_end}) AS BIGINT)").alias("est_endbiased"),
        F.expr(
            f"abs(true_pairs - ({est_end})) * 1000000 div true_pairs"
        ).alias("err_endbiased_ppm"),
    )


# ---------------------------------------------------------------------------
# cusum_changepoints
# ---------------------------------------------------------------------------

@query(
    "cusum_changepoints",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
      FROM orders GROUP BY 1
    ),
    st AS (
      SELECT day_no, rev_c,
             CAST(CAST(sum(rev_c) OVER () AS BIGINT)
                  // count(*) OVER () AS BIGINT) AS mean_c
      FROM daily
    ),
    p AS (
      SELECT day_no, rev_c, mean_c,
             CAST(sum(rev_c - mean_c) OVER (
               ORDER BY day_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS pp
      FROM st
    ),
    m AS (
      SELECT day_no, rev_c, mean_c, pp,
             least(CAST(0 AS BIGINT), CAST(min(pp) OVER (
               ORDER BY day_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT)) AS mn,
             greatest(CAST(0 AS BIGINT), CAST(max(pp) OVER (
               ORDER BY day_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT)) AS mx
      FROM p
    )
    SELECT day_no, rev_c,
           pp - mn AS cusum_pos_c,
           mx - pp AS cusum_neg_c,
           (pp - mn) > 3 * mean_c AS flag_pos,
           (mx - pp) > 3 * mean_c AS flag_neg
    FROM m
    """,
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint/drift statistics over daily revenue.

    The one-sided CUSUM recurrence s_i = max(0, s_{i-1} + (x_i - μ))
    looks sequential, but has an exact window closed form:
    s_i = P_i - min(0, min_{j<=i} P_j) with P the prefix sum of the
    centered series (and symmetrically for the downward statistic via
    the running max).  Everything stays BIGINT cents — the center μ is
    the floor of the grand mean — so both engines agree bit-for-bit;
    flags fire when a statistic exceeds 3μ.

    The heavy exchange is the daily rollup; the recurrence windows run
    on the statistics-sized daily frame (~2.4 k rows — same bounded-
    frame rationale as ``ewma_daily_revenue``, catalog_r4.py).

    Reference parity: the sequential-scan-as-window device is the same
    trick as ``max_drawdown``'s running max (catalog_r5.py); CUSUM
    adds the clamp-at-zero, which the prefix-min transform absorbs."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    daily = o.groupBy(day_no.alias("day_no")).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_c")
    )
    st = daily.select(
        "day_no",
        "rev_c",
        F.expr(
            "sum(rev_c) OVER () div count(*) OVER ()"
        ).alias("mean_c"),
    )
    w = Window.orderBy("day_no").rowsBetween(Window.unboundedPreceding, 0)
    p = st.select(
        "day_no",
        "rev_c",
        "mean_c",
        F.sum(F.col("rev_c") - F.col("mean_c")).over(w).alias("pp"),
    )
    m = p.select(
        "day_no",
        "rev_c",
        "mean_c",
        "pp",
        F.least(F.lit(0).cast("bigint"), F.min("pp").over(w)).alias("mn"),
        F.greatest(F.lit(0).cast("bigint"), F.max("pp").over(w)).alias("mx"),
    )
    return m.select(
        "day_no",
        "rev_c",
        (F.col("pp") - F.col("mn")).alias("cusum_pos_c"),
        (F.col("mx") - F.col("pp")).alias("cusum_neg_c"),
        ((F.col("pp") - F.col("mn")) > 3 * F.col("mean_c")).alias("flag_pos"),
        ((F.col("mx") - F.col("pp")) > 3 * F.col("mean_c")).alias("flag_neg"),
    )


# ---------------------------------------------------------------------------
# encoding_advisor
# ---------------------------------------------------------------------------

_ENC_COLS_SQL = [
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    # floor(x + 0.5) instead of round(): these low-precision columns hit
    # EXACTLY representable .5 doubles (e.g. quantity 12.5), where Spark
    # rounds HALF_UP but DuckDB's double round is half-to-even — floor of
    # the identical IEEE sum is tie-free and engine-identical.
    ("l_quantity", "CAST(CAST(floor(l_quantity + 0.5) AS BIGINT) AS VARCHAR)"),
    ("l_discount_c", "CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS VARCHAR)"),
    ("l_tax_c", "CAST(CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS VARCHAR)"),
]


@query(
    "encoding_advisor",
    oracle=f"""
    WITH cells AS (
      {" UNION ALL ".join(
          f"SELECT l_orderkey, l_linenumber, '{name}' AS col_name,"
          f" {expr} AS val FROM lineitem"
          for name, expr in _ENC_COLS_SQL
      )}
    ),
    runs AS (
      SELECT col_name, val,
             CASE WHEN lag(val) OVER (
                    PARTITION BY col_name, l_orderkey
                    ORDER BY l_linenumber, val
                  ) IS DISTINCT FROM val THEN 1 ELSE 0 END AS run_start
      FROM cells
    ),
    prof AS (
      SELECT col_name,
             count(*) AS n,
             count(DISTINCT val) AS ndv,
             CAST(sum(run_start) AS BIGINT) AS n_runs,
             CAST(sum(length(val)) AS BIGINT) AS total_chars
      FROM runs GROUP BY col_name
    )
    SELECT col_name, n, ndv, n_runs, total_chars,
           CAST(n * 1000000 // n_runs AS BIGINT) AS avg_run_ppm,
           CASE WHEN 2 * n >= 3 * n_runs THEN 'RLE'
                WHEN ndv * 64 <= n THEN 'DICT'
                ELSE 'PLAIN' END AS encoding
    FROM prof
    """,
)
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor: per-column NDV / run-length / width
    profile with a DICT/RLE/PLAIN recommendation.

    Five lineitem columns are unpivoted to (col_name, val) cells;
    runs are counted within each order's line sequence (the adjacency
    a writer actually sees per row group — counting runs per key group
    keeps the lag window fully distributed instead of demanding one
    global sort), then one groupBy yields n, exact NDV, run count and
    byte width, and an integer-only decision rule: RLE when the mean
    run length ≥ 1.5 (2n ≥ 3·runs), else DICT when NDV ≤ n/64, else
    PLAIN.  This is the write-path twin of ``zonemap_skip_audit`` —
    together they model the storage decisions a 100 TB table lives or
    dies by.

    Reference parity: the reference emits every CSV cell as text
    (``import_csv.py`` S4/S5); this measures exactly what a columnar
    landing of the same cells should have done instead."""
    li = read_table(spark, sf_dir, "lineitem")
    # Single-shuffle formulation (round-9 perf fix; was 5x): project
    # the five value columns ONCE, then run five lag windows that all
    # PARTITION BY l_orderkey — Catalyst reuses one Exchange for every
    # same-partitioned window and only adds per-column sorts, so the
    # shuffle carries lineitem once instead of the 5x-unpivoted cell
    # stream (measured 11.3 s -> see PERF.md).  Per-column sort keys
    # stay (l_linenumber, val_i): (l_orderkey, l_linenumber) is NOT
    # unique in the synthetic table, and val in the sort key makes the
    # run structure invariant to tie resolution on both engines.
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        *[
            F.expr(expr.replace("VARCHAR", "STRING")).alias(f"__v{i}")
            for i, (_, expr) in enumerate(_ENC_COLS_SQL)
        ],
    )
    # Explicit width on the shared window exchange (r11 optimization
    # round; the batch-5 device): the ~17 MB l_orderkey shuffle is
    # below the AQE advisory size, so size-based coalescing ran all
    # five window sorts in ONE task (profiled: 11 tasks/run, wall ≈
    # taskTime).  An explicit keyed repartition is AQE-exempt and
    # satisfies every window's distribution — same single exchange,
    # now parallel.
    runs = wide.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"),
        "l_orderkey",
    )
    for i in range(len(_ENC_COLS_SQL)):
        w_i = Window.partitionBy("l_orderkey").orderBy(
            "l_linenumber", f"__v{i}"
        )
        runs = runs.withColumn(
            f"__r{i}",
            F.when(
                ~F.lag(f"__v{i}").over(w_i).eqNullSafe(F.col(f"__v{i}")),
                1,
            ).otherwise(0),
        )
    # Two INDEPENDENT 1-row aggregates, cross-joined: the 5-way
    # distinct expand runs on the plain scan (no window upstream) and
    # the run sums on the windowed frame — combining them in one agg
    # made the expand re-process the windowed output (measured ~2x the
    # split form).
    run_agg = runs.agg(
        *[
            F.sum(f"__r{i}").cast("bigint").alias(f"runs{i}")
            for i in range(len(_ENC_COLS_SQL))
        ],
    )
    ndv_agg = wide.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            a
            for i in range(len(_ENC_COLS_SQL))
            for a in (
                F.countDistinct(f"__v{i}").alias(f"ndv{i}"),
                F.sum(F.length(f"__v{i}")).cast("bigint").alias(f"chars{i}"),
            )
        ],
    )
    agg = ndv_agg.crossJoin(run_agg)
    stack = ", ".join(
        f"'{name}', ndv{i}, runs{i}, chars{i}"
        for i, (name, _) in enumerate(_ENC_COLS_SQL)
    )
    prof = agg.select(
        "n",
        F.expr(
            f"stack({len(_ENC_COLS_SQL)}, {stack})"
            " AS (col_name, ndv, n_runs, total_chars)"
        ),
    )
    return prof.select(
        "col_name",
        "n",
        "ndv",
        "n_runs",
        "total_chars",
        F.expr("n * 1000000 div n_runs").alias("avg_run_ppm"),
        F.when(2 * F.col("n") >= 3 * F.col("n_runs"), "RLE")
        .when(F.col("ndv") * 64 <= F.col("n"), "DICT")
        .otherwise("PLAIN")
        .alias("encoding"),
    )
