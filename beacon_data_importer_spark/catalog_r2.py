"""Round-2 catalog: wider TPC-H shapes (Q2 correlated-min-over-join,
Q15 view + global max), entity-resolution clustering (connected
components over the fuzzy-pair graph), and the product-quantization ANN
tier — all DuckDB-oracle-checked with the repo's exact-integer (cents /
micro-unit) discipline.

Oracle style matches catalog_more's kmeans section: iterative or
multi-stage computations unroll to MATERIALIZED CTE chains replaying the
exact algorithm the Spark side runs, so the driver's type-sensitive
value hash can agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .operators.graph import (
    connected_components,
    min_label_propagation,
    symmetrize,
)
from .operators.pq import pq_search
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-cost supplier per part.
#
# The schema has no partsupp table, so lineitem stands in: a part's
# "supply cost" from a supplier is the minimum extended price that
# supplier ever shipped it at.  The interesting plan pieces survive the
# adaptation: a correlated min over a multi-way join, resolved not as a
# per-row subquery but as a window min over the joined frame.
# ---------------------------------------------------------------------------

@query(
    "min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey AS partkey, p.p_brand AS brand,
             eu.s_name AS supplier, eu.n_name AS nation, ps.cost_cents,
             min(ps.cost_cents) OVER (PARTITION BY p.p_partkey) AS min_cost
      FROM part p
      JOIN ps ON ps.l_partkey = p.p_partkey
      JOIN eu ON eu.s_suppkey = ps.l_suppkey
      WHERE p.p_size <= 10 AND p.p_type = 'ECONOMY'
    )
    SELECT partkey, brand, supplier, nation, cost_cents
    FROM cand WHERE cost_cents = min_cost
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    achieving its minimum supply cost.  Plan at scale: the ps aggregate
    is the one big shuffle (map-side partial min on (partkey, suppkey));
    region→nation→supplier collapses to a broadcast dim; the part join
    keys the shuffle on partkey and the window min REUSES that
    partitioning (no extra exchange — SMJ output is hash-partitioned on
    the join key)."""
    l = read_table(spark, sf_dir, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents(F.col("l_extendedprice"))).alias("cost_cents")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY")
    )
    cand = (
        p.join(ps, p.p_partkey == ps.l_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            "cost_cents",
        )
    )
    w = Window.partitionBy("partkey")
    return (
        cand.withColumn("__min", F.min("cost_cents").over(w))
        .filter(F.col("cost_cents") == F.col("__min"))
        .drop("__min")
    )


@query(
    "min_cost_supplier_agg",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey AS partkey, p.p_brand AS brand,
             eu.s_name AS supplier, eu.n_name AS nation, ps.cost_cents
      FROM part p
      JOIN ps ON ps.l_partkey = p.p_partkey
      JOIN eu ON eu.s_suppkey = ps.l_suppkey
      WHERE p.p_size <= 10 AND p.p_type = 'ECONOMY'
    )
    SELECT c.partkey, c.brand, c.supplier, c.nation, c.cost_cents
    FROM cand c
    JOIN (SELECT partkey, min(cost_cents) AS m FROM cand GROUP BY partkey) mn
      ON mn.partkey = c.partkey AND mn.m = c.cost_cents
    """,
)
def q_min_cost_supplier_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's agg-then-join-back form (the round-2 audit's suggested
    alternative to the window min): aggregate per-part minimum
    O(partkeys), broadcast it back onto the candidate frame.  Measured
    at sf0.1 it TIES the window form warm (1.28 s vs 1.33 s) because
    the window already reuses the join's hash partitioning — no extra
    exchange either way; the registered query keeps the window form,
    and this variant stands by for the regime where per-part candidate
    fanout makes carrying full rows through the window sort dominate."""
    l = read_table(spark, sf_dir, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents(F.col("l_extendedprice"))).alias("cost_cents")
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "ECONOMY")
    )
    cand = (
        p.join(ps, p.p_partkey == ps.l_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            "cost_cents",
        )
    )
    mins = cand.groupBy("partkey").agg(F.min("cost_cents").alias("__min"))
    return (
        cand.join(F.broadcast(mins), "partkey")
        .filter(F.col("cost_cents") == F.col("__min"))
        .select("partkey", "brand", "supplier", "nation", "cost_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: revenue view + global max.
# ---------------------------------------------------------------------------

@query(
    "top_supplier_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
                  AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate < TIMESTAMP '1995-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue_cents
    FROM supplier s JOIN rev r ON s.s_suppkey = r.suppkey
    WHERE r.total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)
    """,
)
def q_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a quarter's revenue per supplier (the CREATE
    VIEW of the spec), then the supplier(s) hitting the global max.  The
    max is a 1-row broadcast back onto the view — the view computes
    once (persist marks the reuse; Spark would otherwise replay the
    scan+agg for both the max and the final filter), and the supplier
    dim is broadcast."""
    l = read_table(spark, sf_dir, "lineitem")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("total_revenue_cents")
        )
        .persist()
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("__mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue_cents") == F.col("__mx")
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        F.broadcast(s)
        .join(top, s.s_suppkey == top.suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue_cents",
        )
    )


# ---------------------------------------------------------------------------
# Entity-resolution clustering: connected components over the fuzzy
# name-pair graph (the step after fuzzy_name_pairs — same edge rule).
# ---------------------------------------------------------------------------

_CC_ITERS = 4


def _duck_cc_ctes(iters: int = _CC_ITERS) -> str:
    """CTE chain replaying min_label_propagation(iters) on the
    nation-blocked levenshtein≤2 pair graph; ends with l{iters}."""
    parts = [
        """pairs AS MATERIALIZED (
      SELECT l.c_custkey AS a, r.c_custkey AS b
      FROM customer l JOIN customer r
        ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= 2)""",
        """edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs)""",
        """l0 AS MATERIALIZED (
      SELECT DISTINCT src AS v, src AS lbl FROM edges)""",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""l{t} AS MATERIALIZED (
      SELECT x.v, least(x.lbl, min(n.lbl)) AS lbl
      FROM l{p} x
      JOIN edges e ON e.src = x.v
      JOIN l{p} n ON n.v = e.dst
      GROUP BY x.v, x.lbl)""")
    return ",\n    ".join(parts)


@query(
    "entity_clusters",
    oracle=f"""
    WITH {_duck_cc_ctes()}
    SELECT v AS custkey, lbl AS cluster_id FROM l{_CC_ITERS}
    """,
)
def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster step of entity resolution: connected components (4
    neighbor-min rounds) over the same nation-blocked levenshtein≤2
    pair graph fuzzy_name_pairs emits.  Every vertex in a pair gets a
    cluster_id (the minimum custkey reachable within 4 hops; at full
    convergence, of its component).  See operators/graph.py for the
    iteration's shuffle shape and the large-star/small-star path at
    100 TB scale.  The pair stream comes from the shared ER stage
    (plans/er.py): materialized once per session, so the marginal cost
    here is the propagation rounds, not the levenshtein join."""
    from .plans.er import customer_fuzzy_pairs

    pairs = customer_fuzzy_pairs(spark, sf_dir).select("a", "b")
    labels = min_label_propagation(symmetrize(pairs), iters=_CC_ITERS)
    return labels.select(
        F.col("v").alias("custkey"), F.col("lbl").alias("cluster_id")
    )


@query(
    "entity_survivors",
    oracle=f"""
    WITH {_duck_cc_ctes()},
    members AS (
      SELECT l.v AS custkey, l.lbl AS cluster_id,
             round(c.c_acctbal * 100) AS bal
      FROM l{_CC_ITERS} l JOIN customer c ON c.c_custkey = l.v
    ),
    ranked AS (
      SELECT cluster_id, custkey, bal,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY bal DESC, custkey) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members,
             CAST(sum(CAST(bal AS BIGINT)) OVER (PARTITION BY cluster_id)
                  AS BIGINT) AS total_bal_cents
      FROM members
    )
    SELECT cluster_id, custkey AS survivor_custkey,
           CAST(n_members AS BIGINT) AS n_members, total_bal_cents
    FROM ranked WHERE rn = 1
    """,
)
def q_entity_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: one golden record per entity cluster — the member
    with the highest account balance (ties to the lowest custkey) —
    plus cluster stats.  Completes the ER pipeline (fuzzy_name_pairs →
    entity_clusters → survivors); the survivor pick and the stats share
    ONE window partitioning on cluster_id (no extra shuffle)."""
    clusters = q_entity_clusters(spark, sf_dir)
    c = read_table(spark, sf_dir, "customer")
    bal = cents(F.col("c_acctbal"))
    members = clusters.join(
        c, clusters.custkey == c.c_custkey
    ).select("cluster_id", "custkey", bal.alias("bal"))
    w = Window.partitionBy("cluster_id")
    ranked = members.select(
        "cluster_id",
        "custkey",
        F.row_number()
        .over(w.orderBy(F.col("bal").desc(), F.col("custkey")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
        F.sum("bal").over(w).alias("total_bal_cents"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("custkey").alias("survivor_custkey"),
        "n_members",
        "total_bal_cents",
    )


@query(
    "entity_golden_records",
    oracle=f"""
    WITH {_duck_cc_ctes()},
    ostats AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders,
             max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS last_day
      FROM orders GROUP BY o_custkey
    ),
    members AS (
      SELECT l.lbl AS cluster_id, c.c_custkey AS custkey,
             c.c_name AS name, c.c_mktsegment AS segment,
             CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
             coalesce(os.n_orders, 0) AS n_orders,
             coalesce(os.last_day, -1) AS last_day
      FROM l{_CC_ITERS} l
      JOIN customer c ON c.c_custkey = l.v
      LEFT JOIN ostats os ON os.custkey = c.c_custkey
    )
    SELECT cluster_id,
      arg_max(name,    bal_cents * 10000000 + custkey) AS name,
      arg_max(segment, n_orders  * 10000000 + custkey) AS segment,
      arg_max(custkey, last_day  * 10000000 + custkey) AS last_active_custkey,
      CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents,
      count(*) AS n_members
    FROM members GROUP BY cluster_id
    """,
)
def q_entity_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship: each golden-record column merges under
    its OWN policy — name from the highest-balance member, phone from
    the member with the most orders, address from the most recent
    orderer — via ``max_by`` with an integer priority that folds the
    custkey in as a deterministic tiebreak (``max_by`` alone is
    nondeterministic on ties; the fold keeps ONE agg shuffle for all
    policies where per-field window ranks would shuffle once per
    policy).  The 1e7 custkey fold assumes custkey < 1e7 — at larger
    scales widen to a struct ordering or decimal."""
    clusters = q_entity_clusters(spark, sf_dir)
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    ostats = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max(F.datediff("o_orderdate", F.lit("1970-01-01"))).alias("last_day"),
    )
    members = (
        clusters.join(c, clusters.custkey == c.c_custkey)
        .join(ostats, "custkey", "left")
        .select(
            "cluster_id",
            "custkey",
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            cents(F.col("c_acctbal")).alias("bal_cents"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("last_day", F.lit(-1)).alias("last_day"),
        )
    )
    # cast BEFORE multiplying: datediff yields int32 and day*1e7
    # overflows it (non-ANSI wraps silently -> garbage priorities)
    prio = lambda col: (
        F.col(col).cast("bigint") * F.lit(10000000) + F.col("custkey")
    )  # noqa: E731
    return members.groupBy("cluster_id").agg(
        F.max_by("name", prio("bal_cents")).alias("name"),
        F.max_by("segment", prio("n_orders")).alias("segment"),
        F.max_by("custkey", prio("last_day")).alias("last_active_custkey"),
        F.sum("bal_cents").alias("total_bal_cents"),
        F.count(F.lit(1)).alias("n_members"),
    )


@query(
    "entity_components",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT l.c_custkey AS a, r.c_custkey AS b
      FROM customer l JOIN customer r
        ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
      WHERE levenshtein(l.c_name, r.c_name) <= 2),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b AS src, a AS dst FROM pairs),
    reach(v, lbl) AS (
      SELECT DISTINCT src AS v, src AS lbl FROM edges
      UNION
      SELECT e.src AS v, r.lbl
      FROM reach r JOIN edges e ON e.dst = r.v
      WHERE r.lbl < e.src
    )
    SELECT v AS custkey, min(lbl) AS cluster_id FROM reach GROUP BY v
    """,
)
def q_entity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY-CONVERGED entity components (vs entity_clusters' fixed 4
    rounds): pointer-jumping connected components, O(log n) rounds.
    The converged result is algorithm-independent — each vertex gets its
    component's minimum custkey — so the oracle is a recursive-CTE
    reachability min rather than an iteration replay (the driver's hash
    agrees however many rounds each engine needed).  Consumes the
    shared staged pair stream (plans/er.py)."""
    from .plans.er import customer_fuzzy_pairs

    pairs = customer_fuzzy_pairs(spark, sf_dir).select("a", "b")
    labels = connected_components(symmetrize(pairs))
    return labels.select(
        F.col("v").alias("custkey"), F.col("lbl").alias("cluster_id")
    )


@query(
    "fuzzy_pairs_blocked",
    oracle="""
    SELECT l.c_custkey AS custkey_a, r.c_custkey AS custkey_b,
           CAST(levenshtein(l.c_name, r.c_name) AS INT) AS edit_dist
    FROM customer l JOIN customer r
      ON l.c_nationkey = r.c_nationkey AND l.c_custkey < r.c_custkey
    WHERE l.c_nationkey < 5
      AND levenshtein(l.c_name, r.c_name) <= 2
    """,
)
def q_fuzzy_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEGMENT-blocked fuzzy-pair path, forced (strategy="segment")
    so the driver gate proves the pigeonhole generator end-to-end:
    names cut into k+1 segments after dataset-common-prefix stripping,
    probes at ±k length/position shifts, equi-join on segment keys,
    banded-levenshtein verify (operators/blocking.py — PassJoin
    partition scheme, PVLDB'11).  Blocking is EXACT, so this oracle is
    the plain exhaustive join — identical output to fuzzy_name_pairs by
    theorem, reached through a candidate stream that stays ~linear in
    rows when segment values carry entropy (PERF.md "Exact segment
    blocking" shows the growth curves; on this digit-name testdata
    the cost-based auto mode instead picks the coarse path, which is
    why the shared ER stage and this forced variant are separate
    queries)."""
    from .operators.blocking import candidate_pairs

    # Nation-subset slice (nationkey < 5, ~1/5 of rows): the forced
    # segment path is expensive-by-design (VERDICT r10 item 5 measured
    # it at 4% of the whole suite full-size) and the pigeonhole
    # generator is proven identically on the slice — blocking is exact
    # per-nation, so a nation subset loses no code path.  The
    # cost-based auto mode (fuzzy_name_pairs / plans/er.py) still runs
    # full-size every round.
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    pairs = candidate_pairs(
        c, "c_custkey", "c_name", k=2, coarse_key="c_nationkey",
        strategy="segment",
    )
    return pairs.select(
        F.col("a").alias("custkey_a"),
        F.col("b").alias("custkey_b"),
        "edit_dist",
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (third similarity tier; operators/pq.py).
# ---------------------------------------------------------------------------

_PQ_M = 8     # subspaces
_PQ_K = 16    # codewords per subspace
_PQ_DSUB = 8  # dims per subspace (embeddings are 64-dim)


def _duck_pq_ctes() -> str:
    """CTE chain replaying pq_encode + the query's ADC table on the
    embeddings corpus: codebook = subvectors of vec_ids 0..K-1, encode =
    per-(vector, subspace) argmin (ties to the lowest code), dt = query
    subvector vs every codeword."""
    def d2(a_expr: str, b_expr: str) -> str:
        diff = (
            f"list_transform(range({_PQ_DSUB}), "
            f"j -> ({a_expr})[j+1] - ({b_expr})[j+1])"
        )
        return f"list_dot_product({diff}, {diff})"

    sub = f"e.ev[cw.s*{_PQ_DSUB}+1 : cw.s*{_PQ_DSUB}+{_PQ_DSUB}]"
    qsub = f"q.qv[cw.s*{_PQ_DSUB}+1 : cw.s*{_PQ_DSUB}+{_PQ_DSUB}]"
    return f"""emb AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    cw AS MATERIALIZED (
      SELECT s.i AS s, e.vec_id AS c,
             e.ev[s.i*{_PQ_DSUB}+1 : s.i*{_PQ_DSUB}+{_PQ_DSUB}] AS w
      FROM emb e, range({_PQ_M}) s(i) WHERE e.vec_id < {_PQ_K}),
    enc AS MATERIALIZED (
      SELECT vec_id, s, c FROM (
        SELECT e.vec_id, cw.s, cw.c,
               row_number() OVER (PARTITION BY e.vec_id, cw.s
                                  ORDER BY {d2(sub, "cw.w")}, cw.c) AS rn
        FROM emb e, cw
      ) t WHERE rn = 1),
    q AS (SELECT ev AS qv FROM emb WHERE vec_id = 0),
    dt AS MATERIALIZED (
      SELECT cw.s, cw.c, {d2(qsub, "cw.w")} AS d FROM cw, q)"""


@query(
    "pq_search",
    oracle=f"""
    WITH {_duck_pq_ctes()},
    scored AS (
      SELECT e.vec_id,
             list_reduce(list(dt.d ORDER BY dt.s), (x, y) -> x + y) AS ad
      FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
      WHERE e.vec_id != 0
      GROUP BY e.vec_id
    )
    SELECT vec_id AS neighbor_id,
           CAST(floor(ad * 1e6) AS BIGINT) AS approx_dist_e6
    FROM scored ORDER BY ad, vec_id LIMIT 10
    """,
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-10 for query vec_id=0: encode the corpus
    to 8 4-bit-ish codes (argmin over 16 sampled codewords per
    subspace), score via the query's broadcast ADC distance table —
    M lookups + an ascending-s sequential sum per row, no shuffle until
    the final TakeOrdered.  The oracle replays codebook, encoding, and
    the ordered-fold sum (list_reduce) so the float association
    matches."""
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return pq_search(
        e,
        q,
        k=10,
        n_subspaces=_PQ_M,
        n_codes=_PQ_K,
        exclude_id=0,
    )


_PQ_SHORTLIST = 200


@query(
    "pq_search_rerank",
    oracle=f"""
    WITH {_duck_pq_ctes()},
    scored AS (
      SELECT e.vec_id,
             list_reduce(list(dt.d ORDER BY dt.s), (x, y) -> x + y) AS ad
      FROM enc e JOIN dt ON dt.s = e.s AND dt.c = e.c
      WHERE e.vec_id != 0
      GROUP BY e.vec_id
    ),
    short AS (SELECT vec_id FROM scored ORDER BY ad, vec_id LIMIT {_PQ_SHORTLIST}),
    rer AS (
      SELECT e.vec_id,
             list_dot_product(
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1]),
               list_transform(range(64), j -> e.ev[j+1] - q.qv[j+1])) AS d
      FROM emb e JOIN short ON e.vec_id = short.vec_id, q
    )
    SELECT vec_id AS neighbor_id, CAST(floor(d * 1e6) AS BIGINT) AS dist_e6
    FROM rer ORDER BY d, vec_id LIMIT 10
    """,
)
def q_pq_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PQ pipeline: ADC shortlist (codes-only scan, 32×
    smaller payload) → exact squared-L2 re-rank of the 200 survivors.
    Recall@10 ~0.8-1.0 on the synthetic corpus vs ~0.1 for raw ADC —
    bench reports both (pq_recall_at_10 / pq_adc_recall_at_10)."""
    from .operators.pq import pq_search_rerank

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    return pq_search_rerank(
        e,
        q,
        k=10,
        shortlist=_PQ_SHORTLIST,
        n_subspaces=_PQ_M,
        n_codes=_PQ_K,
        exclude_id=0,
    )


# ---------------------------------------------------------------------------
# More TPC-H shapes (extras: locally oracle-checked, slots full).
# ---------------------------------------------------------------------------

@query(
    "important_parts_q11",
    oracle="""
    WITH pv AS (
      SELECT l.l_partkey AS partkey,
             CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_nationkey < 13
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS t,
                   count(*) AS np FROM pv)
    SELECT pv.partkey, pv.value_cents
    FROM pv, tot
    WHERE pv.value_cents * tot.np * 2 > 3 * tot.t
    """,
)
def q_important_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value within one nation's suppliers,
    kept when it exceeds a threshold fraction of the global total.  The
    spec's fixed 0.01%/SF fraction selects 0 rows at test scale, and a
    single synthetic nation can have no suppliers at sf0.001, so the
    dim filter takes a nation SUBSET (nationkey < 13 — same broadcast-
    filtered-dim plan shape) and the threshold is 1.5× the MEAN part
    value — measured non-empty AND selective at sf0.001/0.01/0.1
    (18/94/1057 of 200/2k/20k parts).  The test is pure integer math
    (value*n_parts*2 > 3*total) — no division, so no cross-engine float
    hazard.  Plan: one agg shuffle on partkey (supplier/nation
    broadcast), the (total, count) pair is a 1-row broadcast back."""
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 13)
    dim = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey")
    )
    pv = (
        l.join(dim, l.l_suppkey == dim.s_suppkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("value_cents"))
        .persist()
    )
    tot = pv.agg(
        F.sum("value_cents").alias("t"), F.count(F.lit(1)).alias("np")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents") * F.col("np") * F.lit(2) > F.lit(3) * F.col("t")
        )
        .select("partkey", "value_cents")
    )


@query(
    "blamed_suppliers_q21",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    multi AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1
    ),
    sole_late AS (
      SELECT l_orderkey FROM late
      GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) = 1
    )
    SELECT s.s_name AS name, count(*) AS numwait
    FROM late
    JOIN multi USING (l_orderkey)
    JOIN sole_late USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = late.l_suppkey
    GROUP BY s.s_name
    """,
)
def q_blamed_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (waiting-orders blame): suppliers whose late
    line (shipped >90 days after the order date) is the ONLY late
    supplier on a multi-supplier order.  The spec's EXISTS / NOT EXISTS
    pair compiles to two aggregated semi-join legs on orderkey — each
    leg shuffles O(orders), never the quadratic self-join."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .persist()
    )
    multi = (
        l.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("l_orderkey")
    )
    sole_late = (
        late.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") == 1)
        .select("l_orderkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        late.join(multi, "l_orderkey")
        .join(sole_late, "l_orderkey")
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "rolling_30d_spend",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
             AS day_no,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                           AS BIGINT)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS spend_30d_cents
    FROM orders
    """,
)
def q_rolling_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frames (value-based, vs running_totals' ROWS
    frames): per-customer trailing-30-day spend.  The order key is the
    integer day number, so RANGE 30 PRECEDING means calendar days, not
    row counts — same-day orders aggregate together in both engines
    (RANGE peers), which a ROWS frame would get wrong."""
    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day_no)
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        day_no.alias("day_no"),
        F.sum(cents(F.col("o_totalprice"))).over(w).alias("spend_30d_cents"),
    )


# ---------------------------------------------------------------------------
# Window-function breadth (extra): ntile / percent_rank / cume_dist.
# ---------------------------------------------------------------------------

@query(
    "ntile_percentiles",
    oracle="""
    SELECT c_custkey AS custkey,
           c_nationkey AS nationkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           CAST(floor(percent_rank() OVER w * 1e6) AS BIGINT) AS pct_rank_e6,
           CAST(floor(cume_dist() OVER w * 1e6) AS BIGINT) AS cume_e6
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY round(c_acctbal * 100), c_custkey)
    """,
)
def q_ntile_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family completeness next to window_rank_lag: quartile
    bucketing (ntile), percent_rank, cume_dist per nation.  The order
    key is (exact cents, custkey) so tie order — which ntile is
    sensitive to — is identical cross-engine; percent_rank/cume_dist are
    single IEEE divisions of identical ints, so the micro-unit floor is
    drift-free."""
    c = read_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(cents(F.col("c_acctbal")), F.col("c_custkey"))
    )
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1e6).alias("pct_rank_e6"),
        F.floor(F.cume_dist().over(w) * 1e6).alias("cume_e6"),
    )


# ---------------------------------------------------------------------------
# Dataset-assembly tier (operators/sampling.py): deterministic splits,
# per-source quota capping, token-budget sequence packing.
# ---------------------------------------------------------------------------

# DuckDB twin of functions.expressions.portable_hash64(seed)
def _duck_hash64(expr: str, seed: int = 0) -> str:
    return (
        f"CAST('0x' || substring(md5('{seed}|' || {expr}), 1, 15) AS BIGINT)"
    )


@query(
    "dataset_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
        CASE WHEN {_duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 90
               THEN 'train'
             WHEN {_duck_hash64("CAST(doc_id AS VARCHAR)")} % 100 < 95
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY split
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by id hash (no RNG
    state: any engine, run, or partitioning recomputes the identical
    assignment, and adding documents never reshuffles existing ones).
    Aggregated per split so the oracle checks both the assignment rule
    and the membership exactly."""
    from .operators.sampling import split_assign

    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(
            split_assign("doc_id", 90, 5).alias("split"), F.col("n_chars")
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "source_quota_sample",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        row_number() OVER (
          PARTITION BY source
          ORDER BY {_duck_hash64("CAST(doc_id AS VARCHAR)", seed=1)}, doc_id
        ) AS rk
      FROM documents
    ) t WHERE rk <= 15
    """,
)
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap: at most 15 documents per source, chosen by
    a stable id hash (a deterministic uniform subsample — the mixing
    control that stops one source dominating the training corpus).
    One shuffle on source; rank + filter fuse into the window stage."""
    from .functions.expressions import portable_hash64
    from .operators.sampling import quota_cap

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        portable_hash64(F.col("doc_id").cast("string"), seed=1).alias("__h"),
    )
    return quota_cap(d, "source", "__h", 15, tiebreak_col="doc_id").select(
        "doc_id", "source"
    )


@query(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id AS id,
        {_duck_hash64("CAST(doc_id AS VARCHAR)", seed=7)} % 8 AS shard,
        CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+'))
             END AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT id, shard, n_tokens,
      CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM toks
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents fill 512-token packs
    greedily in id order within 8 hash shards (pack_id = floor of the
    doc's START offset in the shard's token stream / budget).  Shards
    bound the running sum's sequential dependency so packing
    parallelizes — the global-order variant would serialize the corpus
    through one window partition."""
    from .operators.sampling import pack_sequences
    from .operators.text import token_count_ws

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens_src")
    )
    return pack_sequences(d, "doc_id", "n_tokens_src", budget=512)


@query(
    "nation_volume_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100))
                AS BIGINT) AS volume_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_nationkey < 13 AND n2.n_nationkey >= 13
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q_nation_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral shipping volume): lineitem joins BOTH
    dimension chains — supplier→nation on one side, orders→customer→
    nation on the other — grouped by (supplier nation, customer nation,
    ship year).  Plan at scale: both nation-filtered dims broadcast;
    the orders join is the one big shuffle (orderkey); the final agg
    shuffles only (nation, nation, year) groups — tiny.  The spec's
    two-nation literal pair is widened to a nation-subset cross pattern
    (the synthetic testdata's per-nation supplier counts hit zero at
    sf0.001 for single nations)."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.filter(F.col("n_nationkey") < 13).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_nationkey") >= 13).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = F.broadcast(
        s.join(n1, s.s_nationkey == F.col("n1_key")).select(
            "s_suppkey", "supp_nation"
        )
    )
    cust = c.join(F.broadcast(n2), c.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    return (
        l.join(supp, l.l_suppkey == supp.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("volume_cents")
        )
    )


@query(
    "mixture_weighted_sample",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source,
        2000 + {_duck_hash64("source", seed=3)} % 6000 AS rate_bp
      FROM documents
    ),
    kept AS (
      SELECT doc_id, source, rate_bp FROM rated
      WHERE {_duck_hash64("CAST(doc_id AS VARCHAR)", seed=4)} % 10000 < rate_bp
    )
    SELECT source, CAST(max(rate_bp) AS BIGINT) AS rate_bp,
           count(*) AS n_kept
    FROM kept GROUP BY source
    """,
)
def q_mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted sampling: every source keeps a deterministic
    per-source fraction of its documents (rate derived here from a
    source hash, standing in for a configured weights table — at scale
    the weights broadcast-join in).  Hash-threshold keep decisions mean
    the same rows survive every rerun; aggregated per source so the
    oracle checks rates AND memberships.  Map-only until the final
    count."""
    from .functions.expressions import portable_hash64
    from .operators.sampling import mixture_sample

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (
            F.lit(2000) + portable_hash64("source", seed=3) % 6000
        ).alias("rate_bp"),
    )
    kept = mixture_sample(d, "doc_id", "rate_bp")
    return kept.groupBy("source").agg(
        F.max("rate_bp").cast("bigint").alias("rate_bp"),
        F.count(F.lit(1)).alias("n_kept"),
    )
