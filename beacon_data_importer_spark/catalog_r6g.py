"""Round-6 catalog tier (g): incremental view maintenance —

* ``join_view_delta_maintain`` — textbook delta maintenance of a
  join-aggregate view under SIMULTANEOUS inserts to both base tables:
  with A → A ∪ ΔA and B → B ∪ ΔB, the view's change is
  ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — three delta joins that never touch
  A⋈B (the expensive part already materialized).  The query runs BOTH
  paths — the maintained view (base + folded delta) and a full
  recompute — and emits them side by side with a match flag, so the
  cross-engine hash certifies the algebra itself.

This is the join-view generalization of ``incremental_agg_merge``
(which maintains partial aggregates under appends to ONE table), and
the relational core of what Delta/Iceberg materialized-view refresh
and every warehouse's incremental pipeline does at 100 TB: the three
delta joins each carry |Δ|-proportional volume, broadcast-able when Δ
is small, while the recompute path would re-shuffle the full fact
table.

Reference parity: the reference's import loop IS single-table delta
maintenance (staging INSERT…SELECT appends, README.md:73-78); this
closes the two-table-join case.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query

#: deterministic "new arrivals": 10% of orders, 5% of customers
_IVM_SPLIT_SQL = {
    "dA": "c_custkey % 20 = 0",
    "A": "c_custkey % 20 <> 0",
    "dB": "o_orderkey % 10 = 0",
    "B": "o_orderkey % 10 <> 0",
}


def _ivm_sql(dialect: Dialect) -> str:
    s = _IVM_SPLIT_SQL
    return f"""
    WITH a_old AS (SELECT c_custkey, c_nationkey FROM customer
                   WHERE {s["A"]}),
    a_delta AS (SELECT c_custkey, c_nationkey FROM customer
                WHERE {s["dA"]}),
    b_old AS (SELECT o_custkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
              FROM orders WHERE {s["B"]}),
    b_delta AS (SELECT o_custkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS x_c
                FROM orders WHERE {s["dB"]}),
    view_base AS (
      SELECT a.c_nationkey AS nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(b.x_c) AS BIGINT) AS rev_c
      FROM a_old a JOIN b_old b ON b.o_custkey = a.c_custkey
      GROUP BY a.c_nationkey
    ),
    view_delta AS (
      SELECT nation, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(rev_c) AS BIGINT) AS rev_c
      FROM (
        SELECT a.c_nationkey AS nation, count(*) AS n, sum(b.x_c) AS rev_c
        FROM a_delta a JOIN b_old b ON b.o_custkey = a.c_custkey
        GROUP BY a.c_nationkey
        UNION ALL
        SELECT a.c_nationkey, count(*), sum(b.x_c)
        FROM a_old a JOIN b_delta b ON b.o_custkey = a.c_custkey
        GROUP BY a.c_nationkey
        UNION ALL
        SELECT a.c_nationkey, count(*), sum(b.x_c)
        FROM a_delta a JOIN b_delta b ON b.o_custkey = a.c_custkey
        GROUP BY a.c_nationkey
      ) deltas GROUP BY nation
    ),
    maintained AS (
      SELECT coalesce(vb.nation, vd.nation) AS nation,
             CAST(coalesce(vb.n, 0) + coalesce(vd.n, 0) AS BIGINT) AS n,
             CAST(coalesce(vb.rev_c, 0) + coalesce(vd.rev_c, 0) AS BIGINT)
               AS rev_c
      FROM view_base vb FULL OUTER JOIN view_delta vd
        ON vd.nation = vb.nation
    ),
    recomputed AS (
      SELECT c.c_nationkey AS nation,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT m.nation,
           m.n AS n_maintained,
           m.rev_c AS rev_maintained_c,
           r.n AS n_recomputed,
           r.rev_c AS rev_recomputed_c,
           CASE WHEN m.n = r.n AND m.rev_c = r.rev_c
                THEN 1 ELSE 0 END AS delta_matches,
           CAST(coalesce(vd.rev_c, 0) * 1000000
                {dialect.div} m.rev_c AS BIGINT) AS delta_share_ppm
    FROM maintained m
    JOIN recomputed r ON r.nation = m.nation
    LEFT JOIN view_delta vd ON vd.nation = m.nation
    ORDER BY m.nation
    """


sql_query(
    "join_view_delta_maintain", _ivm_sql, "customer", "orders",
    doc="""Incremental maintenance of a join-aggregate view when BOTH base
    tables receive inserts — the ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB algebra, run
    head-to-head against a full recompute with a per-group match flag
    (1 everywhere, asserted in tests AND by the cross-engine hash: any
    algebra slip would desynchronize the maintained column).

    The splits are deterministic key predicates (10% of orders, 5% of
    customers are 'new'), so both engines construct identical
    before/after states.  delta_share_ppm shows how much of the final
    view the delta path carried — the cost-avoidance a real
    incremental refresh banks: at 100 TB, the three delta joins
    shuffle |Δ|-proportional data (and broadcast when Δ is small)
    while recompute re-shuffles everything.  Generalizes
    ``incremental_agg_merge`` (one-table appends) to the two-table
    join case.

    Reference parity: the reference's staging INSERT…SELECT loop
    (README.md:73-78) is the one-table special case.""",
)
