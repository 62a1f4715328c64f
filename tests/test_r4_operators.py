"""Invariant tests for the round-4 analytic/extras tier — properties
the oracle's value-hash can't articulate: algorithm cross-checks,
dominance/bound invariants, and expected-mutation reconciliation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

import beacon_data_importer_spark.catalog_r4  # noqa: F401 (registers queries)
from beacon_data_importer_spark.catalog import QUERIES


def test_rolling_distinct_matches_naive_window_form(spark, sf_dir):
    """The linear interval-union implementation must agree row-for-row
    with the quadratic collect_list formulation it replaced."""
    from beacon_data_importer_spark.sources.parquet import read_table

    fast = QUERIES["rolling_distinct_customers"](spark, sf_dir)

    o = read_table(spark, sf_dir, "orders")
    day_no = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("bigint")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(day_no)
        .rangeBetween(-90, Window.currentRow)
    )
    naive = o.select(
        F.col("o_orderpriority").alias("priority"),
        day_no.alias("day_no"),
        F.size(F.array_distinct(F.collect_list("o_custkey").over(w)))
        .cast("bigint")
        .alias("distinct_customers_90d"),
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0


def test_semantic_dedup_first_wins_rule(spark, sf_dir):
    """keep=false iff a LOWER-id same-cluster vector sits within tau —
    recomputed from scratch; also: each cluster's min id always kept."""
    from beacon_data_importer_spark.catalog_more import _kmeans_fit_cached
    from beacon_data_importer_spark.catalog_r4 import _SEMDEDUP_TAU
    from beacon_data_importer_spark.operators import similarity as SIM
    from beacon_data_importer_spark.operators.kmeans import assign_clusters
    from beacon_data_importer_spark.sources.parquet import read_table

    out = {r["vec_id"]: r for r in QUERIES["semantic_dedup"](spark, sf_dir).collect()}

    e = read_table(spark, sf_dir, "embeddings")
    centroids = _kmeans_fit_cached(spark, sf_dir)
    asg = assign_clusters(e, centroids, "vec_id", "embedding").select(
        F.col("id").alias("vec_id"), "vec", "cluster"
    )
    l = asg.select("cluster", F.col("vec_id").alias("a"), F.col("vec").alias("ea"))
    r = asg.select("cluster", F.col("vec_id").alias("b"), F.col("vec").alias("eb"))
    dropped_expect = {
        row["b"]
        for row in (
            l.join(r, "cluster")
            .filter(F.col("a") < F.col("b"))
            .filter(SIM.cosine("ea", "eb") >= _SEMDEDUP_TAU)
            .select("b")
            .distinct()
            .collect()
        )
    }
    dropped_got = {v for v, row in out.items() if not row["keep"]}
    assert dropped_got == dropped_expect

    # first-wins: a cluster's minimum id can never be dropped
    min_ids = {}
    for v, row in out.items():
        c = row["cluster"]
        if c not in min_ids or v < min_ids[c]:
            min_ids[c] = v
    for c, v in min_ids.items():
        assert out[v]["keep"], (c, v)


def test_time_weighted_avg_bounded_by_value_range(spark, sf_dir):
    """A convex combination of step values stays inside [min, max] of
    the user's view values (e6-scaled with floor slack)."""
    from beacon_data_importer_spark.sources.parquet import read_table

    twa = {
        r["user_id"]: r["twa_e6"]
        for r in QUERIES["time_weighted_avg"](spark, sf_dir).collect()
    }
    e = read_table(spark, sf_dir, "events")
    rng = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in (
            e.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(
                F.min(F.round(F.col("value") * 1e6)).alias("lo"),
                F.max(F.round(F.col("value") * 1e6)).alias("hi"),
            )
            .collect()
        )
    }
    for u, v in twa.items():
        lo, hi = rng[u]
        assert lo - 1 <= v <= hi + 1, (u, v, lo, hi)


def test_weighted_median_splits_the_weight(spark, sf_dir):
    """At most half the total weight lies strictly below the weighted
    median, and at most half strictly above."""
    from beacon_data_importer_spark.catalog import cents
    from beacon_data_importer_spark.sources.parquet import read_table

    meds = {
        r["returnflag"]: (r["weighted_median_cents"], r["total_weight"])
        for r in QUERIES["weighted_median"](spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        cents(F.col("l_quantity")).alias("wt"),
    )
    for rf, (med, total) in meds.items():
        below = (
            li.filter((F.col("rf") == rf) & (F.col("price_c") < med))
            .agg(F.coalesce(F.sum("wt"), F.lit(0)))
            .collect()[0][0]
        )
        above = (
            li.filter((F.col("rf") == rf) & (F.col("price_c") > med))
            .agg(F.coalesce(F.sum("wt"), F.lit(0)))
            .collect()[0][0]
        )
        assert 2 * below <= total, (rf, below, total)
        assert 2 * above <= total, (rf, above, total)


def test_bucket_checksum_diff_flags_exactly_the_mutated_buckets(spark, sf_dir):
    """differs=true iff the bucket contains an updated (k%97=0) or
    deleted (k%101=0) key — recomputed from the mutation rule."""
    from beacon_data_importer_spark.catalog_r4 import _CKBUCKETS
    from beacon_data_importer_spark.sources.parquet import read_table

    rows = QUERIES["bucket_checksum_diff"](spark, sf_dir).collect()
    got = {r["bucket"]: r["differs"] for r in rows}

    o = read_table(spark, sf_dir, "orders")
    mutated = {
        r["bucket"]
        for r in (
            o.filter(
                (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 101 == 0)
            )
            .select((F.col("o_orderkey") % _CKBUCKETS).alias("bucket"))
            .distinct()
            .collect()
        )
    }
    for b, differs in got.items():
        assert differs == (b in mutated), (b, differs)


def test_argmax_per_group_dominance(spark, sf_dir):
    rows = QUERIES["argmax_per_group"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["top_acctbal_cents"] >= r["bottom_acctbal_cents"]
        assert r["top_customer"] and r["bottom_customer"]
