"""Round-5d catalog tier: data-contract and experimentation analytics —

* ``fd_violation_audit`` — functional-dependency checker: for each
  candidate FD (determinant → dependent), the exact count of
  determinant groups carrying more than one dependent value.  The
  data-contract primitive behind key inference, normalization checks,
  and "is this column derivable" questions.
* ``bootstrap_ci_revenue`` — Poisson bootstrap confidence intervals
  (Efron, via one-pass replica weighting): every row joins B=32
  replicas with a deterministic hash-derived Poisson(1) weight, so the
  full bootstrap is ONE scan + a (group × replica) aggregate — the
  only way bootstrap works at 100 TB (no resampled copies of the
  data ever exist).
* ``qini_uplift`` — uplift/Qini decile table: deterministic 50/50
  treatment split, acctbal-scored deciles via the distributed exact
  ntile, per-decile and cumulative treated-vs-control spend deltas.
  The evaluation artifact for any targeting model.
* ``top_p_vocab`` — nucleus (top-p) vocabulary truncation per source:
  smallest prefix of the frequency-sorted vocabulary covering 50% /
  90% of token mass — integer-exact via cross-multiplied cumulative
  comparisons (10·cum < 9·total), no ratios materialized.

Same parity discipline as catalog.py; all queries are extras marked
"rotation candidate for round 6".  Reference parity: these generalize
the reference's QA-report queries (``prepare_contacts.py`` QA join
tier, SURVEY §2 X17-X20) from per-row checks to dataset-level
contracts and experiment readouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# fd_violation_audit
# ---------------------------------------------------------------------------

# (name, table, determinant cols, dependent col)
_FDS: list[tuple[str, str, list[str], str]] = [
    ("nation.nationkey->regionkey", "nation", ["n_nationkey"], "n_regionkey"),
    ("customer.nationkey->mktsegment", "customer", ["c_nationkey"], "c_mktsegment"),
    ("orders.custkey->orderpriority", "orders", ["o_custkey"], "o_orderpriority"),
    ("lineitem.partkey->extendedprice", "lineitem", ["l_partkey"], "l_extendedprice"),
    (
        "lineitem.partkey,quantity->extendedprice",
        "lineitem",
        ["l_partkey", "l_quantity"],
        "l_extendedprice",
    ),
]


def _fd_sql(name: str, table: str, det: list[str], dep: str) -> str:
    det_cols = ", ".join(det)
    return f"""
      SELECT '{name}' AS fd,
             count(*) AS n_groups,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                  // count(*) AS BIGINT) AS viol_ppm
      FROM (
        SELECT {det_cols}, count(DISTINCT {dep}) AS nd
        FROM {table} GROUP BY {det_cols}
      )
    """


@query(
    "fd_violation_audit",
    oracle=" UNION ALL ".join(_fd_sql(*fd) for fd in _FDS),
)
def q_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation audit over five candidate FDs.

    For each determinant → dependent candidate, counts determinant
    groups whose dependent takes >1 distinct value — zero violations
    certifies the FD (here: nation.nationkey→regionkey), a high ppm
    refutes it (orders.custkey→orderpriority).  This is how key
    candidates, derivable columns, and normalization opportunities are
    discovered on data nobody documented.

    Each FD is one map-side-combined groupBy on its determinant
    followed by a 1-row rollup; the five audits union.  Exact NDV per
    group (not approx) is intentional: the certification must be
    exact, and per-group NDV is bounded by group size, never corpus
    size.  At 100 TB each audit is a single shuffle on its
    determinant key.

    Reference parity: dataset-level generalization of the reference's
    per-row QA checks (``prepare_contacts.py`` X17-X20)."""
    frames = []
    for name, table, det, dep in _FDS:
        t = read_table(spark, sf_dir, table)
        grouped = t.groupBy(*det).agg(F.countDistinct(dep).alias("nd"))
        frames.append(
            grouped.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
            ).select(
                F.lit(name).alias("fd"),
                "n_groups",
                "n_violating",
                F.expr("n_violating * 1000000 div n_groups").alias("viol_ppm"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# bootstrap_ci_revenue
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) inverse-CDF thresholds in parts-per-billion: P(X<=k) for
# k=0..4; mass beyond 5 (~0.06%) is truncated into w=5 — identically on
# both engines, so the truncation is parity-neutral.
_POIS_PPB = [367879441, 735758882, 919698603, 980993098, 996340153]


def _boot_w_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_PPB)
    )
    return f"CASE {branches} ELSE 5 END"


@query(
    "bootstrap_ci_revenue",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
    weighted AS (
      SELECT o.o_orderpriority AS prio, r.b,
             {_boot_w_sql(
                 "CAST('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR)"
                 " || '|' || CAST(r.b AS VARCHAR)), 1, 15) AS BIGINT)"
                 " % 1000000000"
             )} AS w,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS x_c
      FROM orders o CROSS JOIN reps r
    ),
    rep_means AS (
      SELECT prio, b,
             CAST(CAST(sum(w * x_c) AS BIGINT)
                  // CAST(sum(w) AS BIGINT) AS BIGINT) AS mean_b
      FROM weighted GROUP BY prio, b
    ),
    ranked AS (
      SELECT prio, b, mean_b,
             row_number() OVER (PARTITION BY prio
                                ORDER BY mean_b, b) AS rn
      FROM rep_means
    ),
    ci AS (
      SELECT prio,
             CAST(max(CASE WHEN rn = 2 THEN mean_b END) AS BIGINT)
               AS boot_lo_c,
             CAST(max(CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END)
                  AS BIGINT) AS boot_hi_c
      FROM ranked GROUP BY prio
    ),
    pt AS (
      SELECT o_orderpriority AS prio, count(*) AS n,
             CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) // count(*) AS BIGINT) AS mean_c
      FROM orders GROUP BY 1
    )
    SELECT pt.prio, pt.n, pt.mean_c, ci.boot_lo_c, ci.boot_hi_c
    FROM pt JOIN ci ON ci.prio = pt.prio
    """,
)
def q_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value per
    priority class — B={b} replicas in ONE pass.

    Classical bootstrap resamples the dataset B times; at scale that
    is B full copies.  The Poisson bootstrap replaces resampling with
    independent Poisson(1) multiplicities: each (row, replica) pair
    draws a deterministic weight from the md5-derived uniform through
    the inverse CDF (integer ppb thresholds — no floats), so replica
    means are exact integer ratios and the whole procedure is one
    explode(×{b}) + one (group × replica) aggregate + a 32-row-per-
    group order statistic.  The interval is the [2nd, {b1}th] replica
    mean (~94% coverage).  At 100 TB: map-side combine collapses the
    ×{b} blowup before the exchange; nothing ever materializes a
    resample.

    Reference parity: the reference reports raw counts only
    (``prepare_contacts.py`` QA rollups); this adds the uncertainty
    the counts need before anyone acts on them."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        cents(F.col("o_totalprice")).alias("x_c"),
    )
    # CAST the conv() STRING to BIGINT *before* the modulo: string
    # arithmetic coerces to DOUBLE, which quantizes the 60-bit hash to
    # multiples of 128 — measured drift vs DuckDB's exact integers
    # (round-6 audit; only the rarity of Poisson-threshold straddles
    # made the drift invisible at small SF).
    u = (
        "CAST(conv(substring(md5(concat(cast(o_orderkey as string), '|',"
        " cast(b as string))), 1, 15), 16, 10) AS BIGINT) % 1000000000"
    )
    # Explicit repartition before the ×B explode: the single-file orders
    # scan is one input split, so the 4.8M md5 evaluations otherwise run
    # in ONE task (measured 4.4 s single-core at sf0.1; r11 round, guide
    # §2 / the _docs_parallel device).  Replica sums are exact integers,
    # so partitioning cannot change any output bit.
    exploded = o.repartition(spark.sparkContext.defaultParallelism).select(
        "o_orderkey",
        "prio",
        "x_c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "prio",
        "b",
        "x_c",
        F.expr(f"CAST({u} AS BIGINT)").alias("u_ppb"),
    )
    w = F.expr(_boot_w_sql("u_ppb"))
    rep_means = (
        exploded.select("prio", "b", (w * F.col("x_c")).alias("wx"), w.alias("w"))
        .groupBy("prio", "b")
        .agg(F.sum("wx").alias("swx"), F.sum("w").alias("sw"))
        .select("prio", "b", F.expr("swx div sw").alias("mean_b"))
    )
    rn = F.row_number().over(Window.partitionBy("prio").orderBy("mean_b", "b"))
    ci = (
        rep_means.select("prio", "mean_b", rn.alias("rn"))
        .groupBy("prio")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("boot_lo_c"),
            F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))).alias(
                "boot_hi_c"
            ),
        )
    )
    pt = o.groupBy("prio").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(x_c) div count(*)").alias("mean_c"),
    )
    return pt.join(ci, "prio").select(
        "prio", "n", "mean_c", "boot_lo_c", "boot_hi_c"
    )


q_bootstrap_ci_revenue.__doc__ = (q_bootstrap_ci_revenue.__doc__ or "").format(
    b=_BOOT_B, b1=_BOOT_B - 1
)


# ---------------------------------------------------------------------------
# qini_uplift
# ---------------------------------------------------------------------------

_QINI_DECILES = 10


@query(
    "qini_uplift",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             AS BIGINT) AS spend_c
      FROM orders GROUP BY o_custkey
    ),
    pop AS (
      SELECT c.c_custkey AS k,
             CAST('0x' || substring(md5('trt|' ||
               CAST(c.c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS t,
             -(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS neg_score,
             coalesce(s.spend_c, 0) AS y_c
      FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    tiled AS (
      SELECT t, y_c,
             ntile({_QINI_DECILES}) OVER (ORDER BY neg_score, k) AS decile
      FROM pop
    ),
    per AS (
      SELECT CAST(decile AS INT) AS decile,
             CAST(sum(t) AS BIGINT) AS n_t,
             CAST(sum(1 - t) AS BIGINT) AS n_c,
             CAST(sum(t * y_c) AS BIGINT) AS sum_t_c,
             CAST(sum((1 - t) * y_c) AS BIGINT) AS sum_c_c
      FROM tiled GROUP BY 1
    ),
    up AS (
      SELECT decile, n_t, n_c,
             CAST(CASE WHEN n_t > 0 THEN sum_t_c // n_t ELSE 0 END
                  AS BIGINT) AS avg_t_c,
             CAST(CASE WHEN n_c > 0 THEN sum_c_c // n_c ELSE 0 END
                  AS BIGINT) AS avg_c_c
      FROM per
    )
    SELECT decile, n_t, n_c, avg_t_c, avg_c_c,
           avg_t_c - avg_c_c AS uplift_c,
           CAST(sum(avg_t_c - avg_c_c) OVER (
             ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_uplift_c
    FROM up
    """,
)
def q_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini/uplift decile table: treated-vs-control spend delta by
    model-score decile, plus the cumulative (Qini-style) curve.

    Customers split 50/50 by deterministic hash (the randomization a
    real experiment would persist), scored by account balance
    (stand-in for a targeting model), cut into {d} deciles with the
    distributed exact ntile (operators/order.py — range partition +
    offset table, no global sort task), then per-decile average spend
    per arm and the running sum of deltas.  All integer cents; arm
    averages guard n=0 identically on both engines.

    At 100 TB the decile assignment is the same two-exchange ntile the
    layout audits use, the rest is one groupBy on 10 keys.  The final
    cumulative window runs on a 10-row frame.

    Reference parity: the experiment-readout generalization of the
    reference's 3-way user assignment (X16, ``prepare_contacts.py``
    round-robin site)."""
    from .operators.order import global_ntile

    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("spend_c"))
    )
    c = read_table(spark, sf_dir, "customer")
    pop = (
        c.join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("k"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("trt|"), F.col("c_custkey").cast("string")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("t"),
            (-cents(F.col("c_acctbal"))).alias("neg_score"),
            F.coalesce(F.col("spend_c"), F.lit(0).cast("bigint")).alias("y_c"),
        )
    )
    tiled = global_ntile(pop, _QINI_DECILES, ["neg_score", "k"]).select(
        "t", "y_c", F.col("__ntile").alias("decile")
    )
    per = tiled.groupBy("decile").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum(F.col("t") * F.col("y_c")).cast("bigint").alias("sum_t_c"),
        F.sum((1 - F.col("t")) * F.col("y_c")).cast("bigint").alias("sum_c_c"),
    )
    up = per.select(
        "decile",
        "n_t",
        "n_c",
        F.expr(
            "CAST(CASE WHEN n_t > 0 THEN sum_t_c div n_t ELSE 0 END AS BIGINT)"
        ).alias("avg_t_c"),
        F.expr(
            "CAST(CASE WHEN n_c > 0 THEN sum_c_c div n_c ELSE 0 END AS BIGINT)"
        ).alias("avg_c_c"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return up.select(
        "decile",
        "n_t",
        "n_c",
        "avg_t_c",
        "avg_c_c",
        (F.col("avg_t_c") - F.col("avg_c_c")).alias("uplift_c"),
        F.sum(F.col("avg_t_c") - F.col("avg_c_c")).over(w).alias("cum_uplift_c"),
    )


q_qini_uplift.__doc__ = (q_qini_uplift.__doc__ or "").format(d=_QINI_DECILES)


# ---------------------------------------------------------------------------
# top_p_vocab
# ---------------------------------------------------------------------------

@query(
    "top_p_vocab",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
      FROM documents WHERE trim(text) <> ''
    ),
    tf AS MATERIALIZED (
      SELECT t.source, u.tok AS term, count(*) AS tf
      FROM toks t, unnest(t.tk) AS u(tok)
      GROUP BY t.source, u.tok
    ),
    cum AS (
      SELECT source, tf,
             CAST(coalesce(sum(tf) OVER (
               PARTITION BY source ORDER BY tf DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS excl_cum,
             CAST(sum(tf) OVER (PARTITION BY source) AS BIGINT) AS total
      FROM tf
    )
    SELECT source,
           CAST(max(total) AS BIGINT) AS n_tokens,
           count(*) AS ndv_terms,
           CAST(sum(CASE WHEN 2 * excl_cum < total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p50,
           CAST(sum(CASE WHEN 10 * excl_cum < 9 * total THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p90,
           CAST(sum(CASE WHEN 10 * excl_cum < 9 * total THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS p90_share_ppm
    FROM cum GROUP BY source
    """,
)
def q_top_p_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary truncation per source: how many of
    the highest-frequency terms cover 50% / 90% of the token mass.

    The truncation rule is the sampling-time top-p device applied to a
    corpus: sort the vocabulary by frequency (term tie-break), keep
    terms while the EXCLUSIVE cumulative mass is below p·total —
    evaluated as the cross-multiplied integer comparison
    ``10·cum < 9·total`` so no ratio is ever materialized and both
    engines agree exactly.  A tiny n_p90/ndv share flags a
    heavy-tailed (mostly-junk) vocabulary; the report feeds tokenizer
    and filter design.

    Plan: postings aggregate on (source, term) — the only exchange
    that scales with corpus bytes — then vocabulary-sized per-source
    windows (rows ×1, partitioned by source).  Same scan/topology as
    ``source_top_terms`` (catalog_r3c.py), reusing its tokenizer.

    Reference parity: corpus-level twin of the reference's per-cell
    text normalizations (X21 initcap family)."""
    from .operators.text import _tokens

    d = read_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tf = (
        d.select("source", F.explode(_tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w_excl = (
        Window.partitionBy("source")
        .orderBy(F.col("tf").desc(), "term")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("source")
    cum = tf.select(
        "source",
        "tf",
        F.coalesce(F.sum("tf").over(w_excl), F.lit(0)).alias("excl_cum"),
        F.sum("tf").over(w_all).alias("total"),
    )
    return cum.groupBy("source").agg(
        F.max("total").alias("n_tokens"),
        F.count(F.lit(1)).alias("ndv_terms"),
        F.sum(F.when(2 * F.col("excl_cum") < F.col("total"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_p50"),
        F.sum(
            F.when(10 * F.col("excl_cum") < 9 * F.col("total"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_p90"),
        F.expr(
            "CAST(sum(CASE WHEN 10 * excl_cum < 9 * total THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("p90_share_ppm"),
    )
