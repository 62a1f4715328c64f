"""Round-5q catalog tier: nonparametric rank statistics —

* ``spearman_rho`` — Spearman rank correlation WITH TIES (Pearson on
  tie-averaged ranks) between line quantity and discount.
* ``kruskal_wallis`` — the Kruskal-Wallis H test (rank-based one-way
  ANOVA) of quantity across return-flag groups, with the tie
  correction — the nonparametric twin of ``anova_oneway``.

Shared device: TIE-AVERAGED RANKS ×2 stay integers — for a value with
``c`` occurrences and ``k`` smaller rows, 2·avgrank = 2k + c + 1 — and
both statistics then reduce to exact DECIMAL(38)/HUGEINT sufficient
statistics (the anova_oneway device), with ONE final IEEE chain per
output.  The rank map is built on the DISTINCT-value frame (both
variables are low-cardinality here), so the only ordered window runs
over ≤100 rows.

Extras marked "rotation candidate for round 6".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .sources.parquet import read_table

_DEC = "decimal(38,0)"

# DuckDB rank2 map for a low-cardinality integer column expr:
# 2*avg_rank = 2*(rows strictly smaller) + c + 1
_DUCK_RANK2 = """
      SELECT val,
             2 * (sum(c) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) - c)
               + c + 1 AS r2,
             c
      FROM (SELECT {col} AS val, count(*) AS c FROM {src} GROUP BY {col})
"""


def _spark_rank2(df: DataFrame, col: str) -> DataFrame:
    """(val, r2, c): tie-averaged rank ×2 per distinct value of ``col``
    — the ordered window runs on the distinct-value frame only."""
    byv = df.groupBy(F.col(col).alias("val")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    return byv.select(
        "val",
        (
            2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
        )
        .cast("bigint")
        .alias("r2"),
        F.col("c").cast("bigint").alias("c"),
    )


# ---------------------------------------------------------------------------
# spearman_rho
# ---------------------------------------------------------------------------


@query(
    "spearman_rho",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    xr AS ({_DUCK_RANK2.format(col="x", src="vals")}),
    yr AS ({_DUCK_RANK2.format(col="y", src="vals")}),
    ranked AS (
      SELECT xr.r2 AS rx, yr.r2 AS ry
      FROM vals v JOIN xr ON xr.val = v.x JOIN yr ON yr.val = v.y
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(rx AS HUGEINT)) AS sx,
             sum(CAST(ry AS HUGEINT)) AS sy,
             sum(CAST(rx AS HUGEINT) * rx) AS sxx,
             sum(CAST(ry AS HUGEINT) * ry) AS syy,
             sum(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1
                     WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END
                AS INT) AS num_sign,
           CAST(abs(n * sxy - sx * sy) // 1000000 AS BIGINT)
             AS num_abs_div1e6,
           CAST((n * sxx - sx * sx) // 1000000 AS BIGINT) AS denx_div1e6,
           CAST((n * syy - sy * sy) // 1000000 AS BIGINT) AS deny_div1e6,
           CAST(floor(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)
                / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
             AS rho_micro
    FROM s
    """,
)
def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation WITH TIES between line quantity and
    discount — Pearson on tie-averaged ranks, the monotone-association
    measure that is robust to outliers and nonlinearity (the
    complement of ``rolling_correlation``'s Pearson and
    ``mutual_information``'s bin-based dependence).

    Ranks ×2 stay integers under ties (2·avgrank = 2k + c + 1), the
    five sufficient statistics (Σr, Σr², Σrᵣᵧ cross term) aggregate as
    exact DECIMAL(38)/HUGEINT (n·Σxy reaches ~5×10²³ at sf0.1 — past
    bigint, inside decimal), and ρ is ONE final IEEE chain over those
    exact integers — bit-identical cross-engine (the anova_oneway
    discipline applied to rank statistics).  The exact integer cores
    ship scaled-down alongside the quantized ratio — and because the
    covariance numerator is NEGATIVE here, it ships as (sign, |num|):
    the scaling devices disagree on negatives (Spark's pmod form
    floors, integer ``//``/``div`` truncate), so the catalog rule is
    to divide only non-negative operands — measured by this query's
    own first cut failing by exactly one unit at sf0.01.

    Plan: one scan; each rank map is a groupBy over ≤100 distinct
    values (the ordered window runs THERE, never over rows) broadcast
    back; one 1-row sufficient-statistics aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("y"),
    )
    xr = _spark_rank2(vals, "x").select(
        F.col("val").alias("xv"), F.col("r2").alias("rx")
    )
    yr = _spark_rank2(vals, "y").select(
        F.col("val").alias("yv"), F.col("r2").alias("ry")
    )
    ranked = vals.join(F.broadcast(xr), vals["x"] == xr["xv"]).join(
        F.broadcast(yr), vals["y"] == yr["yv"]
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(F.col("rx").cast(_DEC)).alias("sx"),
        F.sum(F.col("ry").cast(_DEC)).alias("sy"),
        F.sum(F.col("rx").cast(_DEC) * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast(_DEC) * F.col("ry")).alias("syy"),
        F.sum(F.col("rx").cast(_DEC) * F.col("ry")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")

    def div1e6(c):
        return F.expr(
            f"cast(({c} - pmod({c}, cast(1000000 as decimal(38,0))))"
            f" / 1000000 as bigint)"
        )

    return s.select(
        F.col("n").cast("bigint").alias("n_rows"),
        num.alias("__num"),
        denx.alias("__denx"),
        deny.alias("__deny"),
    ).select(
        "n_rows",
        F.when(F.col("__num") < 0, -1)
        .when(F.col("__num") > 0, 1)
        .otherwise(0)
        .cast("int")
        .alias("num_sign"),
        div1e6("abs(__num)").alias("num_abs_div1e6"),
        div1e6("__denx").alias("denx_div1e6"),
        div1e6("__deny").alias("deny_div1e6"),
        F.floor(
            F.lit(1e6)
            * F.col("__num").cast("double")
            / F.sqrt(
                F.col("__denx").cast("double")
                * F.col("__deny").cast("double")
            )
        )
        .cast("bigint")
        .alias("rho_micro"),
    )


# ---------------------------------------------------------------------------
# kruskal_wallis
# ---------------------------------------------------------------------------


@query(
    "kruskal_wallis",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
             l_returnflag AS g
      FROM lineitem
    ),
    xr AS ({_DUCK_RANK2.format(col="x", src="vals")}),
    ranked AS (
      SELECT v.g, xr.r2 FROM vals v JOIN xr ON xr.val = v.x
    ),
    per_g AS (
      SELECT g, CAST(count(*) AS HUGEINT) AS n_g,
             sum(CAST(r2 AS HUGEINT)) AS r2_g
      FROM ranked GROUP BY g
    ),
    ties AS (
      SELECT sum(CAST(c AS HUGEINT) * c * c - c) AS t FROM xr
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             sum(n_g) AS n,
             sum((r2_g * r2_g) // n_g) AS s4
      FROM per_g
    )
    SELECT k AS n_groups, CAST(n AS BIGINT) AS n_rows,
           CAST(s4 // 1000000 AS BIGINT) AS s4_div1e6,
           CAST(t AS BIGINT) AS tie_term,
           CAST(floor(1e6
             * (3.0 * CAST(s4 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             / (1.0 - CAST(t AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))))
             AS BIGINT) AS h_micro
    FROM agg CROSS JOIN ties
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test (rank one-way ANOVA) of line quantity
    across return-flag groups, WITH the tie correction — the
    nonparametric twin of ``anova_oneway``: no normality assumption,
    driven entirely by tie-averaged ranks.  H = [12/(N(N+1))·Σ R_g²/n_g
    − 3(N+1)] / [1 − Σ(t³−t)/(N³−N)]; with ranks carried ×2,
    Σ R_g²/n_g = S4/4 where S4 = Σ (R2_g² div n_g) is an EXACT
    per-group floored decimal division (≤1 definitional unit per
    group, order-insensitive integer sum — the ADVICE-r4 discipline),
    so 12/4 = the 3.0 in the final single IEEE chain.

    Exact integer cores (S4, the tie term Σ(c³−c)) ship alongside the
    quantized H so the hash pins them independently of the one float
    chain.

    Plan: one scan; the rank map is the same ≤100-distinct-value
    broadcast as spearman_rho; one 3-row group aggregate; every window
    is on the distinct-value frame."""
    li = read_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("x"),
        F.col("l_returnflag").alias("g"),
    )
    xr = _spark_rank2(vals, "x")
    ranked = vals.join(
        F.broadcast(xr.select(F.col("val").alias("xv"), "r2")),
        vals["x"] == F.col("xv"),
    )
    per_g = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n_g"),
        F.sum(F.col("r2").cast(_DEC)).alias("r2_g"),
    )
    ties = xr.agg(
        F.sum(
            F.col("c").cast(_DEC) * F.col("c") * F.col("c") - F.col("c")
        ).alias("t")
    )
    agg = per_g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(
            F.expr(
                "cast((r2_g * r2_g - pmod(r2_g * r2_g, n_g)) / n_g"
                " as decimal(38,0))"
            )
        ).alias("s4"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n").cast("double")
    h = (
        F.lit(3.0) * F.col("s4").cast("double") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    ) / (
        F.lit(1.0) - F.col("t").cast("double") / (nd * nd * nd - nd)
    )
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            "cast((s4 - pmod(s4, cast(1000000 as decimal(38,0))))"
            " / 1000000 as bigint)"
        ).alias("s4_div1e6"),
        F.col("t").cast("bigint").alias("tie_term"),
        F.floor(F.lit(1e6) * h).cast("bigint").alias("h_micro"),
    )
