"""Dataset-assembly operators for training pipelines: deterministic
splits, per-source quota capping, and token-budget sequence packing.

These are the steps between "cleaned corpus" and "training shards":
assign every document to train/val/test reproducibly (no RNG state to
ship, any engine recomputes the same split), cap any one source's share
of the mix, and pack variable-length documents into fixed-token-budget
sequences.  Everything is a pure Column/window computation — one shuffle
per operator, no Python — and deterministic, so the DuckDB oracles
replay them exactly.  The one exception is ``pack_bins_bestfit``, whose
open-bin placement loop is inherently sequential per shard and runs as
a per-shard Arrow ``applyInPandas`` (invariant-tested, no SQL twin).

The reference has no analogue (its pipeline ends at a Postgres COPY —
README.md:73-78); these extend the repo's training-data tier
(SURVEY §7.5) the same way the dedup/similarity operators do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import portable_hash64


def split_assign(
    id_col: Column | str,
    train_pct: int = 90,
    val_pct: int = 5,
    seed: int = 0,
) -> Column:
    """Deterministic train/val/test label from a stable id hash.

    ``portable_hash64(id) % 100`` buckets the key space uniformly; the
    first ``train_pct`` buckets are train, the next ``val_pct`` val,
    the rest test.  Hash-based (not ``rand()``-based) so the split is
    reproducible across runs, engines, and partitionings — re-running
    the pipeline after adding documents never reshuffles existing
    assignments (the property a training pipeline actually needs from
    its split).
    """
    bucket = portable_hash64(F.col(id_col).cast("string"), seed=seed) % 100
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def quota_cap(
    df: DataFrame,
    group_col: str,
    order_col: str,
    max_per_group: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep at most ``max_per_group`` rows per group, deterministically
    (ranked by ``order_col`` — a stable hash column makes this a uniform
    subsample; a quality score makes it best-of-source).

    Determinism requires a total order within each group: pass
    ``tiebreak_col`` whenever ``order_col`` can tie (no column-name
    default — a generic operator must not assume the caller's schema).
    The rank's working column is chosen to dodge any existing column.

    One shuffle on the group key; the window rank and the filter fuse
    into the same stage.  The classic mixing-control step: no single
    domain/source may dominate the training mix.
    """
    order_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    rk = "__rk"
    while rk in df.columns:
        rk += "_"
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= max_per_group)
        .drop(rk)
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: Column | str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (greedy by id order
    within each shard): pack_id = floor(cumulative_tokens / budget).

    A doc whose running total crosses a budget boundary starts a new
    pack — the floor-div formulation over a running sum is exact, needs
    ONE window pass, and is deterministic given the (shard, id) order.
    Shards bound the sequential dependency: the running sum only spans a
    shard, so packs parallelize across shards (at 100 TB the shard is
    the natural unit of work; a global running sum would serialize the
    corpus through one partition).

    Returns (id, shard, n_tokens, pack_id).  Oversized docs (> budget)
    get a pack of their own (their start boundary still advances the
    counter), matching what a sequence-packing loader does before
    truncation.
    """
    shard = (
        F.col(shard_col) if isinstance(shard_col, str) else shard_col
        if shard_col is not None
        else (portable_hash64(F.col(id_col).cast("string"), seed=7) % 8)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        shard.alias("shard"),
        F.col(token_col).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum("n_tokens").over(w)
    # pack by the token interval's START offset: doc i occupies
    # [running - n_tokens, running) within the shard's token stream
    pack = F.floor((running - F.col("n_tokens")) / F.lit(budget))
    return base.select(
        "id", "shard", "n_tokens", pack.cast("bigint").alias("pack_id")
    )


def pack_bins_serpentine(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: Column | str | None = None,
) -> DataFrame:
    """Capacity-aware balanced binning: per shard, open exactly
    ``ceil(shard_tokens / budget)`` packs and deal documents to them in
    serpentine order of decreasing length (rank 1..n by tokens desc;
    row at 0-based position p lands in pack ``p % n_bins`` on even
    passes and ``n_bins-1 - p % n_bins`` on odd passes).  The snake
    pairs each pack's large docs with small ones, so pack loads
    concentrate tightly around ``budget`` — the balanced-multiway-
    partition heuristic (LPT round-robin with direction flips) in a
    single window pass.

    Unlike ``pack_sequences`` (contiguous stream chunking, docs may span
    pack boundaries) this never splits a document; packs may land
    slightly over or under ``budget`` and the loader truncates or pads —
    ``pack_utilization`` is the QA step that quantifies exactly how
    much.  Every expression is integer-exact window arithmetic over one
    shard exchange (two window functions share the partitioning), so a
    SQL oracle replays it bit-for-bit, and the sequential dependency is
    again bounded by the shard.

    Returns (id, shard, n_tokens, pack_id) with pack_id unique within
    shard.
    """
    shard = (
        F.col(shard_col) if isinstance(shard_col, str) else shard_col
        if shard_col is not None
        else (portable_hash64(F.col(id_col).cast("string"), seed=7) % 8)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        shard.alias("shard"),
        F.col(token_col).cast("bigint").alias("n_tokens"),
    )
    w_all = Window.partitionBy("shard")
    w_rank = w_all.orderBy(F.col("n_tokens").desc(), F.col("id"))
    total = F.sum("n_tokens").over(w_all)
    # exact integer ceil; doubles stay exact well past any shard total
    n_bins = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((total + F.lit(budget - 1)) / F.lit(budget)).cast("bigint"),
    )
    pos = F.row_number().over(w_rank).cast("bigint") - 1
    idx = pos % n_bins
    pack = F.when((F.floor(pos / n_bins) % 2) == 0, idx).otherwise(
        n_bins - 1 - idx
    )
    return base.select(
        "id", "shard", "n_tokens", pack.cast("bigint").alias("pack_id")
    )


def pack_bins_bestfit(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: Column | str | None = None,
) -> DataFrame:
    """Hard-capacity best-fit-decreasing bin packing, per shard.

    Docs are placed in (tokens desc, id) order into the open pack with
    the SMALLEST remaining capacity that still fits (ties → oldest
    pack); no fit opens a new pack.  A doc larger than ``budget`` gets
    a pack of its own (closed immediately).  BFD's pack count is within
    11/9·OPT+1 of optimal — the QA bound the property tests assert
    against the ``ceil(total/budget)`` lower bound.

    The open-bin state makes this inherently sequential, so it runs as
    a per-shard ``applyInPandas`` (the repo's sanctioned Arrow escape
    hatch — grouped state never touches the driver, parallelism = the
    shard count, per-shard work bounded by sharding).  Deterministic
    given (shard, tokens, id), so reruns and repartitionings agree —
    but the placement rule is a loop, not a SQL expression, so this
    operator carries invariant tests instead of a DuckDB hash oracle
    (the catalog's ``pack_bins_bestfit`` adds a recursive-CTE replay).

    Returns (id, shard, n_tokens, pack_id) with pack_id unique within
    shard.
    """
    import pandas as pd  # noqa: F401  (Arrow path)
    from pyspark.sql.types import LongType, StructField, StructType

    shard = (
        F.col(shard_col) if isinstance(shard_col, str) else shard_col
        if shard_col is not None
        else (portable_hash64(F.col(id_col).cast("string"), seed=7) % 8)
    )
    base = df.select(
        F.col(id_col).alias("id"),
        shard.cast("bigint").alias("shard"),
        F.col(token_col).cast("bigint").alias("n_tokens"),
    )
    out_schema = StructType(
        [
            StructField("id", base.schema["id"].dataType),
            StructField("shard", LongType()),
            StructField("n_tokens", LongType()),
            StructField("pack_id", LongType()),
        ]
    )

    def _pack(pdf):
        pdf = pdf.sort_values(
            ["n_tokens", "id"], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []  # remaining capacity per open pack
        assigned: list[int] = []
        for tok in pdf["n_tokens"]:
            tok = int(tok)
            best, best_rem = -1, None
            if tok <= budget:
                for i, rem in enumerate(remaining):
                    if tok <= rem and (best_rem is None or rem < best_rem):
                        best, best_rem = i, rem
            if best >= 0:
                remaining[best] -= tok
                assigned.append(best)
            else:
                # new pack; oversized docs close theirs immediately
                remaining.append(max(budget - tok, 0))
                assigned.append(len(remaining) - 1)
        pdf["pack_id"] = assigned
        return pdf[["id", "shard", "n_tokens", "pack_id"]]

    return base.groupBy("shard").applyInPandas(_pack, out_schema)


def pack_utilization(packed: DataFrame, budget: int) -> DataFrame:
    """QA histogram for a packing: collapse (shard, pack_id) to its
    token load, bucket loads by utilization decile (``floor(load*10 /
    budget)`` — 10 = exactly full, >10 = overflow the loader must
    truncate), and count packs / docs / tokens per decile.  Two
    aggregations, the second over a frame already reduced to one row
    per pack — nothing here grows with corpus size except the first
    per-pack agg, which reuses the packing's own (shard) partitioning.

    Works over the output of any packer above (stream, serpentine, or
    best-fit) since they share the (id, shard, n_tokens, pack_id)
    contract.
    """
    per_pack = packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
    decile = F.floor(per_pack.pack_tokens * 10 / F.lit(budget)).cast("bigint")
    return (
        per_pack.groupBy(decile.alias("util_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("pack_tokens").alias("sum_tokens"),
        )
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    targets: DataFrame,
    id_col: str,
    seed: int = 11,
) -> DataFrame:
    """Exact-count stratified sampling: keep exactly ``target_n`` rows
    per stratum (or every row, when the stratum is smaller), chosen by
    a stable id hash.

    ``targets`` is a config frame (strata_col, target_n) — broadcast
    onto the data (a config table is always dim-sized), then one window
    rank per stratum ordered by (hash, id) and a ``rank <= target_n``
    filter.  Rank-based selection is exact by construction, which is
    why it replaces the hash-threshold + top-up two-pass: the threshold
    pass approximates the count and the top-up re-ranks the shortfall
    anyway, so the single rank pass does strictly less work for a
    guaranteed-exact answer.  Deterministic across reruns and
    partitionings; one shuffle (the stratum window).
    """
    t = F.broadcast(targets.select(strata_col, "target_n"))
    joined = df.join(t, strata_col, "inner")
    rk = "__rk"
    while rk in joined.columns:
        rk += "_"
    w = Window.partitionBy(strata_col).orderBy(
        portable_hash64(F.col(id_col).cast("string"), seed=seed),
        F.col(id_col),
    )
    return (
        joined.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= F.col("target_n"))
        .drop(rk, "target_n")
    )


def mixture_sample_config(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: DataFrame,
    seed: int = 4,
    default_rate_bp: int | None = None,
) -> DataFrame:
    """``mixture_sample`` with the per-source rates coming from an
    explicit config table (source_col, rate_bp) instead of a derived
    column — the production shape: mixture weights live in a reviewed
    config, the engine broadcast-joins them on (config tables are
    dim-sized by definition) and applies the same deterministic
    hash-threshold keep rule.  Sources absent from the config drop out
    (inner join) unless ``default_rate_bp`` gives them a fallback via a
    left join + coalesce.  Map-only after the broadcast join."""
    r = F.broadcast(rates.select(source_col, "rate_bp"))
    if default_rate_bp is None:
        joined = df.join(r, source_col, "inner")
        rate: Column | str = "rate_bp"
    else:
        joined = df.join(r, source_col, "left")
        rate = F.coalesce(F.col("rate_bp"), F.lit(default_rate_bp))
    return mixture_sample(joined, id_col, rate, seed=seed).drop("rate_bp")


def mixture_sample(
    df: DataFrame,
    id_col: str,
    rate_bp_col: Column | str,
    seed: int = 4,
) -> DataFrame:
    """Keep each row with its group's target rate (in basis points,
    0-10000), decided by a stable id hash: ``hash(id) % 10000 <
    rate_bp``.  The deterministic form of mixture weighting — each
    source contributes its configured fraction of the training mix, the
    SAME rows survive every rerun, and no RNG state exists to ship.
    Map-only (zero shuffle) once the rate column is present; with a
    per-source rate table, broadcast-join it on first."""
    rate = F.col(rate_bp_col) if isinstance(rate_bp_col, str) else rate_bp_col
    keep = (
        portable_hash64(F.col(id_col).cast("string"), seed=seed) % 10000
    ) < rate
    return df.filter(keep)


def weighted_sample_keys(
    id_col: Column | str,
    weight_col: Column | str,
    seed: str = "ws",
) -> Column:
    """Efraimidis-Spirakis weighted-reservoir key: ``u^(1/w)`` with a
    DETERMINISTIC uniform u derived from the id's md5 (52 mantissa-safe
    bits), so the "random" sample is reproducible across runs, engines,
    and partitionings — the same rationale as ``split_assign``.

    Taking the k LARGEST keys yields a weighted sample WITHOUT
    replacement where P(i first) = w_i / Σw (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir") — the one-pass,
    shuffle-once primitive for "sample 1M docs proportional to length"
    at any scale: key computation is scan-side, selection is a bounded
    TakeOrdered.
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(seed + "|"), idc.cast("string"))), 1, 13),
            16,
            10,
        ).cast("bigint")
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4503599627370498.0)  # (h+1) / (2^52+2): u in (0,1) open
    return F.pow(u, F.lit(1.0) / wc.cast("double"))
