"""Round-5b catalog tier: byte-pair-encoding tokenizer (shipped
merge-rank table, pure codegen string algebra — ROADMAP round-5 item
"byte-BPE merge ranks"), order-to-cash allocation math (FIFO payment
application, calendarized revenue recognition), and survival analysis
(Kaplan-Meier product-limit over exact quantized log terms).

Same cross-engine parity discipline as catalog.py (cents trick, floor
micro-units, id tie-breakers, identical aliases on both engines).  All
queries here are extras marked "rotation candidate for round 6".

Reference parity: the tokenizer tier generalizes the reference's
per-cell string transforms (``functions/expressions.py`` family,
reference ``prepare_contacts.py`` convert sites) to subword units; the
allocation tier is the windowed generalization of its staged
UPDATE-FROM arithmetic (``import_stage.py`` M4/M5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cents, query
from .sources.parquet import read_table

# ---------------------------------------------------------------------------
# BPE merge-rank table (the "pretrained tokenizer" artifact: an ordered
# list of symbol-pair merges, exactly how a trained BPE vocab ships).
# Later ranks compose over earlier ones (scan = (s,c) then (sc,an)).
# ---------------------------------------------------------------------------

BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("s", "t"), ("a", "t"), ("o", "r"),
    ("e", "n"), ("a", "r"), ("o", "u"), ("a", "l"), ("in", "g"),
    ("l", "e"), ("o", "w"), ("c", "h"), ("r", "o"), ("s", "c"),
    ("sc", "an"), ("d", "ow"), ("m", "er"), ("q", "u"),
]


def _bpe_merge_col(word: Column) -> Column:
    """Apply the full merge table to one word, returning the merged
    symbol string in wrapped encoding (every token as ``|tok|``).

    The wrapped encoding makes plain ``replace`` implement exactly
    BPE's "merge every occurrence, left to right, non-overlapping"
    rule: the pattern ``|a||b|`` can only match at token boundaries
    (tokens never contain ``|``), and adjacent repeats keep their own
    delimiters so ``|a||a||a|`` -> ``|aa||a|`` like a real encoder."""
    s = F.regexp_replace(word, "(.)", r"|$1|")
    for a, b in BPE_MERGES:
        s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    return s


def _bpe_merge_sql(var: str) -> str:
    """DuckDB twin of :func:`_bpe_merge_col` (identical rule order)."""
    s = f"regexp_replace({var}, '(.)', '|\\1|', 'g')"
    for a, b in BPE_MERGES:
        s = f"replace({s}, '|{a}||{b}|', '|{a}{b}|')"
    return s


_BPE_TOKENIZE_ORACLE = f"""
    WITH w AS (
      SELECT source,
        list_filter(string_split_regex(lower(text), '[^a-z]+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    per_doc AS (
      SELECT source,
        CAST(len(words) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(words,
          x -> length(x))), 0) AS BIGINT) AS n_chars,
        CAST(coalesce(list_sum(list_transform(words, x ->
          (length({_bpe_merge_sql('x')})
           - length(replace({_bpe_merge_sql('x')}, '|', ''))) // 2
        )), 0) AS BIGINT) AS n_tokens
      FROM w
    )
    SELECT source,
      count(*) AS n_docs,
      CAST(sum(n_words) AS BIGINT) AS n_words,
      CAST(sum(n_chars) AS BIGINT) AS n_chars,
      CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      CAST((sum(n_tokens) * 1000000) // sum(n_words) AS BIGINT)
        AS tokens_per_word_ppm,
      CAST((sum(n_chars) * 1000000) // sum(n_tokens) AS BIGINT)
        AS chars_per_token_ppm
    FROM per_doc GROUP BY source
"""


@query(
    "bpe_tokenize",
    oracle=_BPE_TOKENIZE_ORACLE,
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-PAIR-ENCODING tokenizer over the corpus: apply a shipped
    merge-rank table (BPE_MERGES, the artifact a trained tokenizer
    ships) to every word and report per-source token economics — token
    count, tokens/word and chars/token in exact ppm — the numbers that
    size an LLM training run's token budget.

    Each word becomes a ``|c|``-wrapped symbol string; each merge rank
    is ONE ``replace`` call (see _bpe_merge_col for why that is exactly
    the encoder's merge-all-left-to-right semantics); the token count
    falls out of the delimiter count.  Everything stays inside
    whole-stage codegen — no UDF, no explode: the per-word loop is
    higher-order ``transform``/``aggregate`` over the split array, so
    the only exchange in the plan is the final per-source groupBy.  At
    100 TB this is the embarrassingly-parallel map + tiny-key
    aggregation shape; the merge table rides inside the plan (the
    degenerate broadcast)."""
    d = read_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    # Nested transform so the merge-rank replace CHAIN runs ONCE per
    # word (r11 optimization round, guide §1.2): the single-lambda form
    # evaluated _bpe_merge_col twice per word — once under each length()
    # — doubling the dominant per-row work.  Same values.
    tok_counts = F.transform(
        F.transform(words, _bpe_merge_col),
        lambda m: (
            (
                F.length(m)
                - F.length(F.replace(m, F.lit("|"), F.lit("")))
            )
            / F.lit(2)
        ).cast("long"),
    )
    char_counts = F.transform(words, lambda x: F.length(x).cast("long"))
    zero = F.lit(0).cast("long")
    per_doc = d.select(
        "source",
        F.size(words).cast("long").alias("n_words"),
        F.aggregate(char_counts, zero, lambda acc, x: acc + x).alias("n_chars"),
        F.aggregate(tok_counts, zero, lambda acc, x: acc + x).alias("n_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_tokens").alias("n_tokens"),
    ).select(
        "source",
        "n_docs",
        "n_words",
        "n_chars",
        "n_tokens",
        F.expr("(n_tokens * 1000000) div n_words").alias("tokens_per_word_ppm"),
        F.expr("(n_chars * 1000000) div n_tokens").alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------------
# bpe_merge_audit — per-rank firing counts over the distinct vocabulary
# ---------------------------------------------------------------------------


def _merge_audit_oracle() -> str:
    # Each step column references the previous one, so chain CTEs.
    chain = "vocab"
    ctes = []
    for i, (a, b) in enumerate(BPE_MERGES, start=1):
        ctes.append(
            f"st{i} AS (SELECT *, replace(s{i - 1}, '|{a}||{b}|',"
            f" '|{a}{b}|') AS s{i} FROM {chain})"
        )
        chain = f"st{i}"
    branches = " UNION ALL ".join(
        f"SELECT {i} AS rank, '{a}+{b}' AS pair, '{a}{b}' AS merged,"
        f" (length(s{i - 1}) - length(s{i})) // 2 AS fired,"
        f" cnt FROM {chain}"
        for i, (a, b) in enumerate(BPE_MERGES, start=1)
    )
    return f"""
    WITH words AS (
      SELECT unnest(list_filter(
        string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))
        AS word
      FROM documents
    ),
    vocab AS (
      SELECT word, count(*) AS cnt,
        regexp_replace(word, '(.)', '|\\1|', 'g') AS s0
      FROM words GROUP BY word
    ),
    {", ".join(ctes)},
    fired AS ({branches})
    SELECT CAST(rank AS INT) AS rank, pair, merged,
      CAST(sum(fired * cnt) AS BIGINT) AS firings,
      CAST(sum(CASE WHEN fired > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS distinct_words
    FROM fired GROUP BY rank, pair, merged
    HAVING sum(fired * cnt) > 0
    """


@query(
    "bpe_merge_audit",
    oracle=_merge_audit_oracle(),
)
def q_bpe_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-TABLE AUDIT: how often each BPE merge rank actually fires
    across the corpus (frequency-weighted) and over how many distinct
    words — the vocabulary-health report that tells you which shipped
    merges earn their slot and which are dead weight.

    Scale strategy is the opposite of bpe_tokenize's stream-over-rows:
    the expensive 24-step chain runs once per DISTINCT word (the
    vocabulary, thousands of rows at any corpus size), each word
    carrying its corpus frequency from a cheap pre-aggregation — the
    classic apply-expensive-fn-to-distinct-keys rewrite.  Per-rank
    firing counts fall out of the wrapped-string length deltas (each
    firing removes exactly two delimiter chars); ``stack`` unpivots the
    24 step columns without a join."""
    d = read_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    vocab = (
        d.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = F.regexp_replace(F.col("word"), "(.)", r"|$1|")
    staged = vocab.withColumn("s0", s)
    for i, (a, b) in enumerate(BPE_MERGES, start=1):
        staged = staged.withColumn(
            f"s{i}",
            F.replace(
                F.col(f"s{i - 1}"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ),
        )
    stack_args = ", ".join(
        f"{i}, '{a}+{b}', '{a}{b}', (length(s{i - 1}) - length(s{i})) div 2"
        for i, (a, b) in enumerate(BPE_MERGES, start=1)
    )
    fired = staged.select(
        "cnt",
        F.expr(
            f"stack({len(BPE_MERGES)}, {stack_args})"
            " as (rank, pair, merged, fired)"
        ),
    )
    return (
        fired.groupBy("rank", "pair", "merged")
        .agg(
            F.sum(F.col("fired") * F.col("cnt")).alias("firings"),
            F.sum(F.when(F.col("fired") > 0, 1).otherwise(0)).alias(
                "distinct_words"
            ),
        )
        .filter(F.col("firings") > 0)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "pair",
            "merged",
            F.col("firings").cast("bigint").alias("firings"),
            F.col("distinct_words").cast("bigint").alias("distinct_words"),
        )
    )


# ---------------------------------------------------------------------------
# fifo_allocation — FIFO payment application (order-to-cash waterfall)
# ---------------------------------------------------------------------------


@query(
    "fifo_allocation",
    oracle="""
    WITH inv AS (
      SELECT o_custkey AS c,
        CAST(round(o_totalprice * 100) AS BIGINT) AS amt,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_i
      FROM orders
    ),
    inv2 AS (SELECT c, amt, cum_i, cum_i - amt AS prev_i FROM inv),
    tot AS (SELECT c, CAST(sum(amt) AS BIGINT) AS t FROM inv GROUP BY c),
    pay AS (
      SELECT c, j,
        CASE WHEN j < 4 THEN j * (t // 4) ELSE t END AS cum_p,
        CASE WHEN j = 1 THEN 0
             WHEN j < 4 THEN (j - 1) * (t // 4)
             ELSE 3 * (t // 4) END AS prev_p
      FROM tot, unnest(generate_series(1, 4)) AS u(j)
    ),
    alloc AS (
      SELECT p.j, i.c,
        least(i.cum_i, p.cum_p) - greatest(i.prev_i, p.prev_p) AS a
      FROM inv2 i JOIN pay p USING (c)
      WHERE least(i.cum_i, p.cum_p) > greatest(i.prev_i, p.prev_p)
    )
    SELECT CAST(j AS INT) AS pay_idx,
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(a) AS BIGINT) AS allocated_cents,
      CAST(count(DISTINCT c) AS BIGINT) AS n_customers
    FROM alloc GROUP BY j
    """,
)
def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO PAYMENT APPLICATION (the order-to-cash waterfall): each
    customer pays their invoice ledger in four installments (three of
    floor(total/4), one remainder-absorbing final), and every payment
    is applied to invoices oldest-first.  The classic procedural
    match-payments loop becomes ONE closed-form interval overlap on
    running totals: payment j covers invoice i by
    ``min(cumI_i, cumP_j) - max(cumI_{i-1}, cumP_{j-1})`` when
    positive — no iteration, no state, exact integers throughout.

    Plan at scale: one hash exchange on custkey feeds the running-sum
    window, the per-customer total, and the 4-way payment fan-out; the
    overlap join is custkey-equi so it co-partitions with no extra
    shuffle, and its fan-out is bounded (≤ 4 payments x invoices that
    overlap, i.e. ≤ n+4 surviving pairs per customer, not n x 4).
    Reference parity: the windowed generalization of the staged
    UPDATE…FROM arithmetic (``import_stage.py`` M4/M5)."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("c")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inv = o.select(
        F.col("o_custkey").alias("c"),
        cents(F.col("o_totalprice")).alias("amt"),
        "o_orderdate",
        "o_orderkey",
    ).select(
        "c",
        "amt",
        F.sum("amt").over(w).alias("cum_i"),
    ).select("c", "amt", "cum_i", (F.col("cum_i") - F.col("amt")).alias("prev_i"))
    tot = inv.groupBy("c").agg(F.sum("amt").alias("t"))
    pay = tot.select(
        "c",
        "t",
        F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
    ).select(
        "c",
        "j",
        F.when(F.col("j") < 4, F.col("j") * F.expr("t div 4"))
        .otherwise(F.col("t"))
        .alias("cum_p"),
        F.when(F.col("j") == 1, F.lit(0).cast("bigint"))
        .when(F.col("j") < 4, (F.col("j") - 1) * F.expr("t div 4"))
        .otherwise(3 * F.expr("t div 4"))
        .alias("prev_p"),
    )
    alloc = (
        inv.join(pay, "c")
        .withColumn(
            "a",
            F.least("cum_i", "cum_p") - F.greatest("prev_i", "prev_p"),
        )
        .filter(F.col("a") > 0)
    )
    return alloc.groupBy("j").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("a").alias("allocated_cents"),
        F.countDistinct("c").alias("n_customers"),
    ).select(
        F.col("j").cast("int").alias("pay_idx"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("allocated_cents").cast("bigint").alias("allocated_cents"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# revenue_recognition — calendarized straight-line recognition schedule
# ---------------------------------------------------------------------------


@query(
    "revenue_recognition",
    oracle="""
    WITH span AS (
      SELECT o.o_orderkey,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS t,
        date_trunc('month', least(o.o_orderdate, s.mx)) AS m0,
        abs((year(s.mx) * 12 + month(s.mx))
          - (year(o.o_orderdate) * 12 + month(o.o_orderdate))) + 1 AS m
      FROM orders o
      JOIN (SELECT l_orderkey, max(l_shipdate) AS mx
            FROM lineitem GROUP BY l_orderkey) s
        ON s.l_orderkey = o.o_orderkey
    ),
    slices AS (
      SELECT CAST(m0 + to_months(CAST(i AS INT)) AS DATE) AS mon,
        (t * (i + 1)) // m - (t * i) // m AS a
      FROM span, unnest(generate_series(0, m - 1)) AS u(i)
    )
    SELECT mon,
      CAST(sum(a) AS BIGINT) AS recognized_cents,
      CAST(count(*) AS BIGINT) AS n_orders
    FROM slices GROUP BY mon
    """,
)
def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDARIZED REVENUE RECOGNITION: each order's value is
    recognized straight-line over the calendar months spanned by its
    order and last-shipment dates (earlier month first — the synthetic
    corpus ships some lines before booking, so the span is taken in
    either direction), re-aggregated into a calendar-month recognition
    ledger — the deferred-revenue report every subscription/contract
    business runs.

    The per-month split is the exact largest-remainder scheme
    ``slice(i) = (T*(i+1)) div m - (T*i) div m``: integer cents, sums
    to T exactly, no rounding drift to reconcile — the same device as
    dataset_split's exact quotas.  Plan: the order->last-ship join is
    an orderkey-equi shuffle join (both sides pre-aggregated/narrow),
    the month fan-out is a bounded explode (contract length in months,
    data-independent of corpus scale), and the final ledger groupBy
    keys on ~100 calendar months."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("mx")
    )
    span = o.join(
        last_ship, o["o_orderkey"] == last_ship["l_orderkey"]
    ).select(
        cents(F.col("o_totalprice")).alias("t"),
        F.trunc(
            F.least("o_orderdate", "mx").cast("date"), "month"
        ).alias("m0"),
        (
            F.abs(
                (F.year("mx") * 12 + F.month("mx"))
                - (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            )
            + 1
        ).cast("bigint").alias("m"),
    )
    slices = span.select(
        "t",
        "m",
        F.posexplode(
            F.expr("sequence(0, m - 1)")
        ).alias("pos", "i"),
        F.col("m0"),
    ).select(
        F.expr("add_months(m0, cast(i as int))").alias("mon"),
        (
            F.expr("(t * (i + 1)) div m") - F.expr("(t * i) div m")
        ).alias("a"),
    )
    return slices.groupBy("mon").agg(
        F.sum("a").cast("bigint").alias("recognized_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# kaplan_meier — product-limit survival of order->first-ship delay
# ---------------------------------------------------------------------------


@query(
    "kaplan_meier",
    oracle="""
    WITH subj AS (
      SELECT date_diff('day', o.o_orderdate, s.first_ship) AS t,
        date_diff('day', o.o_orderdate,
                  (SELECT max(o_orderdate) FROM orders)) AS c
      FROM orders o
      JOIN (SELECT l_orderkey, min(l_shipdate) AS first_ship
            FROM lineitem GROUP BY l_orderkey) s
        ON s.l_orderkey = o.o_orderkey
    ),
    obs AS (
      SELECT least(t, c) AS obs_t,
        CASE WHEN t <= c THEN 1 ELSE 0 END AS ev
      FROM subj
    ),
    by_t AS (
      SELECT obs_t, CAST(count(*) AS BIGINT) AS n_sub,
        CAST(sum(ev) AS BIGINT) AS d
      FROM obs GROUP BY obs_t
    ),
    risk AS (
      SELECT obs_t, n_sub, d,
        CAST(sum(n_sub) OVER (ORDER BY obs_t DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM by_t
    ),
    km AS (
      SELECT obs_t, n_risk, d, n_sub - d AS cens,
        CASE WHEN d < n_risk THEN CAST(floor(1e6 * ln(
          1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)))
          AS BIGINT) ELSE NULL END AS term
      FROM risk WHERE d > 0
    )
    SELECT CAST(obs_t AS BIGINT) AS t_days,
      n_risk AS n_at_risk, d AS n_events,
      CAST(cens AS BIGINT) AS n_censored,
      CASE WHEN term IS NULL THEN NULL ELSE
        CAST(sum(term) OVER (ORDER BY obs_t
          ROWS UNBOUNDED PRECEDING) AS BIGINT) END
        AS log_surv_micro
    FROM km
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER product-limit survival of the order->first-shipment
    delay with honest right-censoring: the study window closes at the
    corpus max order date, so an order placed near the close whose
    first shipment falls outside its window is CENSORED at its window
    length rather than counted — the estimator every time-to-event
    report (churn, time-to-convert, time-to-fail) is built on.

    The product becomes a cumulative SUM in log space: each factor
    ln(1 - d/n) is computed from exact integer d and n_at_risk, floored
    to micro-units PER TERM before the ordered cumulative sum (the
    ADVICE-r4 discipline — no unordered float reductions; benford's
    ln-precedent for the single IEEE op).  A d = n_at_risk terminal
    point (survival exactly 0) reports NULL log-survival rather than
    -inf.  Plan: the subject build is one orderkey-equi join; the curve
    math runs on the tiny distinct-delay frame (hundreds of rows at
    any corpus scale), where the single-task ordered windows are
    sanctioned (operators/order.py doctrine)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    cutoff = o.agg(F.max("o_orderdate").alias("cut"))
    subj = (
        o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"])
        .crossJoin(F.broadcast(cutoff))
        .select(
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("t"),
            F.datediff(
                F.col("cut").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("c"),
        )
    )
    by_t = (
        subj.select(
            F.least("t", "c").alias("obs_t"),
            F.when(F.col("t") <= F.col("c"), 1).otherwise(0).alias("ev"),
        )
        .groupBy("obs_t")
        .agg(
            F.count(F.lit(1)).alias("n_sub"),
            F.sum("ev").alias("d"),
        )
    )
    w_desc = Window.orderBy(F.col("obs_t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "obs_t",
        "n_sub",
        "d",
        F.sum("n_sub").over(w_desc).alias("n_risk"),
    )
    km = risk.filter(F.col("d") > 0).select(
        "obs_t",
        "n_risk",
        "d",
        (F.col("n_sub") - F.col("d")).alias("cens"),
        F.when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.lit(1e6)
                * F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double")
                    / F.col("n_risk").cast("double")
                )
            ).cast("bigint"),
        ).alias("term"),
    )
    w_asc = Window.orderBy("obs_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return km.select(
        F.col("obs_t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("cens").cast("bigint").alias("n_censored"),
        F.when(
            F.col("term").isNotNull(),
            F.sum("term").over(w_asc),
        ).cast("bigint").alias("log_surv_micro"),
    )
