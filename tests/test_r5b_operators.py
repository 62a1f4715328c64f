"""Cross-validation tests for the round-5b tier: each query checked
against an independent pure-Python formulation (a real list-based BPE
encoder for the tokenizer tier), so the DuckDB oracle's value-hash
isn't the only line of defense.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 (registers the full catalog)
from beacon_data_importer_spark.catalog import QUERIES
from beacon_data_importer_spark.catalog_r5b import BPE_MERGES


def _bpe_encode(word: str) -> list[str]:
    """Reference BPE encoder: list-based merge-all-left-to-right per
    rank, NOT the wrapped-string replace trick the engines use."""
    toks = list(word)
    for a, b in BPE_MERGES:
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def _corpus_words(spark, sf_dir):
    from beacon_data_importer_spark.sources.parquet import read_table

    rows = read_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    return [
        (r.source, [w for w in re.split(r"[^a-z]+", r.text.lower()) if w])
        for r in rows
    ]


def test_bpe_tokenize_matches_list_encoder(spark, sf_dir):
    docs = _corpus_words(spark, sf_dir)
    want = defaultdict(lambda: [0, 0, 0, 0])  # docs, words, chars, toks
    for source, words in docs:
        acc = want[source]
        acc[0] += 1
        acc[1] += len(words)
        acc[2] += sum(len(w) for w in words)
        acc[3] += sum(len(_bpe_encode(w)) for w in words)
    got = {
        r.source: [r.n_docs, r.n_words, r.n_chars, r.n_tokens]
        for r in QUERIES["bpe_tokenize"](spark, sf_dir).collect()
    }
    assert got == dict(want)
    for r in QUERIES["bpe_tokenize"](spark, sf_dir).collect():
        assert r.tokens_per_word_ppm == r.n_tokens * 1_000_000 // r.n_words
        assert r.chars_per_token_ppm == r.n_chars * 1_000_000 // r.n_tokens


def test_bpe_merge_audit_matches_list_encoder(spark, sf_dir):
    """Per-rank firing counts from an instrumented list encoder, plus
    the conservation law chars - tokens == total firings."""
    docs = _corpus_words(spark, sf_dir)
    vocab = Counter(w for _, words in docs for w in words)
    firings = Counter()
    distinct = Counter()
    for word, cnt in vocab.items():
        toks = list(word)
        for rank, (a, b) in enumerate(BPE_MERGES, start=1):
            out: list[str] = []
            i = 0
            fired = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    fired += 1
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
            if fired:
                firings[rank] += fired * cnt
                distinct[rank] += 1
    got = {
        r.rank: (r.pair, r.merged, r.firings, r.distinct_words)
        for r in QUERIES["bpe_merge_audit"](spark, sf_dir).collect()
    }
    want = {
        rank: (f"{a}+{b}", a + b, firings[rank], distinct[rank])
        for rank, (a, b) in enumerate(BPE_MERGES, start=1)
        if firings[rank] > 0
    }
    assert got == want
    # conservation: every firing removes exactly one token
    tok_rows = QUERIES["bpe_tokenize"](spark, sf_dir).collect()
    n_chars = sum(r.n_chars for r in tok_rows)
    n_tokens = sum(r.n_tokens for r in tok_rows)
    assert n_chars - n_tokens == sum(firings.values())


def test_fifo_allocation_matches_sequential_waterfall(spark, sf_dir):
    """The closed-form running-total overlap must equal an actual
    procedural FIFO loop walking invoices and payments in order."""
    from beacon_data_importer_spark.sources.parquet import read_table

    rows = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    ).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r.o_custkey].append(
            (r.o_orderdate, r.o_orderkey, round(r.o_totalprice * 100))
        )
    n_pairs = Counter()
    allocated = Counter()
    cust_hit = defaultdict(set)
    for c, invs in by_cust.items():
        invs.sort()
        t = sum(a for _, _, a in invs)
        pays = [t // 4] * 3 + [t - 3 * (t // 4)]
        inv_idx, inv_left = 0, invs[0][2]
        for j, p in enumerate(pays, start=1):
            left = p
            while left > 0 and inv_idx < len(invs):
                take = min(left, inv_left)
                if take > 0:
                    n_pairs[j] += 1
                    allocated[j] += take
                    cust_hit[j].add(c)
                left -= take
                inv_left -= take
                if inv_left == 0:
                    inv_idx += 1
                    if inv_idx < len(invs):
                        inv_left = invs[inv_idx][2]
    got = {
        r.pay_idx: (r.n_pairs, r.allocated_cents, r.n_customers)
        for r in QUERIES["fifo_allocation"](spark, sf_dir).collect()
    }
    want = {
        j: (n_pairs[j], allocated[j], len(cust_hit[j]))
        for j in (1, 2, 3, 4)
        if n_pairs[j]
    }
    assert got == want
    # conservation: everything invoiced is allocated
    assert sum(a for r in rows for a in [round(r.o_totalprice * 100)]) == sum(
        allocated.values()
    )


def test_revenue_recognition_matches_python_spread(spark, sf_dir):
    """Largest-remainder month spread recomputed in Python; also the
    conservation law sum(ledger) == sum(order cents)."""
    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    ).collect()
    li = read_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("mx")
    ).collect()
    last = {r.l_orderkey: r.mx for r in li}
    ledger = Counter()
    contributing = Counter()
    total = 0
    for r in o:
        if r.o_orderkey not in last:
            continue
        t = round(r.o_totalprice * 100)
        total += t
        od, sd = r.o_orderdate, last[r.o_orderkey]
        a = od.year * 12 + (od.month - 1)
        b = sd.year * 12 + (sd.month - 1)
        lo, m = min(a, b), abs(b - a) + 1
        for i in range(m):
            mon = (lo + i) // 12, (lo + i) % 12 + 1
            ledger[mon] += (t * (i + 1)) // m - (t * i) // m
            contributing[mon] += 1
    got = {
        (r.mon.year, r.mon.month): (r.recognized_cents, r.n_orders)
        for r in QUERIES["revenue_recognition"](spark, sf_dir).collect()
    }
    want = {k: (ledger[k], contributing[k]) for k in ledger}
    assert got == want
    assert sum(v for v, _ in got.values()) == total


def test_kaplan_meier_matches_python_estimator(spark, sf_dir):
    """Standard KM recomputed from raw (t, censor) pairs; survival
    compared through the quantized-log channel exactly."""
    import math

    from beacon_data_importer_spark.sources.parquet import read_table

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).collect()
    li = read_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("fs")
    ).collect()
    first = {r.l_orderkey: r.fs for r in li}
    cut = max(r.o_orderdate for r in o)
    subjects = []
    for r in o:
        if r.o_orderkey not in first:
            continue
        t = (first[r.o_orderkey].date() - r.o_orderdate.date()).days
        c = (cut.date() - r.o_orderdate.date()).days
        subjects.append((min(t, c), t <= c))
    by_t = defaultdict(lambda: [0, 0])  # n_sub, d
    for obs, ev in subjects:
        by_t[obs][0] += 1
        by_t[obs][1] += int(ev)
    want = {}
    n_risk = len(subjects)
    cum = 0
    for obs in sorted(by_t):
        n_sub, d = by_t[obs]
        if d > 0:
            if d < n_risk:
                cum += math.floor(1e6 * math.log(1.0 - d / n_risk))
                log_surv = cum
            else:
                log_surv = None
            want[obs] = (n_risk, d, n_sub - d, log_surv)
        n_risk -= n_sub
    got = {
        r.t_days: (r.n_at_risk, r.n_events, r.n_censored, r.log_surv_micro)
        for r in QUERIES["kaplan_meier"](spark, sf_dir).collect()
    }
    assert got == want
