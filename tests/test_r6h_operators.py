"""Pure-Python recomputation tests for catalog_r6h (pass@k,
Bradley-Terry MM, preference cycles)."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6h import (
    _BT_ITERS,
    _BT_TOTAL,
    _PAK_K,
)
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def test_pass_at_k_matches_python(spark, sf_dir):
    row = _q("pass_at_k_estimate")(spark, sf_dir).collect()[0]
    ev = read_table(spark, sf_dir, "events").collect()
    per = defaultdict(lambda: [0, 0])
    for e in ev:
        per[e.user_id][0] += 1
        per[e.user_id][1] += int(e.event_type == "purchase")
    passes = []
    zero = certain = 0
    for n, c in per.values():
        if n < _PAK_K:
            continue
        p = 1_000_000
        for i in range(_PAK_K):
            p = 0 if n - c - i <= 0 else p * (n - c - i) // (n - i)
        passes.append(1_000_000 - p)
        zero += int(c == 0)
        certain += int(1_000_000 - p == 1_000_000)
    assert row.n_tasks == len(passes)
    assert row.mean_pass_at_k_ppm == sum(passes) // len(passes)
    assert row.n_zero_success == zero
    assert row.n_certain == certain
    assert row.min_pass_ppm == min(passes)
    assert row.max_pass_ppm == max(passes)
    # combinatorial cross-check on one task with 0 < c < n, n >= k:
    # sequential floors equal the exact rational floor (each factor's
    # division is exact until the final one in this product form)
    import math

    for n, c in per.values():
        if n >= _PAK_K and 0 < c < n and n - c >= _PAK_K:
            exact = 1_000_000 * math.comb(n - c, _PAK_K) // math.comb(
                n, _PAK_K
            )
            p = 1_000_000
            for i in range(_PAK_K):
                p = p * (n - c - i) // (n - i)
            assert abs(p - exact) <= _PAK_K  # floor drift ≤ 1 per step
            break


def _win_matrix(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").collect()
    sup = {
        r.s_suppkey: r.s_nationkey
        for r in read_table(spark, sf_dir, "supplier").collect()
    }
    by_order = defaultdict(list)
    for l in li:
        # (ln, suppkey, partkey, price) — the strict lexicographic pair
        # key the SQL uses ((ok, ln) is NOT unique in this testdata)
        by_order[l.l_orderkey].append(
            (
                l.l_linenumber,
                l.l_suppkey,
                l.l_partkey,
                round(l.l_extendedprice * 100),
                sup[l.l_suppkey],
            )
        )
    wins = Counter()
    for lines in by_order.values():
        for a in lines:
            for b in lines:
                if not a[:4] < b[:4]:
                    continue
                na, nb = a[4], b[4]
                pa, pb = a[3], b[3]
                if na == nb:
                    continue
                if pa > pb:
                    wins[(na, nb)] += 1
                elif pb > pa:
                    wins[(nb, na)] += 1
    return wins


def test_bradley_terry_matches_python(spark, sf_dir):
    rows = {r.nation: r for r in _q("bradley_terry_rating")(spark, sf_dir).collect()}
    wins = _win_matrix(spark, sf_dir)
    games = Counter()
    W = Counter()
    for (a, b), w in wins.items():
        games[(a, b)] += w
        games[(b, a)] += w
        W[a] += w
    nations = sorted(set(W) | {n for p in games for n in p})
    r = {n: 1_000_000 for n in nations}
    for _ in range(_BT_ITERS):
        raw = {}
        for i in nations:
            s = sum(
                games[(i, j)] * 1_000_000_000_000 // (r[i] + r[j])
                for j in nations
                if games[(i, j)] > 0
            )
            raw[i] = W[i] * 1_000_000_000_000 // s
        tot = sum(raw.values())
        r = {i: raw[i] * _BT_TOTAL // tot for i in nations}
    for n in nations:
        row = rows[n]
        assert row.rating_ppm == r[n], n
        assert row.wins == W[n]
        assert row.games == sum(
            games[(n, j)] for j in nations if games[(n, j)] > 0
        )
    # better win rate should broadly mean better rating: top-rated
    # nation's win share >= bottom-rated nation's win share
    top = max(nations, key=lambda n: r[n])
    bot = min(nations, key=lambda n: r[n])
    ws = lambda n: W[n] / max(1, sum(games[(n, j)] for j in nations))
    assert ws(top) >= ws(bot)


def test_preference_cycles_match_python(spark, sf_dir):
    row = _q("preference_cycle_audit")(spark, sf_dir).collect()[0]
    wins = _win_matrix(spark, sf_dir)
    pairs = {}
    for (a, b), w in wins.items():
        key = (min(a, b), max(a, b))
        d = pairs.setdefault(key, [0, 0])
        if a < b:
            d[0] += w
        else:
            d[1] += w
    edge = set()
    for (a, b), (wi, wj) in pairs.items():
        if wi > wj:
            edge.add((a, b))
        elif wj > wi:
            edge.add((b, a))
    nodes = sorted({n for e in edge for n in e})
    n_cyc = n_tra = 0
    from itertools import combinations

    for a, b, c in combinations(nodes, 3):
        es = [
            (x, y)
            for x, y in [(a, b), (b, a), (b, c), (c, b), (a, c), (c, a)]
            if (x, y) in edge
        ]
        if len(es) != 3:
            continue
        outdeg = Counter(x for x, _ in es)
        if set(outdeg.values()) == {1}:
            n_cyc += 1
        else:
            n_tra += 1
    assert row.n_cyclic == n_cyc
    assert row.n_transitive == n_tra
    assert row.n_closed_triads == n_cyc + n_tra
    assert row.cyclic_ppm == n_cyc * 1_000_000 // (n_cyc + n_tra)
