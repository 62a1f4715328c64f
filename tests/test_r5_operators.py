"""Cross-validation tests for the round-5 tier — each new algorithm
checked against an INDEPENDENT formulation (pure-Python graph
algorithms, single-partition window twins, exhaustive joins), so the
oracle's value-hash isn't the only line of defense.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 (registers the full catalog)
from beacon_data_importer_spark.catalog import QUERIES


def _edge_list(spark, sf_dir):
    from beacon_data_importer_spark.plans.co_purchase import (
        co_purchase_edges,
    )

    return [
        (r.a, r.b) for r in co_purchase_edges(spark, sf_dir).collect()
    ]


def test_kcore_matches_pure_python_peel(spark, sf_dir):
    """The Spark bounded-round peel (with its fixpoint early exit) must
    equal a dict-based Python peel running the SAME number of
    synchronous rounds."""
    from beacon_data_importer_spark.catalog_r5 import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )

    edges = _edge_list(spark, sf_dir)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    for _ in range(_KCORE_ROUNDS):
        nxt = {
            v
            for v in alive
            if sum(1 for u in adj[v] if u in alive) >= _KCORE_K
        }
        if nxt == alive:
            break
        alive = nxt
    want = {
        v: sum(1 for u in adj[v] if u in alive)
        for v in alive
    }
    got = {
        r.vertex: r.deg_in_core
        for r in QUERIES["kcore_decomposition"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_clustering_coefficient_matches_brute_force(spark, sf_dir):
    """Per-vertex triangle counts and coefficients vs a brute-force
    neighborhood intersection in Python."""
    edges = _edge_list(spark, sf_dir)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for v, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        t = sum(
            1
            for u in nbrs
            for w in nbrs
            if u < w and w in adj[u]
        )
        want[v] = (d, t, (t * 2_000_000) // (d * (d - 1)))
    got = {
        r.vertex: (r.degree, r.n_triangles, r.cc_micro)
        for r in QUERIES["clustering_coefficient"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert any(t > 0 for (_, t, _) in got.values())


def test_link_prediction_matches_brute_force(spark, sf_dir):
    """Common-neighbor counts and Adamic–Adar micro-sums vs a Python
    enumeration over non-adjacent pairs, including the top-N ordering."""
    import math

    from beacon_data_importer_spark.catalog_r5 import _LINKPRED_TOPN

    edges = set(_edge_list(spark, sf_dir))
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores = {}
    verts = sorted(adj)
    for i, a in enumerate(verts):
        for b in verts[i + 1:]:
            if (a, b) in edges:
                continue
            common = adj[a] & adj[b]
            if not common:
                continue
            aa = sum(
                math.floor(1e6 / math.log(len(adj[w]))) for w in common
            )
            scores[(a, b)] = (len(common), aa)
    want = sorted(
        ((n, aa, a, b) for (a, b), (n, aa) in scores.items()),
        key=lambda t: (-t[0], -t[1], t[2], t[3]),
    )[:_LINKPRED_TOPN]
    got = [
        (r.n_cn, r.aa_micro, r.a, r.b)
        for r in QUERIES["link_prediction_scores"](
            spark, sf_dir
        ).collect()
    ]
    # the query returns the same SET of top-N rows (row order is not
    # part of the contract; the driver hash sorts)
    assert sorted(got) == sorted(want)
    assert len(got) == _LINKPRED_TOPN


def test_global_running_max_matches_single_partition_window(
    spark, sf_dir
):
    """The two-pass range-partition prefix max must equal the
    single-task global window it replaces, row for row."""
    from beacon_data_importer_spark.operators.order import (
        global_running_max,
    )
    from beacon_data_importer_spark.sources.parquet import read_table

    e = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("es"),
    )
    got = {
        (r.event_id, r.runmax)
        for r in global_running_max(
            e, ["event_id"], "es", out_col="runmax"
        ).collect()
    }
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.event_id, r.runmax)
        for r in e.select(
            "event_id", F.max("es").over(w).alias("runmax")
        ).collect()
    }
    assert got == want


def test_prefix_filter_complete_vs_exhaustive(spark, sf_dir):
    """CI-pinned completeness: the prefix-filtered join must return the
    identical verified pair set as an exhaustive shared-shingle join
    (the scale probe's property, locked into pytest at small scale)."""
    from beacon_data_importer_spark.plans.corpus_lsh import (
        corpus_shingle_sets,
    )

    got = {
        (r.id_a, r.id_b, r.jaccard_e6)
        for r in QUERIES["prefix_filter_jaccard_join"](
            spark, sf_dir
        ).collect()
    }
    shd = corpus_shingle_sets(spark, sf_dir)
    sets = {r.id: frozenset(r.s) for r in shd.collect()}
    ids = sorted(sets)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 10 >= 6 * union:
                want.add((a, b, (inter * 1_000_000) // union))
    assert got == want
    assert len(got) > 0


def test_ipw_reduces_to_naive_when_unconfounded(spark):
    """Sanity for the Hájek algebra: with ONE activity band (no
    stratification axis), the IPW estimate must equal the naive
    difference exactly — reweighting by a constant propensity is a
    no-op."""
    rows = []
    # 8 users, all with the same event count (single band), half
    # treated (signup), purchases with known values
    for uid in range(8):
        treated = uid % 2 == 0
        rows.append((uid, "signup" if treated else "view"))
        rows.append((uid, "purchase"))
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    df = df.withColumn(
        "value",
        F.when(F.col("event_type") == "purchase",
               10.0 + F.col("user_id")).otherwise(0.0),
    )
    peru = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("t"),
        F.sum(
            F.when(F.col("event_type") == "purchase",
                   F.round(F.col("value") * 100).cast("bigint")).otherwise(0)
        ).alias("y"),
    ).collect()
    yt = sum(r.y for r in peru if r.t == 1)
    yc = sum(r.y for r in peru if r.t == 0)
    nt = sum(1 for r in peru if r.t == 1)
    nc = len(peru) - nt
    n = len(peru)
    naive = (yt * 1_000_000) // nt - (yc * 1_000_000) // nc
    # Hájek with one band: (yt*n*1e6//nt)//n - (yc*n*1e6//nc)//n
    ipw = ((yt * n * 1_000_000) // nt) // n - (
        (yc * n * 1_000_000) // nc
    ) // n
    assert ipw == naive


def test_anova_matches_numpy_float_reference(spark, sf_dir):
    """The integer-exact sufficient-statistics pipeline vs a plain
    numpy float computation of F and eta^2 (agreement to float
    precision proves the exact-arithmetic path computes the same
    statistic, not just a self-consistent one)."""
    import numpy as np

    from beacon_data_importer_spark.sources.parquet import read_table

    r = QUERIES["anova_oneway"](spark, sf_dir).collect()[0]
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    rows = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_mktsegment", "o_totalprice")
        .collect()
    )
    groups = defaultdict(list)
    for row in rows:
        groups[row.c_mktsegment].append(round(row.o_totalprice * 100))
    vals = [np.array(v, dtype=float) for v in groups.values()]
    allv = np.concatenate(vals)
    k, n = len(vals), len(allv)
    ssb = sum(len(v) * (v.mean() - allv.mean()) ** 2 for v in vals)
    ssw = sum(((v - v.mean()) ** 2).sum() for v in vals)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    eta2 = ssb / (ssb + ssw)
    assert r.n_groups == k and r.n_rows == n
    # the query's per-group floors introduce <=1 count^2 per group;
    # micro-unit outputs agree to ~1e-6 relative
    assert abs(r.f_micro / 1e6 - f) / f < 1e-5
    assert abs(r.eta2_micro / 1e6 - eta2) < 1e-5


def test_max_drawdown_matches_python_scan(spark, sf_dir):
    """Per-year argmax drawdown vs a sequential Python peak scan."""
    from beacon_data_importer_spark.sources.parquet import read_table

    got = {
        r.yr: (r.trough_ep, r.trough_cents, r.peak_cents, r.drawdown_ppm)
        for r in QUERIES["max_drawdown"](spark, sf_dir).collect()
    }
    o = read_table(spark, sf_dir, "orders").collect()
    import datetime

    daily = defaultdict(int)
    for r in o:
        d = r.o_orderdate
        if isinstance(d, str):
            d = datetime.date.fromisoformat(d)
        elif isinstance(d, datetime.datetime):
            d = d.date()
        ep = (d - datetime.date(1992, 1, 1)).days
        daily[(d.year, ep)] += round(r.o_totalprice * 100)
    peaks = {}
    best = {}
    for (yr, ep) in sorted(daily):
        x = daily[(yr, ep)]
        peaks[yr] = max(peaks.get(yr, 0), x)
        dd = ((peaks[yr] - x) * 1_000_000) // peaks[yr]
        if yr not in best or dd > best[yr][3]:
            best[yr] = (ep, x, peaks[yr], dd)
    assert got == best


def test_mutual_information_matches_python(spark, sf_dir):
    """MI micro-bits vs a Python dict computation with the same
    per-cell floor rule."""
    import math

    from beacon_data_importer_spark.catalog_r5 import _MI_PAIRS
    from beacon_data_importer_spark.sources.parquet import read_table

    got = {
        (r.tbl, r.colx, r.coly): (r.n_cells, r.n_rows, r.mi_microbits)
        for r in QUERIES["mutual_information"](spark, sf_dir).collect()
    }
    for tbl, cx, cy in _MI_PAIRS:
        rows = read_table(spark, sf_dir, tbl).select(cx, cy).collect()
        joint = defaultdict(int)
        for r in rows:
            joint[(str(r[0]), str(r[1]))] += 1
        nx = defaultdict(int)
        ny = defaultdict(int)
        for (x, y), c in joint.items():
            nx[x] += c
            ny[y] += c
        n = sum(joint.values())
        mi = sum(
            math.floor(
                1e6 * (c / n) * math.log2((c * n) / (nx[x] * ny[y]))
            )
            for (x, y), c in joint.items()
        )
        assert got[(tbl, cx, cy)] == (len(joint), n, mi)


def test_embedding_drift_matches_numpy_cosine_of_means(spark, sf_dir):
    """cos(sum_label, sum_corpus) on quantized integers vs numpy
    cosine of the float MEANS — scale-invariance makes them equal up
    to quantization."""
    import numpy as np

    from beacon_data_importer_spark.sources.parquet import read_table

    got = {
        r.label: r.cos_to_corpus_micro
        for r in QUERIES["embedding_drift_by_label"](
            spark, sf_dir
        ).collect()
    }
    rows = read_table(spark, sf_dir, "embeddings").collect()
    by_label = defaultdict(list)
    for r in rows:
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    corpus_mean = np.mean(
        [v for vs in by_label.values() for v in vs], axis=0
    )
    for label, vs in by_label.items():
        m = np.mean(vs, axis=0)
        cos = float(
            m @ corpus_mean
            / (np.linalg.norm(m) * np.linalg.norm(corpus_mean))
        )
        # quantization at 1e6 per component over ~|x|<=4 keeps the
        # cosine within ~1e-4 of the float reference
        assert abs(got[label] / 1e6 - cos) < 1e-3


def test_gini_matches_python_reference(spark, sf_dir):
    """Per-year Gini and top-decile share vs a sorted-list Python
    computation with the same rank tie-break."""
    from beacon_data_importer_spark.sources.parquet import read_table

    got = {
        r.yr: (r.n_orders, r.total_cents, r.gini_micro,
               r.top_decile_share_ppm)
        for r in QUERIES["revenue_concentration"](
            spark, sf_dir
        ).collect()
    }
    rows = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice", "o_orderkey"
    ).collect()
    import math
    by_year = defaultdict(list)
    for r in rows:
        yr = int(str(r.o_orderdate)[:4])
        by_year[yr].append((round(r.o_totalprice * 100), r.o_orderkey))
    want = {}
    for yr, vals in by_year.items():
        vals.sort()
        n = len(vals)
        s = sum(x for x, _ in vals)
        ix = sum((i + 1) * x for i, (x, _) in enumerate(vals))
        k = n // 10
        s_top = sum(x for x, _ in vals[n - k:]) if k else 0
        gini = math.floor(1e6 * (2 * ix - (n + 1) * s) / (n * s))
        want[yr] = (n, s, gini, (s_top * 1_000_000) // s)
    assert got == want
