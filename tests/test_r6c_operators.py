"""Independent-reimplementation tests for catalog_r6c: the EM, DSIR,
and hard-negative queries are recomputed in pure Python (exact integer
arithmetic / numpy doubles) and compared value-for-value — a third
engine next to Spark and DuckDB."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6c import (
    _DSIR_BUCKETS,
    _FS_ITERS,
    _FS_M0,
    _FS_P0,
    _FS_U0,
    _HNM_QUERY_MOD,
)
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_fellegi_sunter_em_matches_pure_python(spark, sf_dir):
    """Re-run the exact integer EM from the same pattern counts in
    pure Python; every parameter and pattern weight must match."""
    rows = _q("fellegi_sunter_em")(spark, sf_dir).collect()
    # independent pattern counts
    custs = read_table(spark, sf_dir, "customer").collect()
    from collections import Counter, defaultdict

    by_nation = defaultdict(list)
    for c in custs:
        by_nation[c.c_nationkey].append(c)
    pat = Counter()
    for block in by_nation.values():
        block.sort(key=lambda c: c.c_custkey)
        for i, a in enumerate(block):
            for b in block[i + 1:]:
                g1 = int(a.c_mktsegment == b.c_mktsegment)
                g2 = int((a.c_acctbal >= 0) == (b.c_acctbal >= 0))
                g3 = int(a.c_name[16:18] == b.c_name[16:18])
                pat[(g1, g2, g3)] += 1
    assert {(r.g1, r.g2, r.g3): r.n_pairs for r in rows} == dict(pat)

    # exact integer EM (truncating division == Spark div == DuckDB //)
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    p, m, u = _FS_P0, list(_FS_M0), list(_FS_U0)
    for _ in range(_FS_ITERS):
        w = {}
        for (g1, g2, g3), n in pat.items():
            gs = (g1, g2, g3)
            pm = pu = None
            f = [m[k] if gs[k] else 1_000_000 - m[k] for k in range(3)]
            pm = tdiv(tdiv(f[0] * f[1], 1_000_000) * f[2], 1_000_000)
            f = [u[k] if gs[k] else 1_000_000 - u[k] for k in range(3)]
            pu = tdiv(tdiv(f[0] * f[1], 1_000_000) * f[2], 1_000_000)
            a = tdiv(p * pm, 1_000_000)
            b = tdiv((1_000_000 - p) * pu, 1_000_000)
            w[gs] = tdiv(a * 1_000_000, a + b)
        sw = sum(pat[g] * w[g] for g in pat)
        swc = sum(pat[g] * (1_000_000 - w[g]) for g in pat)
        p = tdiv(sw * 1_000_000, sum(pat[g] * 1_000_000 for g in pat))
        m = [
            tdiv(sum(pat[g] * w[g] for g in pat if g[k]) * 1_000_000, sw)
            for k in range(3)
        ]
        u = [
            tdiv(
                sum(pat[g] * (1_000_000 - w[g]) for g in pat if g[k])
                * 1_000_000,
                swc,
            )
            for k in range(3)
        ]
    r0 = rows[0]
    assert (r0.p_ppm, r0.m1_ppm, r0.m2_ppm, r0.m3_ppm) == (p, *m)
    assert (r0.u1_ppm, r0.u2_ppm, r0.u3_ppm) == tuple(u)
    # final per-pattern weights
    for r in rows:
        gs = (r.g1, r.g2, r.g3)
        f = [m[k] if gs[k] else 1_000_000 - m[k] for k in range(3)]
        pm = tdiv(tdiv(f[0] * f[1], 1_000_000) * f[2], 1_000_000)
        f = [u[k] if gs[k] else 1_000_000 - u[k] for k in range(3)]
        pu = tdiv(tdiv(f[0] * f[1], 1_000_000) * f[2], 1_000_000)
        a = tdiv(p * pm, 1_000_000)
        b = tdiv((1_000_000 - p) * pu, 1_000_000)
        assert r.w_ppm == tdiv(a * 1_000_000, a + b)
    # direction-aware monotonicity: flipping one field 0→1 (others
    # fixed) moves the weight WITH the learned sign of that field's
    # discrimination (m_k > u_k → agreement raises w; m_k < u_k → EM
    # decided agreement on that field argues AGAINST a match — honest
    # data can and does flip a field, e.g. g3 here).
    byg = {(r.g1, r.g2, r.g3): r.w_ppm for r in rows}
    for k in range(3):
        for gs, wv in byg.items():
            if gs[k] == 1:
                continue
            flipped = tuple(1 if j == k else gs[j] for j in range(3))
            if flipped not in byg:
                continue
            if m[k] > u[k]:
                assert byg[flipped] >= wv, (k, gs)
            elif m[k] < u[k]:
                assert byg[flipped] <= wv, (k, gs)


def test_dsir_matches_pure_python_and_prefers_target(spark, sf_dir):
    """Recompute bucket LLRs and document weights in pure Python from
    the raw documents; the query's top-k must match exactly, and the
    mean weight of target-language docs must exceed the rest (the
    selection signal actually points at the target)."""
    got = sorted(
        _q("dsir_importance_sample")(spark, sf_dir).collect(),
        key=lambda r: (-r.dsir_w_e6, r.doc_id),
    )
    docs = read_table(spark, sf_dir, "documents").collect()
    from collections import Counter, defaultdict

    tc, rc = Counter(), Counter()
    doc_buckets = {}
    for d in docs:
        bs = [
            _h60(t) % _DSIR_BUCKETS for t in d.text.split(" ") if t != ""
        ]
        doc_buckets[d.doc_id] = bs
        for b in bs:
            rc[b] += 1
            if d.lang == "en":
                tc[b] += 1
    tt, rt = sum(tc.values()), sum(rc.values())
    llr = {}
    for b in rc:
        p_ppm = (tc.get(b, 0) + 1) * 1_000_000 // (tt + _DSIR_BUCKETS)
        q_ppm = (rc[b] + 1) * 1_000_000 // (rt + _DSIR_BUCKETS)
        llr[b] = math.floor(1e6 * math.log(p_ppm / q_ppm))
    w = {
        d.doc_id: sum(llr[b] for b in doc_buckets[d.doc_id])
        for d in docs
        if doc_buckets[d.doc_id]
    }
    want = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
    assert [(r.doc_id, r.dsir_w_e6) for r in got] == want

    lang = {d.doc_id: d.lang for d in docs}
    en = [v for k, v in w.items() if lang[k] == "en"]
    rest = [v for k, v in w.items() if lang[k] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_hard_negative_mining_matches_numpy(spark, sf_dir):
    """Brute-force numpy recomputation of positives/negatives for every
    query; ids and floored micro-unit sims must match."""
    import numpy as np

    rows = {r.query_id: r for r in _q("hard_negative_mining")(spark, sf_dir).collect()}
    emb = read_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([e.vec_id for e in emb])
    labs = np.array([e.label for e in emb])
    mat = np.array([e.embedding for e in emb], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    for qi, qrow in enumerate(emb):
        if qrow.vec_id % _HNM_QUERY_MOD != 0:
            continue
        sims = mat @ mat[qi] / (norms * norms[qi])
        best = {}
        for side, mask in (
            ("pos", (labs == qrow.label) & (ids != qrow.vec_id)),
            ("neg", (labs != qrow.label)),
        ):
            cand = [
                (-sims[j], ids[j]) for j in np.flatnonzero(mask)
            ]
            s, nid = min(cand)
            best[side] = (int(nid), math.floor(-s * 1e6))
        r = rows[qrow.vec_id]
        assert (r.pos_id, r.pos_sim_e6) == best["pos"], qrow.vec_id
        assert (r.neg_id, r.neg_sim_e6) == best["neg"], qrow.vec_id
        assert r.margin_e6 == best["pos"][1] - best["neg"][1]
    assert len(rows) == sum(
        1 for e in emb if e.vec_id % _HNM_QUERY_MOD == 0
    )
