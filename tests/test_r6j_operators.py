"""Pure-Python recomputation + calibration tests for catalog_r6j
(capture-recapture, Chao1/Good-Turing, Chow break test)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from pyspark.sql import functions as F

import beacon_data_importer_spark.all_catalogs as cat
from beacon_data_importer_spark.catalog_r6j import (
    _CHOW_CUTOFF_YM,
    _CHOW_F_CRIT_E6,
    _CR_P_PPM,
)
from beacon_data_importer_spark.sources.parquet import read_table


def _q(name):
    return cat.QUERIES[name]


def _u(seed: str, key: int) -> int:
    return int(
        hashlib.md5(f"{seed}|{key}".encode()).hexdigest()[:15], 16
    ) % 1_000_000


def test_capture_recapture_matches_python_and_covers_truth(spark, sf_dir):
    row = _q("capture_recapture_estimate")(spark, sf_dir).collect()[0]
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    active = sorted(
        r.c_custkey
        for r in c.join(
            o, o["o_custkey"] == c["c_custkey"], "left_semi"
        ).collect()
    )
    s1 = [k for k in active if _u("cr1", k) < _CR_P_PPM]
    s2 = [k for k in active if _u("cr2", k) < _CR_P_PPM]
    m = len(set(s1) & set(s2))
    est = (len(s1) + 1) * (len(s2) + 1) // (m + 1) - 1
    assert (row.true_n, row.n1, row.n2, row.m, row.chapman_est) == (
        len(active), len(s1), len(s2), m, est,
    )
    # Chapman variance: ((n1+1)(n2+1)(n1-m)(n2-m)) / ((m+1)^2 (m+2));
    # the estimate must cover truth within 4 SE (md5 samples are
    # as-if independent)
    var = (
        (len(s1) + 1) * (len(s2) + 1) * (len(s1) - m) * (len(s2) - m)
    ) / (((m + 1) ** 2) * (m + 2))
    assert abs(est - len(active)) <= 4 * math.sqrt(var) + 1


def test_chao1_matches_python(spark, sf_dir):
    row = _q("chao1_unseen_vocab")(spark, sf_dir).collect()[0]
    docs = read_table(spark, sf_dir, "documents").collect()
    freq = Counter(
        t for d in docs for t in d.text.split(" ") if t != ""
    )
    f1 = sum(1 for v in freq.values() if v == 1)
    f2 = sum(1 for v in freq.values() if v == 2)
    n = sum(freq.values())
    assert row.vocab_observed == len(freq)
    assert row.n_tokens == n
    assert (row.f1, row.f2) == (f1, f2)
    assert row.chao1_est == len(freq) + f1 * f1 // (2 * max(f2, 1))
    assert row.gt_unseen_ppm == f1 * 1_000_000 // n
    assert row.chao1_est >= row.vocab_observed


def test_chow_matches_python(spark, sf_dir):
    row = _q("chow_break_test")(spark, sf_dir).collect()[0]
    o = read_table(spark, sf_dir, "orders").collect()
    monthly = Counter()
    for r in o:
        monthly[r.o_orderdate.year * 100 + r.o_orderdate.month] += round(
            r.o_totalprice * 100
        )
    series = [
        (t + 1, ym, monthly[ym] // 100000)
        for t, ym in enumerate(sorted(monthly))
    ]

    def sse(rows):
        n = len(rows)
        sx = sum(t for t, _, _ in rows)
        sy = sum(y for _, _, y in rows)
        sxx = n * sum(t * t for t, _, _ in rows) - sx * sx
        sxy = n * sum(t * y for t, _, y in rows) - sx * sy
        syy = n * sum(y * y for _, _, y in rows) - sy * sy
        return math.floor(
            (float(syy) - float(sxy) * float(sxy) / float(sxx)) / float(n)
        )

    sse_p = sse(series)
    sse_a = sse([r for r in series if r[1] < _CHOW_CUTOFF_YM])
    sse_b = sse([r for r in series if r[1] >= _CHOW_CUTOFF_YM])
    n = len(series)
    f_e6 = math.floor(
        1e6
        * (float(sse_p - sse_a - sse_b) / 2.0)
        / (float(sse_a + sse_b) / float(n - 4))
    )
    assert (row.n, row.sse_p, row.sse_a, row.sse_b) == (
        n, sse_p, sse_a, sse_b,
    )
    assert row.f_e6 == f_e6
    assert row.reject_05 == int(f_e6 > _CHOW_F_CRIT_E6)


def test_ab_power_analysis_matches_python(spark, sf_dir):
    """Python recomputation with exact integers, plus the textbook
    float formula within the documented <=1-per-floor drift, plus
    monotonicity (90% power needs more subjects than 80%)."""
    from beacon_data_importer_spark.catalog_r6k import (
        _PW_LIFT_PPM,
        _PW_ZSUM_E6,
    )

    rows = {r.power_pct: r for r in _q("ab_power_analysis")(spark, sf_dir).collect()}
    ev = read_table(spark, sf_dir, "events").collect()
    n_purch = sum(1 for e in ev if e.event_type == "purchase")
    p1 = n_purch * 1_000_000 // len(ev)
    p2 = p1 + p1 * _PW_LIFT_PPM // 1_000_000
    for pct, z in _PW_ZSUM_E6.items():
        num = z * z * (p1 * (1_000_000 - p1) + p2 * (1_000_000 - p2))
        den = (p2 - p1) * (p2 - p1) * 1_000_000_000_000
        want = (num + den - 1) // den
        r = rows[pct]
        assert (r.p1_ppm, r.p2_ppm, r.n_per_arm) == (p1, p2, want)
        # textbook float formula agrees within flooring slack
        fp1, fp2 = p1 / 1e6, p2 / 1e6
        zf = z / 1e6
        nf = zf * zf * (fp1 * (1 - fp1) + fp2 * (1 - fp2)) / (fp2 - fp1) ** 2
        assert abs(want - math.ceil(nf)) <= 2
    assert rows[90].n_per_arm > rows[80].n_per_arm
