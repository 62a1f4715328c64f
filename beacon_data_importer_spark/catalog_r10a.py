"""Round-10 catalog, tier 1 — robust location/scale/outlier
estimators over the daily-revenue frame and the two-segment order
histogram.  The classical moments family (``welch_t_test``,
``anova_oneway``, sample variance) breaks down at a single wild value;
this tier adds the high-breakdown replacements, each from the shared
bounded-frame devices:

* ``qn_scale_estimator`` — Rousseeuw-Croux Qn: the k-th order
  statistic of the C(n,2) pairwise gaps |yᵢ−yⱼ|, k = C(h,2),
  h = ⌊n/2⌋+1.  50% breakdown AND 82% Gaussian efficiency — the
  estimator that dominates the MAD (37% efficiency) without assuming
  symmetry.
* ``sn_scale_estimator`` — the Sn sibling: lowmed_i himed_j |yᵢ−yⱼ|.
  The nested-median form that needs only per-i medians (a PARTITIONED
  window) before one bounded global median.
* ``biweight_midvariance`` — Tukey's BWMV with the 9·MAD tuning
  radius, fully integer: one ppm floor for u², then exact
  Σa²w⁴ / (Σwv)² arithmetic — the e24 scale factors cancel between
  numerator and squared denominator.
* ``trimean_bowley_skew`` — Tukey's trimean (Q1+2M+Q3)/4 and Bowley's
  quartile skewness, both from exact hinge order statistics.
* ``medcouple_skew_lite`` — the robust skewness medcouple: the median
  of the kernel h(xᵢ,xⱼ) = ((xⱼ−M)−(M−xᵢ))/(xⱼ−xᵢ) over pairs
  straddling the median (ties AT the median excluded — the "lite"
  convention, see docstring).
* ``hampel_outlier_flags`` — the Hampel identifier: rolling ±7-day
  window median and MAD, flag |y−med| > 3·1.4826·MAD.  The robust
  twin of ``rolling_anomaly_flags``'s mean/stddev z-score.
* ``repeated_median_slope`` — Siegel's repeated median regression:
  med_i med_j slope(i,j).  50% breakdown vs Theil-Sen's 29%, from the
  SAME pairwise-slope device (``theil_sen_trend``), with the outer
  median over per-i PARTITIONED medians.
* ``yuen_trimmed_t`` — Yuen-Welch two-sample test on 20%-trimmed
  means with winsorized variances, computed entirely from the
  r9a $10-bucket two-group histogram (no per-row ranks).

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .catalog_r8d import _day_sql
from .catalog_r9a import _two_group_hist_sql
from .sources.parquet import register_views

#: floor(1e6 · d) for Qn's asymptotic Gaussian consistency factor
#: d = 2.21914 (Rousseeuw & Croux 1993); finite-sample corrections
#: deliberately omitted (documented asymptotic form).
_QN_D_E6 = 2_219_140
#: floor(1e6 · c) for Sn's factor c = 1.1926 (same paper).
_SN_C_E6 = 1_192_600
#: floor(1e4 · 3 · 1.4826) — the Hampel 3-sigma gate in MAD units.
_HAMPEL_K_E4 = 44_478
#: floor(1e6 · z₀.₉₇₅) — asymptotic two-sided 5% gate for Yuen's t
#: (df > 100 at every SF, where t ≈ z; documented approximation).
_Z975_E6 = 1_959_963


# ---------------------------------------------------------------------------
# shared: Arrow kernel over the calendar-bounded day frame (r11 round)
# ---------------------------------------------------------------------------


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division — Spark ``div`` ≡ DuckDB ``//``
    (both round toward zero; Python ``//`` floors, so negative
    quotients need the sign fix-up)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


#: int64 cells per kernel chunk buffer (≈2 MB).  The kernels below cap
#: their working set at a few of these instead of materializing n×n
#: matrices: measured on this sandbox, FIRST-TOUCH page faults on fresh
#: large allocations are lazily backed at 0.5–2.5 ms/page (≈130 MB of
#: numpy temporaries cost 10–20 s of wall on a cold run, reproduced
#: with pure numpy outside Spark), so a small reused buffer is the
#: difference between a ~1 s kernel and a random multi-second stall.
_KERNEL_CHUNK = 1 << 18


def _day_kernel(spark: SparkSession, kernel, schema: str) -> DataFrame:
    """One single-partition Arrow pass over the (t, y) day frame.

    The O(n²) nested-order-statistic estimators (Qn / Sn / repeated
    median) used to materialize the C(n,2) pair frame through a BNLJ
    and sort it in a window — ~5.8M rows through one task at sf0.1
    (guide §4: the pair frame exists only to pick exact-integer order
    statistics out of it).  Every value here is an exact BIGINT, so a
    numpy replay that picks the same order statistics is bit-identical
    by construction — no IEEE sequencing to preserve, unlike the
    float kernels in operators/kmeans.py.  The day aggregate (the only
    data-sized stage) stays distributed SQL; only the calendar-bounded
    (t, y) rows — ~2.4k for the 7-year TPC-H calendar, regardless of
    scale factor — enter the kernel, and each kernel bounds its live
    buffers to O(``_KERNEL_CHUNK``) cells (see note there)."""
    day = spark.sql(f"WITH {_day_sql(SPARK)} SELECT t, y FROM day")
    return day.coalesce(1).mapInArrow(kernel, schema)


def _gather_ty(batches):
    """Collect the (t, y) day rows of one partition into int64 arrays."""
    import numpy as np

    ts, ys = [], []
    for b in batches:
        ts.append(
            b.column(b.schema.get_field_index("t")).to_numpy(
                zero_copy_only=False
            )
        )
        ys.append(
            b.column(b.schema.get_field_index("y")).to_numpy(
                zero_copy_only=False
            )
        )
    if not ts:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return (
        np.concatenate(ts).astype(np.int64),
        np.concatenate(ys).astype(np.int64),
    )


# ---------------------------------------------------------------------------
# qn_scale_estimator
# ---------------------------------------------------------------------------


def _qn_sql(dialect: Dialect, par: int | None = None) -> str:
    # par: explicit repartition of the streamed pair side so the
    # calendar-bounded O(n^2) expansion runs on all cores instead of
    # the single AQE-coalesced partition (r11 round, guide §2;
    # outputs are exact integers, so partitioning cannot change them).
    src = (f"(SELECT /*+ REPARTITION({par}) */ * FROM day)"
           if par else "day")

    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    pairs AS (
      SELECT abs(a.y - b.y) AS d
      FROM {src} a JOIN day b ON b.t > a.t
    ),
    ranked AS (
      SELECT d, row_number() OVER (ORDER BY d) AS r FROM pairs
    ),
    k AS (
      SELECT n,
        ((n{dialect.div}2 + 1) * (n{dialect.div}2)){dialect.div}2 AS k
      FROM n
    )
    SELECT k.n AS n_days, k.k AS k_order,
      r.d AS qn_raw,
      CAST(({_QN_D_E6} * r.d){dialect.div}1000000 AS BIGINT) AS qn_scaled
    FROM ranked r CROSS JOIN k WHERE r.r = k.k
    """


@query("qn_scale_estimator", oracle=_qn_sql(DUCK))
def q_qn_scale_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux Qn scale of daily revenue: the k-th smallest of
    the C(n,2) pairwise absolute gaps, k = C(⌊n/2⌋+1, 2), scaled by
    the asymptotic consistency factor d = 2.21914 (one ppm literal,
    one truncating division).  Unlike the MAD it needs no location
    estimate and keeps 82% efficiency at the Gaussian while holding
    the 50% breakdown point — the production scale estimate for
    control limits over contaminated series.

    Scale: the pair expansion is C(days, 2) — CALENDAR-bounded (~7.3k
    rows for the 121-day frame; ~2.7M for a 10-year daily series),
    never data-sized; the global-order rank runs on that bounded
    frame (BOUNDED_FRAME_AUDITED).  The only volume-bearing exchange
    is the daily aggregate, which map-side combines.

    r11: the C(n,2) pair expansion + global rank is ONE Arrow kernel
    pass over the day frame (guide §4; see ``_day_kernel`` — exact
    integers, so numpy's k-th order statistic is bit-identical to the
    SQL row_number pick).  The kernel never materializes the pair set:
    the k-th smallest |yᵢ−yⱼ| is min{x : #pairs(d ≤ x) ≥ k}, found by
    a value-space binary search with an O(n log n) sorted two-pointer
    count per probe — O(n) working memory (see ``_day_kernel`` on why
    bounding fresh allocations matters here).  The DuckDB oracle keeps
    the pure-SQL form.

    Reference parity: beyond-reference statistics tier."""
    register_views(spark, sf_dir, "orders")

    def _qn(batches):
        import numpy as np
        import pyarrow as pa

        t, y = _gather_ty(batches)
        n = len(y)
        if n < 2:
            return
        ys = np.sort(y)
        pos = np.arange(n, dtype=np.int64)
        h = n // 2 + 1
        k = (h * (h - 1)) // 2  # ((n div 2 + 1) * (n div 2)) div 2

        def n_pairs_le(x: int) -> int:
            # pairs i<j with ys[j]-ys[i] <= x: for each j, the i's are
            # [searchsorted(ys, ys[j]-x), j)
            return int((pos - np.searchsorted(ys, ys - x)).sum())

        lo, hi = 0, int(ys[-1] - ys[0])
        while lo < hi:
            mid = (lo + hi) // 2
            if n_pairs_le(mid) >= k:
                hi = mid
            else:
                lo = mid + 1
        raw = lo
        yield pa.RecordBatch.from_pydict(
            {
                "n_days": [n],
                "k_order": [k],
                "qn_raw": [raw],
                "qn_scaled": [_tdiv(_QN_D_E6 * raw, 1_000_000)],
            },
            schema=pa.schema(
                [(c, pa.int64())
                 for c in ("n_days", "k_order", "qn_raw", "qn_scaled")]
            ),
        )

    return _day_kernel(
        spark, _qn,
        "n_days bigint, k_order bigint, qn_raw bigint, qn_scaled bigint",
    )


# ---------------------------------------------------------------------------
# sn_scale_estimator
# ---------------------------------------------------------------------------


def _sn_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    pairs AS (
      SELECT a.t AS i, abs(a.y - b.y) AS d
      FROM day a JOIN day b ON b.t <> a.t
    ),
    per_i AS (
      SELECT i, d,
        row_number() OVER (PARTITION BY i ORDER BY d) AS r,
        count(*) OVER (PARTITION BY i) AS m
      FROM pairs
    ),
    himed AS (
      SELECT i, d AS hm FROM per_i WHERE r = m{dialect.div}2 + 1
    ),
    outer_rank AS (
      SELECT hm, row_number() OVER (ORDER BY hm) AS r FROM himed
    )
    SELECT n.n AS n_days, o.hm AS sn_raw,
      CAST(({_SN_C_E6} * o.hm){dialect.div}1000000 AS BIGINT) AS sn_scaled
    FROM outer_rank o CROSS JOIN n WHERE o.r = (n.n + 1){dialect.div}2
    """


@query("sn_scale_estimator", oracle=_sn_sql(DUCK))
def q_sn_scale_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux Sn scale of daily revenue: the low median over
    i of the high median over j of |yᵢ−yⱼ|, scaled by c = 1.1926.
    The nested-median form means the inner order statistic is a
    PARTITIONED window (one partition per day i — distributes across
    executors), and only the final n-row median needs a global order.
    High median = (⌊m/2⌋+1)-th, low median = ⌈n/2⌉-th — the original
    paper's convention, replayed identically in both engines.

    Scale: same calendar-bounded pair frame as ``qn_scale_estimator``.

    r11: both median layers are ONE Arrow kernel pass (guide §4; see
    ``_day_kernel``).  The per-i high median over j≠i is read off the
    FULL distance-matrix row at 0-index m·div·2+1: the row's diagonal
    contributes exactly one extra 0 — the global minimum — so dropping
    it shifts every rank past it by one (exact integers; duplicate
    zeros from tied y's don't disturb the pick).  Rows stream through
    one reused ``_KERNEL_CHUNK``-bounded buffer, never the n×n matrix
    (see ``_day_kernel`` on why fresh allocations are capped).  The
    DuckDB oracle keeps the pure-SQL window form; outputs are
    bit-identical.

    Reference parity: beyond-reference statistics tier."""
    register_views(spark, sf_dir, "orders")

    def _sn(batches):
        import numpy as np
        import pyarrow as pa

        t, y = _gather_ty(batches)
        n = len(y)
        if n < 2:
            return
        m = n - 1
        idx = m // 2 + 1  # (m div 2 + 1)-th of row-minus-diagonal
        hm = np.empty(n, dtype=np.int64)
        rows = _KERNEL_CHUNK // n or 1
        buf = np.empty((min(rows, n), n), dtype=np.int64)
        for s in range(0, n, rows):
            e = min(s + rows, n)
            D = buf[: e - s]
            np.subtract(y[None, :], y[s:e, None], out=D)
            np.abs(D, out=D)
            D.partition(idx, axis=1)
            hm[s:e] = D[:, idx]
        q = (n + 1) // 2 - 1  # lowmed, 0-indexed
        raw = int(np.partition(hm, q)[q])
        yield pa.RecordBatch.from_pydict(
            {
                "n_days": [n],
                "sn_raw": [raw],
                "sn_scaled": [_tdiv(_SN_C_E6 * raw, 1_000_000)],
            },
            schema=pa.schema(
                [(c, pa.int64())
                 for c in ("n_days", "sn_raw", "sn_scaled")]
            ),
        )

    return _day_kernel(
        spark, _sn, "n_days bigint, sn_raw bigint, sn_scaled bigint"
    )


# ---------------------------------------------------------------------------
# biweight_midvariance
# ---------------------------------------------------------------------------


def _bwmv_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    med AS (
      SELECT max(CASE WHEN s.r = (n.n + 1){dialect.div}2 THEN s.y END) AS m
      FROM (
        SELECT y, row_number() OVER (ORDER BY y) AS r FROM day
      ) s CROSS JOIN n
    ),
    adev AS (
      SELECT d.y, d.y - med.m AS a, abs(d.y - med.m) AS aa
      FROM day d CROSS JOIN med
    ),
    mad AS (
      SELECT max(CASE WHEN s.r = (n.n + 1){dialect.div}2 THEN s.aa END) AS mad
      FROM (
        SELECT aa, row_number() OVER (ORDER BY aa) AS r FROM adev
      ) s CROSS JOIN n
    ),
    u AS (
      SELECT a,
        CAST((CAST(a AS {dialect.big}) * a * 1000000)
             {dialect.div}(81 * CAST(mad AS {dialect.big}) * mad) AS BIGINT) AS u2_e6
      FROM adev CROSS JOIN mad
    ),
    terms AS (
      SELECT
        CAST(a AS {dialect.big}) * a
          * (1000000 - u2_e6) * (1000000 - u2_e6)
          * (1000000 - u2_e6) * (1000000 - u2_e6) AS num_t,
        CAST(1000000 - u2_e6 AS {dialect.big})
          * (1000000 - 5 * u2_e6) AS den_t
      FROM u WHERE u2_e6 < 1000000
    ),
    agg AS (
      SELECT sum(num_t) AS num, sum(den_t) AS den FROM terms
    ),
    sv AS (
      SELECT sum(CAST(y AS {dialect.big}) * y) AS syy,
        sum(CAST(y AS {dialect.big})) AS sy
      FROM day
    )
    SELECT n.n AS n_days,
      CAST((n.n * agg.num){dialect.div}(agg.den * agg.den) AS BIGINT) AS bwmv,
      CAST((sv.syy * n.n - sv.sy * sv.sy)
           {dialect.div}(n.n * (n.n - 1)) AS BIGINT) AS sample_var
    FROM agg CROSS JOIN n CROSS JOIN sv
    """


sql_query(
    "biweight_midvariance", _bwmv_sql, "orders",
    doc="""Tukey's biweight midvariance of daily revenue with the standard
    9·MAD tuning radius: u = (y−M)/(9·MAD), BWMV = n·Σ_{|u|<1}
    (y−M)²(1−u²)⁴ / (Σ(1−u²)(1−5u²))² — the robust variance that
    downweights smoothly to zero instead of trimming hard.  ONE ppm
    floor (u² against the exact 81·MAD² denominator); the remaining
    arithmetic is exact wide-integer — the e24 fixed-point factor in
    Σa²w⁴ cancels against (Σwv)²'s, so the output is in raw y² units
    and comparable to the sample variance emitted alongside.

    Scale: two bounded-frame medians + one aggregate over the
    calendar-day frame; nothing data-sized after the daily rollup.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# trimean_bowley_skew
# ---------------------------------------------------------------------------


def _trimean_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    ranked AS (
      SELECT y, row_number() OVER (ORDER BY y) AS r FROM day
    ),
    pos AS (
      SELECT n, (n + 1){dialect.div}2 AS mpos,
        ((n + 1){dialect.div}2 + 1){dialect.div}2 AS hpos
      FROM n
    ),
    qs AS (
      SELECT p.n,
        max(CASE WHEN r.r = p.hpos THEN r.y END) AS q1,
        max(CASE WHEN r.r = p.mpos THEN r.y END) AS q2,
        max(CASE WHEN r.r = p.n + 1 - p.hpos THEN r.y END) AS q3
      FROM ranked r CROSS JOIN pos p
      GROUP BY p.n
    )
    SELECT n AS n_days, q1, q2, q3,
      CAST(((q1 + 2 * q2 + q3) * 100){dialect.div}4 AS BIGINT) AS trimean_e2,
      CAST(((q3 + q1 - 2 * q2) * 1000000)
           {dialect.div}(q3 - q1) AS BIGINT) AS bowley_skew_e6
    FROM qs
    """


sql_query(
    "trimean_bowley_skew", _trimean_sql, "orders",
    doc="""Tukey's trimean (Q1+2M+Q3)/4 and Bowley's quartile skewness
    (Q3+Q1−2M)/(Q3−Q1) of daily revenue, from exact HINGE order
    statistics: M at rank ⌈n/2⌉, hinges at rank ⌈(⌈n/2⌉+1)/2⌉ from
    each end (Tukey's five-number convention — the hinge fold, not
    interpolated percentiles, so both engines pick the identical
    sample value and the statistic stays exact integer until the two
    output floors).  Bowley's coefficient is the quartile analogue of
    moment skewness with 25% breakdown — the robust companion to
    ``jarque_bera_test``'s moment-based asymmetry read.

    Scale: one bounded-frame rank over the calendar-day aggregate.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# medcouple_skew_lite
# ---------------------------------------------------------------------------


def _medcouple_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    med AS (
      SELECT y AS m FROM (
        SELECT y, row_number() OVER (ORDER BY y) AS r FROM day
      ) s CROSS JOIN n WHERE s.r = (n.n + 1){dialect.div}2
    ),
    kern AS (
      SELECT CAST((((b.y - med.m) - (med.m - a.y)) * 1000000)
                  {dialect.div}(b.y - a.y) AS BIGINT) AS h_e6
      FROM day a JOIN med ON a.y < med.m
      JOIN day b ON b.y > med.m
    ),
    kn AS (SELECT CAST(count(*) AS BIGINT) AS kn FROM kern),
    ranked AS (
      SELECT h_e6, row_number() OVER (ORDER BY h_e6) AS r FROM kern
    )
    SELECT kn.kn AS n_kernel_pairs,
      r.h_e6 AS medcouple_e6,
      r.h_e6 > 0 AS right_skewed
    FROM ranked r CROSS JOIN kn WHERE r.r = (kn.kn + 1){dialect.div}2
    """


sql_query(
    "medcouple_skew_lite", _medcouple_sql, "orders",
    doc="""Medcouple robust skewness of daily revenue: the median of the
    kernel h(xᵢ,xⱼ) = ((xⱼ−M)−(M−xᵢ))/(xⱼ−xᵢ) over pairs with
    xᵢ < M < xⱼ.  LITE convention: observations exactly AT the median
    are excluded from both sides (the full Brys-Hubert-Struyf
    definition assigns them a ±1/0 special kernel; daily revenue
    totals are continuous-valued so the excluded mass is at most the
    single median row).  MC > 0 reads right tail heavier — the input
    to the adjusted-boxplot fence (Hubert-Vandervieren), which is why
    it pairs with ``hampel_outlier_flags`` rather than replacing it.
    One ppm floor per kernel, then an exact integer median.

    Scale: the kernel frame is ≤ C(n,2) over calendar days — bounded;
    its global-order median rank is the BOUNDED_FRAME_AUDITED class.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# hampel_outlier_flags
# ---------------------------------------------------------------------------


def _hampel_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    nbr AS (
      SELECT c.t, c.y, s.y AS ys
      FROM day c JOIN day s ON s.t BETWEEN c.t - 7 AND c.t + 7
    ),
    med AS (
      SELECT t, y, ys,
        row_number() OVER (PARTITION BY t ORDER BY ys) AS r,
        count(*) OVER (PARTITION BY t) AS m
      FROM nbr
    ),
    center_med AS (
      SELECT t, y, ys AS med_y FROM med WHERE r = (m + 1){dialect.div}2
    ),
    adev AS (
      SELECT n.t, cm.y, cm.med_y, abs(n.ys - cm.med_y) AS ad
      FROM nbr n JOIN center_med cm ON cm.t = n.t
    ),
    madr AS (
      SELECT t, y, med_y, ad,
        row_number() OVER (PARTITION BY t ORDER BY ad) AS r,
        count(*) OVER (PARTITION BY t) AS m
      FROM adev
    )
    SELECT t AS day_t, y, med_y, ad AS mad_y,
      abs(y - med_y) * 10000 > {_HAMPEL_K_E4} * ad AS is_outlier
    FROM madr WHERE r = (m + 1){dialect.div}2
    ORDER BY t
    """


sql_query(
    "hampel_outlier_flags", _hampel_sql, "orders",
    doc="""Hampel identifier over daily revenue: a ±7-day rolling window
    median and rolling MAD per day, flagging |y − med| > 3·1.4826·MAD
    (the gate held as the exact integer cross-multiplication
    10⁴·|dev| > 44478·MAD — zero floating point).  The high-breakdown
    twin of ``rolling_anomaly_flags``: a level shift or a true spike
    inflates a rolling STDDEV and masks its neighbours, while the
    rolling median/MAD pair stays put until half the window is bad.
    Emits every day with its local median, MAD, and flag (not only
    the flagged rows — a drift in flag COUNT is itself the signal a
    monitoring consumer wants).

    Scale: the range self-join expands each day to ≤15 neighbours —
    linear in days with constant fanout; both medians are PARTITIONED
    windows (per-day groups, never a global sort).

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# repeated_median_slope
# ---------------------------------------------------------------------------


def _siegel_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_day_sql(dialect)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM day),
    pslope AS (
      SELECT a.t AS i,
        CAST(((b.y - a.y) * 1000000){dialect.div}(b.t - a.t) AS BIGINT) AS s_e6
      FROM day a JOIN day b ON b.t <> a.t
    ),
    per_i AS (
      SELECT i, s_e6,
        row_number() OVER (PARTITION BY i ORDER BY s_e6) AS r,
        count(*) OVER (PARTITION BY i) AS m
      FROM pslope
    ),
    imed AS (
      SELECT i, s_e6 AS med_i FROM per_i WHERE r = (m + 1){dialect.div}2
    ),
    outer_rank AS (
      SELECT med_i, row_number() OVER (ORDER BY med_i) AS r FROM imed
    ),
    slope AS (
      SELECT o.med_i AS slope_e6 FROM outer_rank o CROSS JOIN n
      WHERE o.r = (n.n + 1){dialect.div}2
    ),
    resid AS (
      SELECT d.y * 1000000 - s.slope_e6 * d.t AS res_e6
      FROM day d CROSS JOIN slope s
    ),
    ic AS (
      SELECT res_e6, row_number() OVER (ORDER BY res_e6) AS r FROM resid
    )
    SELECT n.n AS n_days, s.slope_e6,
      CAST(ic.res_e6{dialect.div}1000000 AS BIGINT) AS intercept
    FROM slope s CROSS JOIN n JOIN ic ON ic.r = (n.n + 1){dialect.div}2
    """


@query("repeated_median_slope", oracle=_siegel_sql(DUCK))
def q_repeated_median_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel's repeated median regression of daily revenue on time:
    slope = med_i med_{j≠i} (yⱼ−yᵢ)/(tⱼ−tᵢ), intercept = med(yᵢ −
    slope·tᵢ).  Breakdown 50% vs Theil-Sen's 29% (``theil_sen_trend``
    takes ONE median over all pairs, so ~29% contamination suffices
    to poison it; the repeated median needs a majority of rows bad).
    Same pairwise-slope device; the inner median is PARTITIONED by i,
    so only the n-row outer median and the n-row intercept median
    need a global order.  One ppm floor per pair slope, exact after.

    Scale: calendar-bounded pair frame.

    r11: both median layers are ONE Arrow kernel pass (guide §4; see
    ``_day_kernel``).  Pair slopes are TRUNCATING integer division
    (Spark ``div`` ≡ DuckDB ``//`` — sign-fixed |num|//|den|, since
    numpy ``//`` floors); the j=i diagonal is masked with the int64
    max sentinel so the per-i median rank r ≤ m = n−1 never reaches
    it.  The DuckDB oracle keeps the pure-SQL window form; outputs
    are bit-identical exact integers.

    Reference parity: beyond-reference statistics tier."""
    register_views(spark, sf_dir, "orders")

    def _siegel(batches):
        import numpy as np
        import pyarrow as pa

        t, y = _gather_ty(batches)
        n = len(y)
        if n < 2:
            return
        m = n - 1
        r = (m + 1) // 2  # 1-indexed inner median among the m slopes
        med_i = np.empty(n, dtype=np.int64)
        rows = _KERNEL_CHUNK // n or 1
        num = np.empty((min(rows, n), n), dtype=np.int64)
        den = np.empty_like(num)
        neg = np.empty(num.shape, dtype=bool)
        for s in range(0, n, rows):
            e = min(s + rows, n)
            a, b, ng = num[: e - s], den[: e - s], neg[: e - s]
            np.subtract(y[None, :], y[s:e, None], out=a)
            a *= 1_000_000
            np.subtract(t[None, :], t[s:e, None], out=b)
            b[b == 0] = 1
            # truncating div = sign-adjusted |num| // |den|
            np.not_equal(a < 0, b < 0, out=ng)
            np.abs(a, out=a)
            np.abs(b, out=b)
            a //= b
            np.negative(a, where=ng, out=a)
            a[np.arange(e - s), np.arange(s, e)] = np.iinfo(np.int64).max
            a.partition(r - 1, axis=1)
            med_i[s:e] = a[:, r - 1]
        ro = (n + 1) // 2  # 1-indexed outer median
        slope = int(np.partition(med_i, ro - 1)[ro - 1])
        res = y * 1_000_000 - slope * t
        res_med = int(np.partition(res, ro - 1)[ro - 1])
        yield pa.RecordBatch.from_pydict(
            {
                "n_days": [n],
                "slope_e6": [slope],
                "intercept": [_tdiv(res_med, 1_000_000)],
            },
            schema=pa.schema(
                [(c, pa.int64())
                 for c in ("n_days", "slope_e6", "intercept")]
            ),
        )

    return _day_kernel(
        spark, _siegel,
        "n_days bigint, slope_e6 bigint, intercept bigint",
    )


# ---------------------------------------------------------------------------
# yuen_trimmed_t
# ---------------------------------------------------------------------------


def _yuen_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_two_group_hist_sql(dialect)},
    g AS (
      SELECT n1, n2, n1{dialect.div}5 AS g1, n2{dialect.div}5 AS g2 FROM tot
    ),
    cut AS (
      SELECT max(g.n1) AS n1, max(g.n2) AS n2,
        max(g.g1) AS g1, max(g.g2) AS g2,
        min(CASE WHEN lt1 + c1 > g.g1 THEN v END) AS lo1,
        min(CASE WHEN lt1 + c1 >= g.n1 - g.g1 THEN v END) AS hi1,
        min(CASE WHEN lt2 + c2 > g.g2 THEN v END) AS lo2,
        min(CASE WHEN lt2 + c2 >= g.n2 - g.g2 THEN v END) AS hi2
      FROM cum CROSS JOIN g
    ),
    kept AS (
      SELECT c.v, ct.n1, ct.n2, ct.g1, ct.g2, ct.lo1, ct.hi1,
        ct.lo2, ct.hi2,
        greatest(CAST(0 AS BIGINT),
          least(c.lt1 + c.c1, ct.n1 - ct.g1)
          - greatest(c.lt1, ct.g1)) AS k1,
        greatest(CAST(0 AS BIGINT),
          least(c.lt2 + c.c2, ct.n2 - ct.g2)
          - greatest(c.lt2, ct.g2)) AS k2
      FROM cum c CROSS JOIN cut ct
    ),
    sums AS (
      SELECT n1, n2, g1, g2, lo1, hi1, lo2, hi2,
        sum(CAST(v AS {dialect.big}) * k1) AS ts1,
        sum(CAST(v AS {dialect.big}) * k2) AS ts2,
        sum(CAST(v AS {dialect.big}) * v * k1) AS tss1,
        sum(CAST(v AS {dialect.big}) * v * k2) AS tss2
      FROM kept
      GROUP BY n1, n2, g1, g2, lo1, hi1, lo2, hi2
    ),
    wins AS (
      SELECT n1, n2, g1, g2,
        n1 - 2 * g1 AS h1, n2 - 2 * g2 AS h2,
        ts1, ts2,
        ts1 + g1 * (CAST(lo1 AS {dialect.big}) + hi1) AS ws1,
        ts2 + g2 * (CAST(lo2 AS {dialect.big}) + hi2) AS ws2,
        tss1 + g1 * (CAST(lo1 AS {dialect.big}) * lo1
                     + CAST(hi1 AS {dialect.big}) * hi1) AS wss1,
        tss2 + g2 * (CAST(lo2 AS {dialect.big}) * lo2
                     + CAST(hi2 AS {dialect.big}) * hi2) AS wss2
      FROM sums
    )
    SELECT n1, n2, h1, h2,
      CAST((ts1 * 1000000){dialect.div}h1 AS BIGINT) AS trim_mean1_e6,
      CAST((ts2 * 1000000){dialect.div}h2 AS BIGINT) AS trim_mean2_e6,
      CAST(floor(
        (CAST(ts1 AS DOUBLE) / h1 - CAST(ts2 AS DOUBLE) / h2)
        / sqrt(
            (CAST(wss1 AS DOUBLE) - CAST(ws1 * ws1 AS DOUBLE) / n1)
              / (CAST(h1 AS DOUBLE) * (h1 - 1))
          + (CAST(wss2 AS DOUBLE) - CAST(ws2 * ws2 AS DOUBLE) / n2)
              / (CAST(h2 AS DOUBLE) * (h2 - 1))
        ) * 1e6) AS BIGINT) AS t_e6,
      abs(CAST(floor(
        (CAST(ts1 AS DOUBLE) / h1 - CAST(ts2 AS DOUBLE) / h2)
        / sqrt(
            (CAST(wss1 AS DOUBLE) - CAST(ws1 * ws1 AS DOUBLE) / n1)
              / (CAST(h1 AS DOUBLE) * (h1 - 1))
          + (CAST(wss2 AS DOUBLE) - CAST(ws2 * ws2 AS DOUBLE) / n2)
              / (CAST(h2 AS DOUBLE) * (h2 - 1))
        ) * 1e6) AS BIGINT)) > {_Z975_E6} AS reject_equal_trimmed_means
    FROM wins
    """


sql_query(
    "yuen_trimmed_t", _yuen_sql, "orders", "customer",
    doc="""Yuen-Welch robust two-sample test between BUILDING and
    MACHINERY order values: 20%-trimmed means compared with
    winsorized variances, t = (x̄ₜ₁−x̄ₜ₂)/√(d₁+d₂) with dⱼ =
    s²_wj·(nⱼ−1)/(hⱼ(hⱼ−1)), hⱼ = nⱼ−2gⱼ.  ``welch_t_test`` on these
    heavy-right-tailed order values is dominated by the tail;
    trimming restores the intended "typical order" comparison.
    Computed ENTIRELY from the r9a $10-bucket two-group histogram:
    trim cutpoints are order statistics read off the cumulative
    counts, kept mass per bucket is a clamped interval intersection,
    winsorized moments add gⱼ copies of each cutpoint — no per-row
    rank is ever materialized.  Exact integers to the final
    double-sqrt combine (one e6 floor); asymptotic z gate (df > 100
    at every SF).

    Scale: one aggregation to the bounded $10-bucket histogram plus
    bounded-frame cumulatives — the dunn/ansari class; nothing
    data-sized crosses an exchange after the histogram rollup.

    Reference parity: beyond-reference statistics tier.""",
)
