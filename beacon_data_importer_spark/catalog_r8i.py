"""Round-8 catalog, tier 9 (post-slot extras, round-9 promotion
candidates) —

* ``cochran_q_test`` — k related binary treatments: do the five event
  types have equal per-user engagement rates when every user is their
  own block?  The binary-panel member of the repeated-measures family
  (``friedman_test`` ranks continuous values; ``mcnemar_test`` is the
  k=2 special case).  Exact integers end to end.
* ``mantel_haenszel_cmh`` — stratified 2×2 analysis: the common
  urgent→high-value odds ratio across the five region strata plus the
  continuity-corrected Cochran-Mantel-Haenszel test.  The stratified
  sibling of ``chi_square_independence`` — pooling regions can
  Simpson-flip the marginal table (``simpson_paradox_audit`` measures
  exactly that hazard; CMH is the remedy).
* ``kpss_stationarity`` — level-stationarity of daily revenue with a
  Bartlett long-run variance (q=4): the null-reversed complement to
  the trend tests (MK/Pettitt reject "no change"; KPSS rejects
  "stationary").  Partial sums and autocovariances stay exact
  integers via the dev = n·y − S device; one ppm quotient at the end.
* ``pacf_durbin_levinson`` — partial autocorrelations of daily
  revenue at lags 1..6 by the Durbin-Levinson recursion, unrolled as
  six 1-row ARRAY stages (no recursion, no fold-carried struct — the
  DuckDB list_reduce struct bug again): each stage's scalar products
  are explicit left folds so the doubles match bitwise across
  engines; inputs are the ppm-floored autocorrelations.
  ``acf_daily_revenue`` answers "correlated at lag k?"; PACF answers
  "DIRECTLY correlated, shorter lags partialled out" — the AR-order
  selector.

Reference parity: beyond-reference statistics tier.
"""

from __future__ import annotations

from .catalog import Dialect, sql_query
from .catalog_r8d import _day_sql


# ---------------------------------------------------------------------------
# cochran_q_test
# ---------------------------------------------------------------------------

_CQ_MIN_EVENTS = 13  # per-user per-type engagement bar ≈ the type mean
#: floor(1e6 · χ²(df=4, α=0.05))
_CHI2_DF4_E6 = 9_487_729


def _cq_sql(dialect: Dialect) -> str:
    return f"""
    WITH x AS (
      SELECT user_id, event_type,
        CASE WHEN count(*) >= {_CQ_MIN_EVENTS} THEN 1 ELSE 0 END AS b
      FROM events GROUP BY user_id, event_type
    ),
    ctot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
        CAST(sum(cj) AS BIGINT) AS t,
        CAST(sum(CAST(cj AS {dialect.big}) * cj) AS {dialect.big}) AS sc2
      FROM (SELECT event_type, CAST(sum(b) AS BIGINT) AS cj
            FROM x GROUP BY event_type) c
    ),
    rtot AS (
      SELECT CAST(sum(ru) AS BIGINT) AS sr,
        CAST(sum(CAST(ru AS {dialect.big}) * ru) AS {dialect.big}) AS sr2
      FROM (SELECT user_id, CAST(sum(b) AS BIGINT) AS ru
            FROM x GROUP BY user_id) r
    )
    SELECT ctot.k AS k_treatments, ctot.t AS n_successes,
      CAST(((ctot.k - 1) * (ctot.k * ctot.sc2 - CAST(ctot.t AS {dialect.big})
             * ctot.t) * 1000000)
           {dialect.div}(ctot.k * ctot.t - rtot.sr2) AS BIGINT) AS q_ppm,
      ((ctot.k - 1) * (ctot.k * ctot.sc2 - CAST(ctot.t AS {dialect.big}) * ctot.t)
       * 1000000) {dialect.div}(ctot.k * ctot.t - rtot.sr2) > {_CHI2_DF4_E6}
        AS reject_equal_rates
    FROM ctot CROSS JOIN rtot
    """


sql_query(
    "cochran_q_test", _cq_sql, "events",
    doc="""Cochran's Q over the user × event-type engagement panel
    (bᵤⱼ = 1 iff user u logged ≥13 events of type j):
    Q = (k−1)(kΣCⱼ² − T²)/(kT − ΣRᵤ²) — column and row totals are the
    only aggregates, every term an exact integer, one ppm quotient
    against χ²₄.  Users uniform across types drop out of both
    numerator and denominator exactly as the theory says.

    Scale: two map-side-combinable groupBys (user×type, then each
    margin); no joins wider than a 1-row broadcast.""",
)


# ---------------------------------------------------------------------------
# mantel_haenszel_cmh
# ---------------------------------------------------------------------------

_MH_HIGH_VALUE_C = 30_000_000  # > $300k ⇒ "high-value" outcome
#: floor(1e6 · χ²(df=1, α=0.05))
_CHI2_DF1_E6 = 3_841_458


def _mh_sql(dialect: Dialect) -> str:
    return f"""
    WITH o AS (
      SELECT r.r_name AS stratum,
        CASE WHEN ord.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
        CASE WHEN CAST(round(ord.o_totalprice * 100) AS BIGINT)
             > {_MH_HIGH_VALUE_C} THEN 1 ELSE 0 END AS y
      FROM orders ord
      JOIN customer c ON c.c_custkey = ord.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    s AS (
      SELECT stratum,
        CAST(sum(x * y) AS BIGINT) AS a,
        CAST(sum(x * (1 - y)) AS BIGINT) AS b,
        CAST(sum((1 - x) * y) AS BIGINT) AS c,
        CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
        CAST(count(*) AS BIGINT) AS n
      FROM o GROUP BY stratum
    ),
    agg AS (
      SELECT
        CAST(sum(a) * 1000000 AS {dialect.big}) AS sa_e6,
        CAST(sum((CAST(a AS {dialect.big}) * d * 1000000){dialect.div}n) AS {dialect.big})
          AS or_num_e6,
        CAST(sum((CAST(b AS {dialect.big}) * c * 1000000){dialect.div}n) AS {dialect.big})
          AS or_den_e6,
        CAST(sum((CAST(a + b AS {dialect.big}) * (a + c) * 1000000){dialect.div}n)
             AS {dialect.big}) AS se_e6,
        CAST(sum((CAST(a + b AS {dialect.big}) * (c + d) * (a + c) * (b + d)
                  * 1000000000000)
                 {dialect.div}(CAST(n AS {dialect.big}) * n * (n - 1))) AS {dialect.big})
          AS sv_e12,
        CAST(count(*) AS BIGINT) AS n_strata
      FROM s
    )
    SELECT n_strata,
      CAST((or_num_e6 * 1000000){dialect.div}or_den_e6 AS BIGINT) AS or_mh_ppm,
      CAST(((abs(sa_e6 - se_e6) - 500000)
            * (abs(sa_e6 - se_e6) - 500000) * 1000000)
           {dialect.div}sv_e12 AS BIGINT) AS cmh_chi2_ppm,
      ((abs(sa_e6 - se_e6) - 500000)
       * (abs(sa_e6 - se_e6) - 500000) * 1000000)
        {dialect.div}sv_e12 > {_CHI2_DF1_E6} AS reject_no_association
    FROM agg
    """


sql_query(
    "mantel_haenszel_cmh", _mh_sql, "orders", "customer", "nation", "region",
    doc="""Mantel-Haenszel common odds ratio (urgent → high-value) across
    the five region strata plus the continuity-corrected CMH χ²: each
    stratum contributes ad/n, bc/n, E=r₁c₁/n and the hypergeometric
    variance r₁r₂c₁c₂/(n²(n−1)) as per-stratum ppm-floored integers
    (identical floor placement both engines), then one quotient each
    for OR and χ².

    Scale: one aggregation to 5 stratum rows behind broadcast dim
    joins; everything after is 1-row arithmetic.""",
)


# ---------------------------------------------------------------------------
# kpss_stationarity
# ---------------------------------------------------------------------------

_KPSS_Q = 4  # Bartlett truncation
#: floor(1e6 · KPSS level-stationarity 5% critical value)
_KPSS_CRIT_E6 = 463_000


def _kpss_sql(dialect: Dialect) -> str:
    q = _KPSS_Q
    hint = dialect.broadcast("l")
    lags = f"SELECT {dialect.series(1, q)} AS l"
    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM day
    ),
    dev AS (
      SELECT day.t, CAST(st.n * day.y - st.s AS BIGINT) AS d
      FROM day CROSS JOIN st
    ),
    g0 AS (
      SELECT CAST(sum(CAST(d AS {dialect.big}) * d) AS {dialect.big}) AS g FROM dev
    ),
    gl AS (
      SELECT {hint}k.l AS l,
        CAST(sum(CAST(a.d AS {dialect.big}) * b.d) AS {dialect.big}) AS g
      FROM dev a CROSS JOIN ({lags}) k
      JOIN dev b ON b.t = a.t + k.l
      GROUP BY k.l
    ),
    lrv AS (
      SELECT CAST({q + 1} AS {dialect.big}) * g0.g
        + 2 * (SELECT CAST(sum(({q + 1} - l) * g) AS {dialect.big}) FROM gl)
        AS ln_num
      FROM g0
    ),
    cum AS (
      SELECT sum(d) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM dev
    ),
    num AS (
      SELECT CAST(sum(CAST(c AS {dialect.big}) * c) AS {dialect.big}) AS sc2 FROM cum
    )
    SELECT st.n AS n_days,
      CAST((num.sc2 * {q + 1} * 1000000){dialect.div}(st.n * lrv.ln_num)
           AS BIGINT) AS kpss_eta_ppm,
      (num.sc2 * {q + 1} * 1000000){dialect.div}(st.n * lrv.ln_num)
        > {_KPSS_CRIT_E6} AS reject_level_stationary
    FROM num CROSS JOIN lrv CROSS JOIN st
    """


sql_query(
    "kpss_stationarity", _kpss_sql, "orders",
    doc="""KPSS level-stationarity test on daily revenue: partial sums of
    the EXACT integer deviations dev = n·y − S (the n factors cancel
    in η), Bartlett long-run variance at q=4 from the same deviation
    autocovariances (equi-joined on t+l against a broadcast lag
    spine), η = 5·ΣC²/(n·(5γ₀ + 2Σ(5−l)γ_l)) as one ppm quotient vs
    the published 0.463 critical value.  MK/Pettitt/seasonal-MK put
    "no trend/change" on the null; KPSS reverses the burden.

    Scale: the cumulative window runs over the calendar-bounded day
    frame (BOUNDED_FRAME_AUDITED class); autocovariances are
    equi-joins, no window.""",
)


# ---------------------------------------------------------------------------
# pacf_durbin_levinson
# ---------------------------------------------------------------------------

_PACF_LAGS = 6


def _pacf_sql(dialect: Dialect) -> str:
    L = _PACF_LAGS
    hint = dialect.broadcast("k")
    lags = f"SELECT {dialect.series(1, L)} AS l"

    def el(arr: str, i: str) -> str:
        return (
            f"element_at({arr}, {i})" if dialect.spark else f"list_extract({arr}, {i})"
        )

    def fold_sum(terms: str) -> str:
        """Deterministic left-fold sum of a double list (list_sum's
        internal order is not pinned; an explicit fold is)."""
        if dialect.spark:
            return (
                f"aggregate({terms}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            )
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, {terms}),"
            " (acc, x) -> acc + x)"
        )

    def rng(n: str) -> str:
        return (
            f"sequence(1, {n})" if dialect.spark else f"range(1, ({n}) + 1)"
        )

    def transform(src: str, lam: str) -> str:
        return (
            f"transform({src}, {lam})"
            if dialect.spark
            else f"list_transform({src}, {lam})"
        )

    arr_empty = (
        "CAST(array() AS ARRAY<DOUBLE>)" if dialect.spark else "[]::DOUBLE[]"
    )
    concat = "concat" if dialect.spark else "list_concat"
    mkarr = (lambda x: f"array({x})") if dialect.spark else (lambda x: f"[{x}]")

    # stage k: phi_k = phi_{k-1} - pkk*reverse(phi_{k-1}) ++ [pkk]
    # pkk = (rho_k - sum_j phi_{k-1,j} rho_{k-j}) / (1 - sum_j phi_{k-1,j} rho_j)
    stages = []
    prev = "s1"
    stages.append(
        f"s1 AS (SELECT rho, {mkarr(el('rho', '1'))} AS phi FROM rhos)"
    )
    for k in range(2, L + 1):
        num_terms = transform(
            rng(str(k - 1)),
            f"j -> {el('phi', 'CAST(j AS INT)') if dialect.spark else 'phi[j]'}"
            f" * {el('rho', f'CAST({k} - j AS INT)') if dialect.spark else f'rho[{k} - j]'}",
        )
        den_terms = transform(
            rng(str(k - 1)),
            f"j -> {el('phi', 'CAST(j AS INT)') if dialect.spark else 'phi[j]'}"
            f" * {el('rho', 'CAST(j AS INT)') if dialect.spark else 'rho[j]'}",
        )
        pkk = (
            f"({el('rho', str(k))} - {fold_sum(num_terms)})"
            f" / (CAST(1 AS DOUBLE) - {fold_sum(den_terms)})"
        )
        newphi_head = transform(
            rng(str(k - 1)),
            f"j -> {el('phi', 'CAST(j AS INT)') if dialect.spark else 'phi[j]'}"
            f" - pkk * "
            + (
                f"element_at(phi, CAST({k} - j AS INT))"
                if dialect.spark
                else f"phi[{k} - j]"
            ),
        )
        stages.append(
            f"s{k} AS (SELECT rho,"
            f" {concat}({newphi_head}, {mkarr('pkk')}) AS phi"
            f" FROM (SELECT rho, phi, {pkk} AS pkk FROM {prev}) t)"
        )
        prev = f"s{k}"
    chain = ",\n    ".join(stages)

    explode_out = f"SELECT {dialect.series(1, L)} AS lag, phi FROM s{L}"
    phi_at = (
        "element_at(phi, CAST(lag AS INT))" if dialect.spark else "phi[lag]"
    )

    return f"""
    WITH {_day_sql(dialect)},
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM day
    ),
    dev AS (
      SELECT day.t, CAST(st.n * day.y - st.s AS BIGINT) AS d
      FROM day CROSS JOIN st
    ),
    den AS (
      SELECT CAST(sum(CAST(d AS {dialect.big}) * d) AS {dialect.big}) AS g FROM dev
    ),
    ac AS (
      SELECT {hint}k.l AS l,
        CAST(sum(CAST(a.d AS {dialect.big}) * b.d) AS {dialect.big}) AS g
      FROM dev a CROSS JOIN ({lags}) k
      JOIN dev b ON b.t = a.t + k.l
      GROUP BY k.l
    ),
    rk AS (
      SELECT l, CAST((ac.g * 1000000){dialect.div}den.g AS BIGINT) AS r_ppm
      FROM ac CROSS JOIN den
    ),
    rhos AS (
      SELECT {("transform(array_sort(collect_list(struct(l, r_ppm))),"
               " x -> CAST(x.r_ppm AS DOUBLE) / 1000000)") if dialect.spark
              else "list_transform(list(r_ppm ORDER BY l),"
              " x -> x::DOUBLE / 1000000)"} AS rho
      FROM rk
    ),
    {chain}
    SELECT CAST(lag AS BIGINT) AS lag,
      CAST(floor(1000000 * {phi_at}) AS BIGINT) AS pacf_e6
    FROM ({explode_out}) f
    """


sql_query(
    "pacf_durbin_levinson", _pacf_sql, "orders",
    doc="""Partial autocorrelations of daily revenue, lags 1..6, by
    Durbin-Levinson: the autocorrelations are ppm-floored integers
    first (exact autocovariance quotients — the ljung_box deviation
    device), then six UNROLLED 1-row array stages advance
    φ_k = φ_{k−1} − φ_kk·reverse(φ_{k−1}) ⧺ [φ_kk] with every scalar
    product an explicit left fold (list_sum's internal order is not
    pinned; folds are) — doubles therefore match bitwise across
    engines and one floor per lag crosses to ppm.  No recursion, no
    fold-carried struct (the DuckDB list_reduce struct bug), no
    matrix solve.

    Scale: the series work is the same bounded-day-frame equi-join
    machinery as ljung_box/kpss; the DL stages touch one row.""",
)
