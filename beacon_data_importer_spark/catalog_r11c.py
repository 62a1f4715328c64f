"""Round-11 catalog, tier 3 — spatial autocorrelation and
sequence-structure statistics.

Two genuinely new axes for the catalog.  SPATIAL: the nation → region
containment graph gives a natural binary contiguity matrix (w_ij = 1
iff nations i ≠ j share a region), and per-nation revenue a lattice
variable — the classical spatial-autocorrelation trio runs exactly on
that structure (at 100 TB the identical statistics run on shard/
datacenter/geo partition topologies to detect placement-correlated
drift).  SEQUENCE: each user's time-ordered event stream is an
empirical Markov chain over the bounded event-type alphabet; its
transition matrix supports the entropy-rate and stationary-
distribution reads every clickstream/session pipeline wants:

* ``moran_i_region`` — Moran's I with the normality z-test: the
  covariance-form global autocorrelation (positive = same-region
  nations move together).
* ``geary_c_region`` — Geary's C: the squared-DIFFERENCE form,
  sensitive to local contrasts where Moran reads global covariance
  (C ≈ 1 null, < 1 positive autocorrelation); read together they
  distinguish hot-spot clustering from global trend.
* ``join_count_bw_region`` — the binary (hi/lo revenue) join-count
  read: observed same-region BB/BW/WW adjacency counts vs their
  free-sampling expectations — the spatial χ²-analogue for
  categorical lattice data, and the simplest placement-drift alarm.
* ``markov_transition_entropy`` — the per-user event chain's
  entropy rate H = −Σ_s π_s Σ_t p_st·ln p_st vs the zeroth-order
  entropy H₀ of the marginal type distribution: H ≪ H₀ means the
  stream is sequentially predictable (sessions have grammar), the
  model-free version of ``bigram_lm_perplexity``'s token-level read.
* ``markov_stationary_dist`` — the chain's stationary distribution
  by 20 power-iteration steps (recursive CTE in BOTH engines, ppm
  fixed point), with the total-variation gap between the last two
  iterates as the convergence certificate and the TV distance
  stationary-vs-empirical as the "is the chain in steady state" read.
* ``edwards_seasonality_test`` — Edwards' cyclic-trend test on
  monthly order counts: the √count variance-stabilized harmonic fit
  (a, b) with X² = (a² + b²)/(3/2) ~ χ²(2) under no-seasonality,
  plus the fitted peak month — the CIRCULAR-statistics complement to
  ``seasonal_strength_audit``'s decomposition-variance read.

Every query ships with an independent numpy replay in
``tools/stat_audit.py`` (round-11 audit-first discipline).

Reference parity: beyond-reference statistics tier (the reference
ships no analytics; SURVEY §2 X-series is covered by catalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query, sql_query
from .sources.parquet import register_views

#: floor(1e6 · z₀.₉₇₅).
_Z975_E6 = 1_959_963
#: floor(1e6 · χ²(df=2, α=0.05)).
_CHI2_DF2_E6 = 5_991_464
#: power-iteration steps for the stationary distribution.
_MARKOV_ITERS = 20


def _nation_rev_sql(dialect: Dialect) -> str:
    """Per-nation total customer revenue in $1000 units, with region —
    the lattice variable for the spatial trio.  Every nation appears
    (LEFT JOINs), zero-revenue nations carry 0."""
    return f"""
    nrev AS (
      SELECT n.n_nationkey AS nk, n.n_regionkey AS rk,
        CAST(coalesce(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)),
                      0) AS BIGINT){dialect.div}100000 AS x
      FROM nation n
      LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY n.n_nationkey, n.n_regionkey
    )"""


# ---------------------------------------------------------------------------
# moran_i_region
# ---------------------------------------------------------------------------


def _moran_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_nation_rev_sql(dialect)},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS s
      FROM nrev
    ),
    -- scaled deviations d_i = n*x_i - S (exact; z_i = d_i/n)
    dev AS (
      SELECT nrev.nk, nrev.rk,
        CAST(tot.n AS {dialect.big}) * nrev.x - tot.s AS d
      FROM nrev CROSS JOIN tot
    ),
    byreg AS (
      SELECT rk, CAST(count(*) AS BIGINT) AS m,
        CAST(sum(d) AS {dialect.big}) AS sd,
        CAST(sum(d * d) AS {dialect.big}) AS sdd
      FROM dev GROUP BY rk
    ),
    agg AS (
      SELECT
        CAST(sum(sd * sd - sdd) AS {dialect.big}) AS cross_mass,
        CAST(sum(m * (m - 1)) AS BIGINT) AS w,
        CAST(sum(CAST(m AS {dialect.big}) * (m - 1) * (m - 1)) AS {dialect.big}) AS s2q
      FROM byreg
    ),
    den AS (
      SELECT CAST(sum(d * d) AS {dialect.big}) AS szz FROM dev
    ),
    stat AS (
      SELECT tot.n, agg.w, agg.cross_mass, den.szz,
        CAST(tot.n AS DOUBLE) * CAST(agg.cross_mass AS DOUBLE)
          / (CAST(agg.w AS DOUBLE) * CAST(den.szz AS DOUBLE)) AS i_obs,
        -1.0 / (CAST(tot.n AS DOUBLE) - 1) AS e_i,
        -- normality null variance with S1 = 2W, S2 = 4*sum m(m-1)^2:
        (CAST(tot.n AS DOUBLE) * tot.n * 2 * agg.w
         - CAST(tot.n AS DOUBLE) * 4 * CAST(agg.s2q AS DOUBLE)
         + 3.0 * CAST(agg.w AS DOUBLE) * agg.w)
        / (CAST(agg.w AS DOUBLE) * agg.w
           * (CAST(tot.n AS DOUBLE) * tot.n - 1))
        - 1.0 / ((CAST(tot.n AS DOUBLE) - 1)
                 * (CAST(tot.n AS DOUBLE) - 1)) AS var_i
      FROM tot CROSS JOIN agg CROSS JOIN den
    )
    SELECT n AS n_nations, w AS n_adjacent_pairs,
      CAST(floor(i_obs * 1e6) AS BIGINT) AS moran_i_e6,
      CAST(floor(e_i * 1e6) AS BIGINT) AS expected_i_e6,
      CAST(floor((i_obs - e_i) / sqrt(var_i) * 1e6) AS BIGINT) AS z_e6,
      abs(CAST(floor((i_obs - e_i) / sqrt(var_i) * 1e6) AS BIGINT))
        > {_Z975_E6} AS reject_no_autocorrelation
    FROM stat
    """


sql_query(
    "moran_i_region", _moran_sql, "nation", "customer", "orders",
    doc="""Moran's I of per-nation revenue on the same-region contiguity
    matrix: I = (n/W)·Σ_{{i≠j}} w_ij·z_i·z_j / Σz_i², binary w within
    regions, with E[I] = −1/(n−1) and the normality-null z.  For a
    block-diagonal weight matrix the cross mass collapses per region
    to (Σd)² − Σd² — no pair join at any scale — and S1 = 2W,
    S2 = 4·Σ_r m_r(m_r−1)² close the variance in exact integers.
    Deviations are held exact as d_i = n·xᵢ − S (the engine-wide
    mean-free device); the statistic takes three float divisions on
    exact integers.  At 100 TB the same query over (shard →
    datacenter) adjacency is the placement-correlated-drift alarm.

    Scale: one custkey/nation rollup behind broadcast dims, then
    25-row frames.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# geary_c_region
# ---------------------------------------------------------------------------


def _geary_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_nation_rev_sql(dialect)},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS s
      FROM nrev
    ),
    byreg AS (
      SELECT rk, CAST(count(*) AS BIGINT) AS m,
        CAST(sum(CAST(x AS {dialect.big})) AS {dialect.big}) AS sx,
        CAST(sum(CAST(x AS {dialect.big}) * x) AS {dialect.big}) AS sxx
      FROM nrev GROUP BY rk
    ),
    agg AS (
      -- sum over same-region ordered pairs of (x_i - x_j)^2 =
      -- 2*(m*sum x^2 - (sum x)^2) per region
      SELECT CAST(sum(2 * (m * sxx - sx * sx)) AS {dialect.big}) AS diff_mass,
        CAST(sum(m * (m - 1)) AS BIGINT) AS w
      FROM byreg
    ),
    den AS (
      SELECT CAST(sum((CAST(t.n AS {dialect.big}) * r.x - t.s)
                      * (CAST(t.n AS {dialect.big}) * r.x - t.s)) AS {dialect.big})
        AS szz_n2
      FROM nrev r CROSS JOIN tot t
    )
    SELECT t.n AS n_nations, a.w AS n_adjacent_pairs,
      CAST((CAST(t.n - 1 AS {dialect.big}) * t.n * t.n * a.diff_mass * 1000000)
           {dialect.div}(2 * CAST(a.w AS {dialect.big}) * d.szz_n2) AS BIGINT)
        AS geary_c_e6,
      CAST((CAST(t.n - 1 AS {dialect.big}) * t.n * t.n * a.diff_mass * 1000000)
           {dialect.div}(2 * CAST(a.w AS {dialect.big}) * d.szz_n2) AS BIGINT)
        < 1000000 AS positive_autocorrelation
    FROM tot t CROSS JOIN agg a CROSS JOIN den d
    """


sql_query(
    "geary_c_region", _geary_sql, "nation", "customer", "orders",
    doc="""Geary's C of per-nation revenue on the same-region contiguity
    matrix: C = (n−1)·Σw_ij(xᵢ−xⱼ)² / (2W·Σ(xᵢ−x̄)²) — the
    squared-difference autocorrelation, reciprocally related to but
    not determined by Moran's I (I is a global covariance; C reacts
    to LOCAL contrasts, so an outlier nation inside one region moves
    C first).  C ≈ 1 under independence, < 1 positive
    autocorrelation.  Block-diagonal weights collapse the pair mass
    per region to 2(m·Σx² − (Σx)²); the denominator stays exact via
    the n²-scaled deviations; ONE ppm floor, zero float ops —
    the entire statistic is an integer rational.

    Scale: identical frame to ``moran_i_region`` — broadcast-dim
    rollup, 5-region reduction.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# join_count_bw_region
# ---------------------------------------------------------------------------


def _jc_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_nation_rev_sql(dialect)},
    rk AS (
      SELECT nk, rk AS reg, x,
        row_number() OVER (ORDER BY x, nk) AS r,
        count(*) OVER () AS n
      FROM nrev
    ),
    lab AS (
      -- hi = above the (low) median rank: strictly more than
      -- floor(n/2) nations below
      SELECT nk, reg, CASE WHEN r > n{dialect.div}2 THEN 1 ELSE 0 END AS b
      FROM rk
    ),
    byreg AS (
      SELECT reg, CAST(count(*) AS BIGINT) AS m,
        CAST(sum(b) AS BIGINT) AS hi
      FROM lab GROUP BY reg
    ),
    obs AS (
      SELECT
        CAST(sum(hi * (hi - 1)){dialect.div}2 AS BIGINT) AS bb,
        CAST(sum((m - hi) * (m - hi - 1)){dialect.div}2 AS BIGINT) AS ww,
        CAST(sum(hi * (m - hi)) AS BIGINT) AS bw,
        CAST(sum(m * (m - 1)){dialect.div}2 AS BIGINT) AS j,
        CAST(sum(m) AS BIGINT) AS n,
        CAST(sum(hi) AS BIGINT) AS nb
      FROM byreg
    )
    SELECT n AS n_nations, nb AS n_high, j AS n_joins,
      bb AS bb_obs, bw AS bw_obs, ww AS ww_obs,
      -- nonfree (hypergeometric) expectations:
      -- E[BB] = J*nb*(nb-1)/(n(n-1)), E[BW] = 2J*nb*(n-nb)/(n(n-1))
      CAST((CAST(j AS {dialect.big}) * nb * (nb - 1) * 1000000)
           {dialect.div}(CAST(n AS {dialect.big}) * (n - 1)) AS BIGINT) AS bb_exp_e6,
      CAST((2 * CAST(j AS {dialect.big}) * nb * (n - nb) * 1000000)
           {dialect.div}(CAST(n AS {dialect.big}) * (n - 1)) AS BIGINT) AS bw_exp_e6,
      bw * 1000000 < (2 * CAST(j AS {dialect.big}) * nb * (n - nb) * 1000000)
                     {dialect.div}(CAST(n AS {dialect.big}) * (n - 1))
        AS clustered
    FROM obs
    """


sql_query(
    "join_count_bw_region", _jc_sql, "nation", "customer", "orders",
    doc="""Join-count statistics for the binary high/low-revenue label on
    the same-region nation adjacency: observed BB (both-high), BW
    (mixed) and WW joins against their NONFREE-sampling
    (hypergeometric) expectations E[BB] = J·n_b(n_b−1)/(n(n−1)),
    E[BW] = 2J·n_b·n_w/(n(n−1)) — the categorical-data spatial
    autocorrelation read (Cliff & Ord), i.e. the lattice χ² analogue:
    BW materially below expectation means like labels cluster within
    regions.  The label is "above low-median rank" (deterministic
    (x, nk) tie-break); every count and expectation is an exact
    integer/rational — the whole row is float-free.

    Scale: the 25-row nation frame; join counts collapse per region
    (block-diagonal device — no pair join).  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# markov_transition_entropy
# ---------------------------------------------------------------------------


def _trans_cte(dialect: Dialect) -> str:
    """Per-user consecutive event-type transitions (s -> t) counts."""
    return """
    ev AS (
      SELECT user_id, ts, event_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events
    ),
    tr AS (
      SELECT prev AS s, event_type AS t, CAST(count(*) AS BIGINT) AS c
      FROM ev WHERE prev IS NOT NULL GROUP BY prev, event_type
    )"""


def _mte_sql(dialect: Dialect) -> str:
    return f"""
    WITH {_trans_cte(dialect)},
    rowm AS (
      SELECT s, CAST(sum(c) AS BIGINT) AS cs FROM tr GROUP BY s
    ),
    n AS (SELECT CAST(sum(cs) AS BIGINT) AS n FROM rowm),
    hrate AS (
      -- H = -sum_st (c_st/N) ln(c_st/c_s), per-cell e6 floor
      SELECT CAST(sum(
        CAST(floor(1000000 * (CAST(tr.c AS DOUBLE) / n.n)
                   * ln(CAST(rowm.cs AS DOUBLE) / tr.c)) AS BIGINT))
        AS BIGINT) AS h_e6
      FROM tr JOIN rowm ON rowm.s = tr.s CROSS JOIN n
    ),
    h0 AS (
      -- zeroth-order entropy of the marginal NEXT-type distribution
      SELECT CAST(sum(
        CAST(floor(1000000 * (CAST(ct AS DOUBLE) / n.n)
                   * ln(CAST(n.n AS DOUBLE) / ct)) AS BIGINT))
        AS BIGINT) AS h0_e6
      FROM (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM tr GROUP BY t) m
      CROSS JOIN n
    )
    SELECT n.n AS n_transitions,
      (SELECT CAST(count(*) AS BIGINT) FROM rowm) AS n_states,
      hrate.h_e6 AS entropy_rate_e6,
      h0.h0_e6 AS marginal_entropy_e6,
      h0.h0_e6 - hrate.h_e6 AS predictability_gain_e6,
      CAST((hrate.h_e6 * 1000000){dialect.div}h0.h0_e6 AS BIGINT)
        AS entropy_ratio_e6
    FROM n CROSS JOIN hrate CROSS JOIN h0
    """


sql_query(
    "markov_transition_entropy", _mte_sql, "events",
    doc="""Entropy rate of the per-user event-type Markov chain:
    H = −Σ_s,t (c_st/N)·ln(c_st/c_s) over the empirical transition
    counts, against the zeroth-order marginal entropy H₀ of the
    next-event distribution.  H₀ − H is the sequential
    predictability gain (how much knowing the CURRENT event type
    tells you about the next) and H/H₀ the compression ratio — the
    model-free session-grammar read, the event-level twin of
    ``char_entropy_rate``'s character conditional entropy and
    ``bigram_lm_perplexity``'s trained-LM read.  House entropy
    device: ln floors per (s, t) CELL (alphabet-bounded groups,
    independent roundings), integer weighted sums, pure-integer
    difference and one ppm ratio.

    Scale: the lag window is PARTITIONED by user (distributes);
    transition counts collapse to the alphabet² frame map-side.
    1 row out.

    Reference parity: beyond-reference statistics tier.""",
)


# ---------------------------------------------------------------------------
# markov_stationary_dist
# ---------------------------------------------------------------------------


def _msd_sql(dialect: Dialect) -> str:
    return f"""
    WITH RECURSIVE {_trans_cte(dialect)},
    rowm AS (
      SELECT s, CAST(sum(c) AS BIGINT) AS cs FROM tr GROUP BY s
    ),
    p AS (
      -- transition probabilities as e6 integers (truncating div)
      SELECT tr.s, tr.t,
        CAST((tr.c * 1000000){dialect.div}rowm.cs AS BIGINT) AS p_e6
      FROM tr JOIN rowm ON rowm.s = tr.s
    ),
    k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM rowm),
    init AS (
      -- uniform start over the observed source states, e12 fixed point
      SELECT s, CAST(1000000000000 AS BIGINT){dialect.div}k.k AS pi_e12
      FROM rowm CROSS JOIN k
    ),
    it(iter, s, pi_e12) AS (
      SELECT CAST(0 AS BIGINT), init.s, init.pi_e12 FROM init
      UNION ALL
      SELECT it.iter + 1, p.t,
        CAST(sum((CAST(it.pi_e12 AS {dialect.big}) * p.p_e6){dialect.div}1000000)
             AS BIGINT)
      FROM it JOIN p ON p.s = it.s
      WHERE it.iter < {_MARKOV_ITERS}
      GROUP BY it.iter + 1, p.t
    ),
    last2 AS (
      SELECT a.s, a.pi_e12 AS pi_fin, b.pi_e12 AS pi_prev
      FROM (SELECT s, pi_e12 FROM it WHERE iter = {_MARKOV_ITERS}) a
      JOIN (SELECT s, pi_e12 FROM it
            WHERE iter = {_MARKOV_ITERS - 1}) b ON b.s = a.s
    ),
    emp AS (
      SELECT s, cs FROM rowm
    ),
    nn AS (SELECT CAST(sum(cs) AS BIGINT) AS n FROM emp)
    SELECT l.s AS state,
      CAST(l.pi_fin{dialect.div}1000000 AS BIGINT) AS pi_e6,
      CAST(abs(l.pi_fin - l.pi_prev){dialect.div}1000000 AS BIGINT)
        AS iter_gap_e6,
      CAST((e.cs * 1000000){dialect.div}nn.n AS BIGINT) AS empirical_e6,
      CAST(abs(l.pi_fin{dialect.div}1000000 - (e.cs * 1000000){dialect.div}nn.n)
        AS BIGINT) AS dist_to_empirical_e6
    FROM last2 l JOIN emp e ON e.s = l.s CROSS JOIN nn
    ORDER BY l.s
    """


@query("markov_stationary_dist", oracle=_msd_sql(DUCK))
def q_markov_stationary_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain by
    {_MARKOV_ITERS} power-iteration steps: π₀ uniform, πₜ₊₁(t) =
    Σ_s πₜ(s)·p_st in e12/e6 fixed point with one truncating division
    per (step, cell).  The DuckDB oracle runs a TRUE recursive CTE
    (the ``holt_linear_forecast`` device carrying a distribution per
    step); the Spark side replays the identical arithmetic on the
    ONCE-collected alphabet² cell frame — Spark's WITH RECURSIVE
    rejects aggregates inside the recursive term (documented engine
    lesson), and the truncating sums are order-free, so the hashes
    agree bit-for-bit.  Emits per state: the converged mass, the last-iterate gap
    (the convergence certificate — a large gap flags periodicity or
    reducibility), the empirical marginal, and |stationary −
    empirical| (≈0 says the observed stream is already in steady
    state; a gap says the collection window over- or under-samples
    some session phase).  The chain alphabet is bounded, so every
    iteration is an alphabet²-sized join — the recursion cost is
    O(iters · K²) regardless of data size.

    Scale: one partitioned lag window + alphabet-bounded recursion.
    K rows out.

    Reference parity: beyond-reference statistics tier."""
    register_views(spark, sf_dir, "events")
    # Spark's WITH RECURSIVE forbids aggregates inside the recursive
    # term (INVALID_RECURSIVE_REFERENCE — engine lesson, see PERF.md),
    # so the Spark side collects the alphabet-squared probability cells
    # ONCE (bounded by construction — the cox_ph_binary device) and
    # replays the identical e12/e6 truncating fixed-point iteration in
    # python ints; the DuckDB oracle runs the true recursive CTE.  The
    # value hash is bit-identical because both paths truncate per
    # (step, cell) in the same order-free sum.
    cells = spark.sql(
        f"WITH {_trans_cte(SPARK)},"
        " rowm AS (SELECT s, CAST(sum(c) AS BIGINT) AS cs"
        " FROM tr GROUP BY s)"
        " SELECT tr.s, tr.t, tr.c, rowm.cs FROM tr"
        " JOIN rowm ON rowm.s = tr.s"
    ).collect()
    p: dict[str, dict[str, int]] = {}
    cs: dict[str, int] = {}
    for r in cells:
        p.setdefault(r.s, {})[r.t] = int(r.c) * 1_000_000 // int(r.cs)
        cs[r.s] = int(r.cs)
    states = sorted(p)
    k = len(states)
    pi = {s: 10**12 // k for s in states}
    prev = pi
    for _ in range(_MARKOV_ITERS):
        nxt: dict[str, int] = {}
        for s, mass in pi.items():
            for tgt, pe6 in p.get(s, {}).items():
                nxt[tgt] = nxt.get(tgt, 0) + (mass * pe6) // 1_000_000
        prev, pi = pi, nxt
    n = sum(cs.values())
    out = [
        (
            s,
            pi.get(s, 0) // 1_000_000,
            abs(pi.get(s, 0) - prev.get(s, 0)) // 1_000_000,
            cs[s] * 1_000_000 // n,
            abs(pi.get(s, 0) // 1_000_000 - cs[s] * 1_000_000 // n),
        )
        for s in states
    ]
    return spark.createDataFrame(
        out,
        "state string, pi_e6 bigint, iter_gap_e6 bigint,"
        " empirical_e6 bigint, dist_to_empirical_e6 bigint",
    )


q_markov_stationary_dist.__doc__ = (
    q_markov_stationary_dist.__doc__ or ""
).replace("{_MARKOV_ITERS}", str(_MARKOV_ITERS))


# ---------------------------------------------------------------------------
# edwards_seasonality_test
# ---------------------------------------------------------------------------


def _edwards_sql(dialect: Dialect) -> str:
    pi = "3.141592653589793"
    return f"""
    WITH mc AS (
      SELECT month(o_orderdate) AS mo, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY month(o_orderdate)
    ),
    h AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_months,
        CAST(sum(c) AS BIGINT) AS n,
        sum(sqrt(CAST(c AS DOUBLE))
            * cos(2.0 * {pi} * (mo - 0.5) / 12.0)) AS a,
        sum(sqrt(CAST(c AS DOUBLE))
            * sin(2.0 * {pi} * (mo - 0.5) / 12.0)) AS b
      FROM mc
    )
    SELECT n_months, n AS n_orders,
      CAST(floor(a * 1e6) AS BIGINT) AS a_e6,
      CAST(floor(b * 1e6) AS BIGINT) AS b_e6,
      CAST(floor((a * a + b * b) / 1.5 * 1e6) AS BIGINT)
        AS edwards_x2_e6,
      CAST(floor(CASE WHEN atan2(b, a) * 6.0 / {pi} + 0.5 < 0.5
                 THEN atan2(b, a) * 6.0 / {pi} + 12.5
                 ELSE atan2(b, a) * 6.0 / {pi} + 0.5 END + 0.5)
        AS BIGINT) AS peak_month,
      (a * a + b * b) / 1.5 * 1e6 > {_CHI2_DF2_E6} AS reject_no_seasonality
    FROM h
    """


sql_query(
    "edwards_seasonality_test", _edwards_sql, "orders",
    doc="""Edwards' test for cyclic (seasonal) trend on monthly order
    counts: with the variance-stabilizing d_m = √c_m and month angles
    θ_m = 2π(m−½)/12, the first-harmonic amplitudes a = Σd·cos θ,
    b = Σd·sin θ give X² = (a² + b²)/(3/2) ~ χ²(2) under no
    seasonality (Var(√Poisson) → ¼, Σcos² = 6), plus the fitted peak
    month from atan2(b, a) — the circular-statistics seasonality
    read: one sinusoid, a DIRECTION (when is the peak), and a χ²
    gate, complementing ``seasonal_strength_audit``'s variance
    decomposition and ``hourly_seasonality``'s profile.  Calendar
    month lengths are not adjusted (documented convention — both the
    engines and the audit replay the raw-count form).

    Scale: a 12-row aggregate; all trig on 12 scalars.  1 row out.

    Reference parity: beyond-reference statistics tier.""",
)
