"""Round-7 catalog tier (j): Markov removal-effect attribution —

``markov_removal_attribution`` completes the attribution family
(last_touch_attribution's positional rule, shapley_attribution's
coalition values, click_attribution's interval joins,
bandit_replay_eval's policy view) with the data-driven model the
industry calls "Markov attribution": user journeys become a
first-order transition matrix over channel states, a channel's credit
is its REMOVAL EFFECT — how much the journey-level conversion
probability drops when the channel's node is deleted from the chain —
and shares normalize the positive effects.  Unlike positional rules
it credits channels that feed other channels; unlike Shapley it needs
only the observed chain, not exponentially many coalitions.

Journey semantics (identical text both engines): a user's events
ordered by (ts, event_id), truncated at the FIRST purchase
(inclusive → absorbing CONV); journeys without a purchase end in the
absorbing NULL.  START opens every journey.  Transition probabilities
are floored ppm integers; absorption probabilities come from 30
synchronous iterations of p ← (Σ T·p) div 1e6 + T_CONV — a geometric
fixpoint on a ≤5-transient-state chain, converged far below ppm
resolution by then.

Scale shape: the ONLY data-proportional work is the distributed
transition count (two windows per user partition + one aggregation).
The matrix itself is bounded by the SCHEMA (5 event types → ≤ 6×7
entries), so the Spark side collects it — a driver funnel bounded by
a constant, the kmeans-fit precedent — and runs the 5 × 30 integer
iterations in exact Python; the oracle unrolls the identical
iterations as materialized CTEs.  At 100 TB the matrix is still ≤ 42
numbers.

Reference parity: beyond-reference attribution tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DUCK, SPARK, Dialect, query
from .sources.parquet import read_table

_MRA_CHANNELS = ("click", "error", "signup", "view")
_MRA_ITERS = 30

#: Shared transition-matrix SQL — identical text in both engines (the
#: only dialect token is integer division in the ppm normalization).
def _mra_matrix_sql(dialect: Dialect) -> str:
    return f"""
    ev AS (
      SELECT user_id, ts, event_id,
        CASE WHEN event_type = 'purchase' THEN 'CONV'
             ELSE event_type END AS state
      FROM events
    ),
    fp AS (
      SELECT user_id, ts AS pts, event_id AS pid FROM (
        SELECT user_id, ts, event_id,
          row_number() OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS rn
        FROM ev WHERE state = 'CONV'
      ) t WHERE rn = 1
    ),
    kept AS (
      SELECT e.user_id, e.ts, e.event_id, e.state,
             (f.user_id IS NOT NULL) AS has_conv
      FROM ev e LEFT JOIN fp f ON f.user_id = e.user_id
      WHERE f.user_id IS NULL
         OR e.ts < f.pts
         OR (e.ts = f.pts AND e.event_id <= f.pid)
    ),
    seq AS (
      SELECT user_id, state, has_conv,
        row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n,
        lag(state) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_state
      FROM kept
    ),
    trans AS (
      SELECT coalesce(prev_state, 'START') AS src, state AS dst FROM seq
      UNION ALL
      SELECT state AS src, 'NULL' AS dst FROM seq
      WHERE rn = n AND NOT has_conv
    ),
    cnt AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS c
      FROM trans GROUP BY src, dst
    ),
    outc AS (SELECT src, CAST(sum(c) AS BIGINT) AS oc FROM cnt GROUP BY src),
    tmat AS (
      SELECT c.src, c.dst,
        CAST((c.c * 1000000){dialect.div}o.oc AS BIGINT) AS p_ppm
      FROM cnt c JOIN outc o ON o.src = c.src
    )"""


def _mra_oracle() -> str:
    ch = ", ".join(f"('{c}')" for c in _MRA_CHANNELS)
    steps = []
    for i in range(1, _MRA_ITERS + 1):
        steps.append(f"""
    p{i} AS MATERIALIZED (
      SELECT st.scenario, st.state,
        CAST(coalesce(ts.v, 0) + coalesce(cv.c_ppm, 0) AS BIGINT) AS p
      FROM states st
      LEFT JOIN (
        SELECT m.scenario, m.src AS state,
          sum(m.p_ppm * pp.p) // 1000000 AS v
        FROM tm m JOIN p{i - 1} pp
          ON pp.scenario = m.scenario AND pp.state = m.dst
        GROUP BY m.scenario, m.src
      ) ts ON ts.scenario = st.scenario AND ts.state = st.state
      LEFT JOIN cv ON cv.scenario = st.scenario AND cv.src = st.state
    )""")
    return f"""
    WITH {_mra_matrix_sql(DUCK)},
    scen AS (
      SELECT 'base' AS scenario
      UNION ALL SELECT ch FROM (VALUES {ch}) v(ch)
    ),
    alive AS (
      SELECT s.scenario, t.src, t.dst, t.p_ppm
      FROM tmat t CROSS JOIN scen s
      WHERE s.scenario = 'base'
         OR (t.src <> s.scenario AND t.dst <> s.scenario)
    ),
    tm AS MATERIALIZED (
      SELECT scenario, src, dst, p_ppm FROM alive
      WHERE dst NOT IN ('CONV', 'NULL')
    ),
    cv AS MATERIALIZED (
      SELECT scenario, src, p_ppm AS c_ppm FROM alive WHERE dst = 'CONV'
    ),
    states AS MATERIALIZED (
      SELECT s.scenario, st.state
      FROM scen s CROSS JOIN (VALUES ('START'), {ch}) st(state)
    ),
    p0 AS MATERIALIZED (
      SELECT scenario, state, CAST(0 AS BIGINT) AS p FROM states
    ),
    {",".join(steps)},
    base AS (
      SELECT p AS basep FROM p{_MRA_ITERS}
      WHERE scenario = 'base' AND state = 'START'
    ),
    eff AS (
      SELECT r.scenario AS channel, b.basep, b.basep - r.p AS effect
      FROM p{_MRA_ITERS} r CROSS JOIN base b
      WHERE r.scenario <> 'base' AND r.state = 'START'
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN effect > 0 THEN effect ELSE 0 END)
                  AS BIGINT) AS te
      FROM eff
    )
    SELECT e.channel,
      CAST(e.basep AS BIGINT) AS base_conv_ppm,
      CAST(e.basep - e.effect AS BIGINT) AS removal_conv_ppm,
      CAST(e.effect AS BIGINT) AS removal_effect_ppm,
      CAST(CASE WHEN t.te > 0 AND e.effect > 0
                THEN (e.effect * 1000000) // t.te ELSE 0 END
           AS BIGINT) AS attribution_ppm
    FROM eff e CROSS JOIN tot t
    """


@query(
    "markov_removal_attribution",
    oracle=_mra_oracle(),
)
def q_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov removal-effect attribution over user journeys: per
    channel, the journey-level conversion probability with the channel
    PRESENT (base) and with its node DELETED from the chain (removed
    transitions simply vanish — the lost mass flows to the NULL
    absorber, no renormalization, per the standard removal-effect
    definition), the difference as the channel's effect, and shares
    normalizing the positive effects.  A channel that mostly FEEDS
    other channels earns credit here that last-touch structurally
    denies it.

    The transition matrix is computed distributed (per-user windows +
    one aggregation — the only data-proportional stage); because the
    state space is a SCHEMA constant (≤ 6×7 entries), the matrix is
    then collected (bounded driver funnel, kmeans-fit precedent) and
    the 5 scenarios × {it} integer ppm iterations run in exact
    Python — bit-identical to the oracle's unrolled materialized
    CTEs, since both execute Σ(T·p) div 1e6 + T_CONV with the same
    floor placement.

    Reference parity: beyond-reference attribution tier."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    tmat = spark.sql(
        "WITH " + _mra_matrix_sql(SPARK) + " SELECT * FROM tmat"
    ).collect()
    # Schema-drift guard (ADVICE r7): the state space is a SCHEMA
    # constant baked into both this loop and the oracle's VALUES
    # tables.  An event_type outside it would previously KeyError
    # here while the oracle silently dropped the transitions — the
    # two sides failing DIFFERENTLY.  Fail loudly and identically.
    observed = {r.src for r in tmat} | {r.dst for r in tmat}
    unknown = observed - {"START", "CONV", "NULL", *_MRA_CHANNELS}
    if unknown:
        raise ValueError(
            f"markov_removal_attribution: event_type(s) {sorted(unknown)} "
            f"outside the schema state space {_MRA_CHANNELS} + purchase — "
            "update _MRA_CHANNELS (Spark and oracle share it) for the "
            "new schema"
        )
    t_ch: dict[str, dict[str, int]] = {}
    t_conv: dict[str, int] = {}
    for r in tmat:
        if r.dst == "CONV":
            t_conv[r.src] = r.p_ppm
        elif r.dst != "NULL":
            t_ch.setdefault(r.src, {})[r.dst] = r.p_ppm

    states = ["START", *_MRA_CHANNELS]

    def absorb(removed: str | None) -> int:
        p = {s: 0 for s in states}
        for _ in range(_MRA_ITERS):
            nxt = {}
            for s in states:
                if s == removed:
                    nxt[s] = 0
                    continue
                acc = 0
                for d, ppm in t_ch.get(s, {}).items():
                    if d == removed:
                        continue
                    acc += ppm * p[d]
                nxt[s] = acc // 1_000_000 + (
                    t_conv.get(s, 0) if s != removed else 0
                )
            p = nxt
        return p["START"]

    base = absorb(None)
    effects = {c: base - absorb(c) for c in _MRA_CHANNELS}
    tot = sum(e for e in effects.values() if e > 0)
    rows = [
        (
            c,
            base,
            base - e,
            e,
            (e * 1_000_000) // tot if (tot > 0 and e > 0) else 0,
        )
        for c, e in effects.items()
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_conv_ppm bigint, removal_conv_ppm bigint, "
        "removal_effect_ppm bigint, attribution_ppm bigint",
    )


q_markov_removal_attribution.__doc__ = (
    q_markov_removal_attribution.__doc__ or ""
).format(it=_MRA_ITERS)
