"""Streaming Page-Hinkley drift state: one monitored point per
micro-batch (the batch's exact event COUNT), folded into a
constant-size PH walk snapshot — the drift twin of the Misra-Gries
frequency state (streaming/topk.py) and the HLL/theta distinct states
(streaming/sketches.py).

Why per-BATCH points: Page-Hinkley is a sequential recursion — a
per-ROW fold inside a distributed batch would impose an order the
engine doesn't have and a driver collect the size of the batch.  The
standard production shape monitors the per-window statistic instead:
each micro-batch contributes ONE exact integer (its event count), the
state is six scalars, and the update is O(1) — this survives any
stream volume because the state never grows with the data.

The monitored recursion (δ = 0, the self-normalizing form also used
by the batch replay ``page_hinkley_drift``):

    n += 1;  S += x
    mean_e6 = (S·1e6) div n          -- the only division, floored
    m_e6   += x·1e6 − mean_e6
    mn_e6   = min(mn_e6, m_e6)
    PH_e6   = m_e6 − mn_e6           -- alarm when PH > λ
    λ_e6    = 5% of the FIRST batch's count (fixed at batch 0)

EXACTNESS CONTRACT (the MG doctrine, stated honestly): the walk is
order-dependent in the micro-batch sequence, so the parity test
asserts the streamed state equals a scalar fold over the SAME slice
sequence bit-for-bit — integers everywhere, so "bit-for-bit" is
literal.  Stream == one-pass batch is not a theorem and not asserted.

Storage, commit and replay are ``streaming/versioned.py``'s, with
``fold_volume`` as the step.  Snapshot schema: one row
(n_batches, sum_x, m_e6, m_min_e6, ph_e6, lambda_e6, n_alarms,
last_x) — all BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCHEMA = (
    "n_batches bigint, sum_x bigint, m_e6 bigint, m_min_e6 bigint,"
    " ph_e6 bigint, lambda_e6 bigint, n_alarms bigint, last_x bigint"
)


def ph_step(state: tuple | None, x: int) -> tuple:
    """ONE Page-Hinkley update with batch statistic ``x`` (exact
    integer).  ``state`` is the 8-tuple matching _SCHEMA (None for the
    first batch).  Pure-Python integer arithmetic — this IS the
    reference fold the streaming sink must match bit-for-bit."""
    if state is None:
        lam = (x * 1_000_000) // 20  # 5% of the first batch's volume
        n, s, m, mn = 1, x, 0, 0
        # first point: mean == x exactly, so the deviation is 0
        return (1, x, 0, 0, 0, lam, 0, x)
    n, s, m, mn, _ph, lam, alarms, _last = state
    n += 1
    s += x
    mean_e6 = (s * 1_000_000) // n
    m += x * 1_000_000 - mean_e6
    mn = min(mn, m)
    ph = m - mn
    alarms += 1 if ph > lam else 0
    return (n, s, m, mn, ph, lam, alarms, x)


def fold_volume(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
    """The PH ``versioned.merge`` step: the batch reduces to a single
    exact count (one distributed aggregate), the prior one-row snapshot
    loads, and ph_step runs driver-side on scalars."""
    state = None if prev is None else tuple(prev.first())
    return batch.sparkSession.createDataFrame(
        [ph_step(state, batch.count())], _SCHEMA
    )
