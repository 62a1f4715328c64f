"""Independent formula audit of the statistics tiers (VERDICT r10
item 3): recompute each statistic with PURE NUMPY/PANDAS from the raw
parquet — outside both SQL engines — and compare against the DuckDB
oracle value.

Why this exists: the driver's correctness gate proves Spark ≡ DuckDB,
but both sides replay the SAME hand-derived formula, so a formula-level
bug (the r9 AD²-normalization class) is invisible to parity.  This
harness re-derives each statistic from its textbook definition with a
completely different toolchain (pandas frame ops + numpy array math, no
SQL) and prices the engine value against it.

Conventions:
  * The shared input frames (daily revenue, $10-bucket two-segment
    histogram, monthly series…) are rebuilt in pandas replicating the
    catalog's cents-trick integerization — the FRAME construction is
    driver-parity-tested already; the STATISTIC formula downstream of
    the frame is what this audit targets.
  * Engine values are integer micro-units (floor(x*1e6) etc.).  The
    numpy replay computes the real-valued statistic and the comparison
    allows `tol` integer units (default 2) for floor-at-boundary and
    double-associativity drift; counts and order statistics compare
    exact.  Anything larger prints MISMATCH and exits non-zero.
  * scipy is not in the environment; closed-form special functions the
    statistics need (normal CDF, chi2 tail gates) are implemented here
    from standard published series — same public-knowledge basis as the
    catalog itself.

Usage:  python tools/stat_audit.py [sf_dir] [query ...]
Default sf_dir /root/testdata/sf0.001 (brute-force friendly);
no query args = run every registered audit.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

AUDITS: dict[str, "callable"] = {}


def audit(name: str):
    def deco(fn):
        AUDITS[name] = fn
        return fn

    return deco


# ---------------------------------------------------------------------------
# raw-table + shared-frame loaders (pandas, no SQL)
# ---------------------------------------------------------------------------


class Data:
    """Lazy raw-parquet loader + memoized shared frames."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self._t: dict[str, pd.DataFrame] = {}

    def table(self, name: str) -> pd.DataFrame:
        if name not in self._t:
            self._t[name] = pd.read_parquet(
                os.path.join(self.sf_dir, f"{name}.parquet")
            )
        return self._t[name]

    # --- shared frames (replicating catalog integerization) -----------

    def day(self) -> pd.DataFrame:
        """catalog_r8d._day_sql: daily revenue, cents-summed then
        //100000 → units of $1000 (integer)."""
        o = self.table("orders")
        cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
        d = pd.DataFrame(
            {
                "t": (o["o_orderdate"] - o["o_orderdate"].min()).dt.days,
                "c": cents,
            }
        )
        g = d.groupby("t", as_index=False)["c"].sum()
        g["y"] = g["c"] // 100000
        return g[["t", "y"]].sort_values("t").reset_index(drop=True)

    def two_group_hist(self) -> pd.DataFrame:
        """catalog_r9a._two_group_hist_sql: $10-bucket histograms for
        the two market segments (BUILDING vs MACHINERY — read the
        constants from the module so drift can't silently fork)."""
        from beacon_data_importer_spark import catalog_r9a as R9A

        a, b = R9A._BM_SEG_A, R9A._BM_SEG_B
        o = self.table("orders")
        c = self.table("customer")
        m = o.merge(
            c[["c_custkey", "c_mktsegment"]],
            left_on="o_custkey",
            right_on="c_custkey",
        )
        m = m[m["c_mktsegment"].isin([a, b])]
        v = (
            np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
            // 1000
        )
        h = pd.DataFrame({"v": v, "seg": m["c_mktsegment"].to_numpy()})
        g = (
            h.groupby("v")["seg"]
            .agg(
                c1=lambda s: int((s == a).sum()),
                c2=lambda s: int((s == b).sum()),
            )
            .reset_index()
            .sort_values("v")
            .reset_index(drop=True)
        )
        return g

    def expand_two_groups(self) -> tuple[np.ndarray, np.ndarray]:
        """The two segment samples as raw bucket-value arrays."""
        g = self.two_group_hist()
        x = np.repeat(g["v"].to_numpy(), g["c1"].to_numpy())
        y = np.repeat(g["v"].to_numpy(), g["c2"].to_numpy())
        return x, y


# ---------------------------------------------------------------------------
# special functions (public textbook series; no scipy in env)
# ---------------------------------------------------------------------------


def norm_cdf(z: float) -> float:
    return 0.5 * math.erfc(-z / math.sqrt(2.0))


# ---------------------------------------------------------------------------
# oracle runner
# ---------------------------------------------------------------------------


def oracle_row(sf_dir: str, name: str) -> dict:
    """Run the catalog's DuckDB oracle for `name`, return the (single)
    row as a dict — multi-row oracles return list[dict]."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    df = con.execute(sql).df()
    recs = df.to_dict("records")
    return recs[0] if len(recs) == 1 else recs


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def check(
    name: str,
    got: dict,
    want: dict,
    tol: dict | int = 2,
) -> list[str]:
    """Compare engine row `got` vs numpy row `want`.

    `want` values may be (value, tol) tuples for per-column tolerance;
    plain ints/floats use the default `tol` integer units.
    """
    errs = []
    for k, w in want.items():
        if k not in got:
            errs.append(f"{k}: missing from oracle row")
            continue
        g = got[k]
        t = tol
        if isinstance(w, tuple):
            w, t = w
        if g is None or (isinstance(g, float) and math.isnan(g)):
            errs.append(f"{k}: oracle NULL, numpy {w}")
            continue
        if isinstance(t, tuple) and t[0] == "rel":
            denom = max(abs(float(w)), 1e-12)
            if abs(float(g) - float(w)) / denom > t[1]:
                errs.append(f"{k}: oracle {g} vs numpy {w} (rel tol {t[1]})")
        elif abs(float(g) - float(w)) > t:
            errs.append(f"{k}: oracle {g} vs numpy {w} (tol {t})")
    return errs


def run(sf_dir: str, names: list[str]) -> int:
    data = Data(sf_dir)
    failures = []
    for n in names:
        if n not in AUDITS:
            print(f"SKIP {n}: no audit registered")
            continue
        try:
            errs = AUDITS[n](data, oracle_row(sf_dir, n))
        except Exception as e:  # pragma: no cover - audit harness
            errs = [f"audit raised {type(e).__name__}: {e}"]
        if errs:
            failures.append(n)
            print(f"MISMATCH {n}:")
            for e in errs:
                print(f"  {e}")
        else:
            print(f"OK {n}")
    print(
        f"\n{len(names) - len(failures)}/{len(names)} audits match"
        + (f"; FAILURES: {failures}" if failures else "")
    )
    return 1 if failures else 0


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    names = args or sorted(AUDITS)
    sys.exit(run(sf_dir, names))


# ===========================================================================
# audits — tier r10a: robust location/scale
# ===========================================================================


@audit("qn_scale_estimator")
def a_qn(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.int64)
    n = len(y)
    d = np.abs(y[:, None] - y[None, :])[np.triu_indices(n, 1)]
    d.sort()
    h = n // 2 + 1
    k = h * (h - 1) // 2
    qn_raw = int(d[k - 1])
    qn_scaled = (2_219_140 * qn_raw) // 1_000_000
    return check(
        "qn",
        row,
        {
            "n_days": (n, 0),
            "k_order": (k, 0),
            "qn_raw": (qn_raw, 0),
            "qn_scaled": (qn_scaled, 0),
        },
    )


@audit("sn_scale_estimator")
def a_sn(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.float64)
    n = len(y)
    # Sn = c * lowmed_i (himed_{j != i} |y_i - y_j|)
    inner = []
    for i in range(n):
        d = np.abs(y[i] - np.delete(y, i))
        d.sort()
        # himed: order statistic at ceil((n-1+1)/2)= (n)//2 th of n-1
        # values (1-indexed high median = floor((n-1)/2)+1)
        inner.append(d[(n - 1) // 2])
    inner = np.sort(np.array(inner))
    lowmed = inner[(n + 1) // 2 - 1]
    sn_scaled = (1_192_600 * int(lowmed)) // 1_000_000
    return check(
        "sn",
        row,
        {"n_days": (n, 0), "sn_raw": (int(lowmed), 0), "sn_scaled": (sn_scaled, 0)},
    )




def _lowmed(a: np.ndarray):
    """k = (n+1)//2-th order statistic (the catalogs' median rank)."""
    a = np.sort(np.asarray(a))
    return a[(len(a) + 1) // 2 - 1]


@audit("biweight_midvariance")
def a_bwmv(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.float64)
    n = len(y)
    m = _lowmed(y)
    a = y - m
    mad = _lowmed(np.abs(a))
    u2 = (a * a) / (81.0 * mad * mad)
    keep = u2 < 1.0
    w = 1.0 - u2[keep]
    num = float(np.sum(a[keep] ** 2 * w**4))
    den = float(np.sum(w * (1.0 - 5.0 * u2[keep])))
    bwmv = n * num / (den * den)
    svar = float(np.var(y, ddof=1))
    return check(
        "bwmv",
        row,
        {
            "n_days": (n, 0),
            "bwmv": (bwmv, ("rel", 1e-3)),
            # engine emits the floored integer variance: ±1 unit
            "sample_var": (svar, 1),
        },
    )


@audit("trimean_bowley_skew")
def a_trimean(data: Data, row) -> list[str]:
    y = np.sort(data.day()["y"].to_numpy().astype(np.int64))
    n = len(y)
    mpos = (n + 1) // 2
    hpos = (mpos + 1) // 2
    q1, q2, q3 = int(y[hpos - 1]), int(y[mpos - 1]), int(y[n - hpos])
    trimean_e2 = ((q1 + 2 * q2 + q3) * 100) // 4
    bowley = (q3 + q1 - 2 * q2) * 1e6 / (q3 - q1)
    return check(
        "trimean",
        row,
        {
            "n_days": (n, 0),
            "q1": (q1, 0),
            "q2": (q2, 0),
            "q3": (q3, 0),
            "trimean_e2": (trimean_e2, 0),
            "bowley_skew_e6": (bowley, 2),
        },
    )


@audit("medcouple_skew_lite")
def a_medcouple(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.float64)
    m = float(_lowmed(y))
    lo = y[y < m]
    hi = y[y > m]
    a, b = np.meshgrid(lo, hi)
    h = ((b - m) - (m - a)) / (b - a)
    kn = h.size
    mc = _lowmed(h.ravel())
    return check(
        "medcouple",
        row,
        {
            "n_kernel_pairs": (kn, 0),
            "medcouple_e6": (mc * 1e6, 2),
            "right_skewed": (1 if mc > 0 else 0, 0),
        },
    )


@audit("hampel_outlier_flags")
def a_hampel(data: Data, row_list) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.int64)
    errs = []
    got = {int(r["day_t"]): r for r in row_list}
    n_flag_engine = sum(bool(r["is_outlier"]) for r in row_list)
    n_flag_np = 0
    if len(row_list) != len(day):
        errs.append(f"row count {len(row_list)} vs {len(day)} days")
    for i in range(len(day)):
        w = y[(t >= t[i] - 7) & (t <= t[i] + 7)]
        med = int(_lowmed(w))
        mad = int(_lowmed(np.abs(w - med)))
        flag = abs(int(y[i]) - med) * 10000 > 44478 * mad
        n_flag_np += flag
        g = got.get(int(t[i]))
        if g is None:
            errs.append(f"day {t[i]} missing from engine output")
            continue
        if int(g["med_y"]) != med or int(g["mad_y"]) != mad or bool(
            g["is_outlier"]
        ) != flag:
            errs.append(
                f"day {t[i]}: engine (med {g['med_y']}, mad {g['mad_y']}, "
                f"flag {g['is_outlier']}) vs numpy ({med}, {mad}, {flag})"
            )
    if not errs and n_flag_engine != n_flag_np:
        errs.append(f"flag count {n_flag_engine} vs {n_flag_np}")
    return errs


@audit("repeated_median_slope")
def a_siegel(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy().astype(np.float64)
    y = day["y"].to_numpy().astype(np.float64)
    n = len(y)
    meds = []
    for i in range(n):
        dt = t - t[i]
        mask = dt != 0
        meds.append(_lowmed((y[mask] - y[i]) / dt[mask]))
    slope = float(_lowmed(np.array(meds)))
    # intercept from the FLOORED e6 slope (the engine residual uses
    # the integerized slope; replay that one integer step)
    slope_e6 = int(row["slope_e6"])
    intercept = float(_lowmed(y * 1e6 - slope_e6 * t)) / 1e6
    return check(
        "siegel",
        row,
        {
            "n_days": (n, 0),
            "slope_e6": (slope * 1e6, 2),
            "intercept": (intercept, 1.5),
        },
    )


@audit("yuen_trimmed_t")
def a_yuen(data: Data, row) -> list[str]:
    x, y = data.expand_two_groups()

    def side(v: np.ndarray):
        v = np.sort(v.astype(np.float64))
        n = len(v)
        g = n // 5
        h = n - 2 * g
        kept = v[g : n - g]
        ts = kept.sum()
        lo, hi = v[g], v[n - g - 1]
        ws = ts + g * (lo + hi)
        wss = (kept**2).sum() + g * (lo * lo + hi * hi)
        d = (wss - ws * ws / n) / (h * (h - 1))
        return n, g, h, ts, d

    n1, g1, h1, ts1, d1 = side(x)
    n2, g2, h2, ts2, d2 = side(y)
    tstat = (ts1 / h1 - ts2 / h2) / math.sqrt(d1 + d2)
    return check(
        "yuen",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "h1": (h1, 0),
            "h2": (h2, 0),
            "trim_mean1_e6": (ts1 / h1 * 1e6, 2),
            "trim_mean2_e6": (ts2 / h2 * 1e6, 2),
            "t_e6": (tstat * 1e6, 2),
            "reject_equal_trimmed_means": (
                1 if abs(tstat) * 1e6 > 1_959_963 else 0,
                0,
            ),
        },
    )


# ===========================================================================
# audits — tier r10b: time-series randomness / records / forecasts
# ===========================================================================


def _tdiv(a: float, b: float) -> int:
    """Truncating integer division (SQL div/// semantics, toward zero)."""
    return int(a / b) if b else 0


@audit("von_neumann_ratio")
def a_vn(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.float64)
    n = len(y)
    eta = float(np.sum(np.diff(y) ** 2) / np.sum((y - y.mean()) ** 2))
    z = (eta - 2.0) * math.sqrt(n) / 2.0
    return check(
        "vn",
        row,
        {
            "n": (n, 0),
            "vn_ratio_e6": (eta * 1e6, 2),
            "z_e6": (z * 1e6, 30),
            "reject_randomness": (1 if abs(z) * 1e6 > 1_959_963 else 0, 0),
        },
    )


@audit("bartels_rank_test")
def a_bartels(data: Data, row) -> list[str]:
    d = data.day().copy()
    d["r"] = d.sort_values(["y", "t"]).reset_index().reset_index().set_index(
        "index"
    )["level_0"] + 1
    r = d.sort_values("t")["r"].to_numpy().astype(np.float64)
    n = len(r)
    rvn = float(np.sum(np.diff(r) ** 2) * 12.0 / (n * (n * n - 1.0)))
    z = (rvn - 2.0) * math.sqrt(n) / 2.0
    return check(
        "bartels",
        row,
        {"n": (n, 0), "rvn_e6": (rvn * 1e6, 2), "z_e6": (z * 1e6, 30)},
    )


@audit("foster_stuart_records")
def a_fs(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy()
    n = len(y)
    u = np.zeros(n, dtype=int)
    lo = np.zeros(n, dtype=int)
    for i in range(1, n):
        u[i] = 1 if y[i] > y[:i].max() else 0
        lo[i] = 1 if y[i] < y[:i].min() else 0
    d_stat = int(u.sum() - lo.sum())
    s_stat = int(u.sum() + lo.sum())
    h = sum(1.0 / i for i in range(2, n + 1))
    z = d_stat / math.sqrt(2.0 * h)
    return check(
        "fs",
        row,
        {
            "n": (n, 0),
            "n_upper": (int(u.sum()), 0),
            "n_lower": (int(lo.sum()), 0),
            "d_stat": (d_stat, 0),
            "s_stat": (s_stat, 0),
            "z_e6": (z * 1e6, ("rel", 1e-3)),
            "reject_no_trend": (1 if abs(z) * 1e6 > 1_959_963 else 0, 0),
        },
    )


@audit("mosum_changepoint")
def a_mosum(data: Data, row) -> list[str]:
    G = 60
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.float64)
    n = len(y)
    # rolling sums by ROW (the SQL windows are ROWS, not calendar RANGE)
    best_m, best_t = -1, None
    cs = np.concatenate([[0.0], np.cumsum(y)])
    for i in range(n):
        if i - (G - 1) < 0 or i + G >= n:
            continue
        lsum = cs[i + 1] - cs[i + 1 - G]
        rsum = cs[i + 1 + G] - cs[i + 1]
        m = abs(rsum - lsum)
        if m > best_m:
            best_m, best_t = m, t[i]
    sd = float(np.std(y, ddof=1))
    norm = best_m / (math.sqrt(2 * G) * sd)
    return check(
        "mosum",
        row,
        {
            "break_t": (int(best_t), 0),
            "mosum_raw": (int(best_m), 0),
            "mosum_norm_e6": (norm * 1e6, 2),
            "break_detected": (1 if norm * 1e6 > 3_000_000 else 0, 0),
        },
    )


@audit("runs_up_down_test")
def a_rud(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy()
    dy = np.diff(y)
    sg = np.sign(dy[dy != 0])
    n_eff = len(sg) + 1
    runs = 1 + int(np.sum(sg[1:] != sg[:-1]))
    z = (runs - (2.0 * n_eff - 1) / 3) / math.sqrt((16.0 * n_eff - 29) / 90)
    return check(
        "rud",
        row,
        {
            "n_eff": (n_eff, 0),
            "runs": (runs, 0),
            "z_e6": (z * 1e6, 2),
            "reject_randomness": (1 if abs(z) * 1e6 > 1_959_963 else 0, 0),
        },
    )


def _months(data: Data) -> np.ndarray:
    """_HOLT_BASE_SQL: monthly revenue cents, time order."""
    o = data.table("orders")
    ym = (
        o["o_orderdate"].dt.year.to_numpy() * 100
        + o["o_orderdate"].dt.month.to_numpy()
    )
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"ym": ym, "c": cents}).groupby("ym")["c"].sum()
    return g.sort_index().to_numpy().astype(np.float64)


@audit("holt_damped_forecast")
def a_damp(data: Data, rows) -> list[str]:
    y = _months(data)
    n = len(y)
    al, be, phi = 0.3, 0.1, 0.9
    l, b = y[0], y[1] - y[0]
    pred = {1: None}
    for i in range(1, n):
        pred[i + 1] = l + phi * b
        l_new = al * y[i] + (1 - al) * (l + phi * b)
        b = be * (l_new - l) + (1 - be) * phi * b
        l = l_new
    ps = [phi, phi + phi**2, phi + phi**2 + phi**3]
    for h in (1, 2, 3):
        pred[n + h] = l + ps[h - 1] * b
    errs = []
    if len(rows) != n + 3:
        errs.append(f"{len(rows)} rows vs {n + 3}")
    for r in rows:
        t = int(r["t"])
        want = pred.get(t)
        got = r["pred_c"]
        if want is None:
            if got is not None and not (
                isinstance(got, float) and math.isnan(got)
            ):
                errs.append(f"t={t}: expected NULL pred, got {got}")
            continue
        if abs(float(got) - want) > max(200.0, 1e-5 * abs(want)):
            errs.append(f"t={t}: pred {got} vs numpy {want:.1f}")
    return errs


@audit("theta_forecast")
def a_theta(data: Data, rows) -> list[str]:
    y = _months(data)
    n = len(y)
    t = np.arange(1, n + 1, dtype=np.float64)
    # OLS of y*100 on t (the e2 cents device)
    b = float(
        (n * np.sum(t * y * 100) - t.sum() * np.sum(y * 100))
        / (n * np.sum(t * t) - t.sum() ** 2)
    )
    a = float((np.sum(y * 100) - b * t.sum()) / n)
    z = 2 * y * 100 - (a + b * t)
    s = z[0]
    pred = {1: None}
    for i in range(1, n):
        pred[i + 1] = (s + (a + b * (i + 1))) / 200.0
        s = (z[i] + s) / 2.0
    for h in (1, 2, 3):
        pred[n + h] = (s + (a + b * (n + h))) / 200.0
    errs = []
    if len(rows) != n + 3:
        errs.append(f"{len(rows)} rows vs {n + 3}")
    for r in rows:
        tt = int(r["t"])
        want = pred.get(tt)
        got = r["pred_c"]
        if want is None:
            if got is not None and not (
                isinstance(got, float) and math.isnan(got)
            ):
                errs.append(f"t={tt}: expected NULL pred, got {got}")
            continue
        if abs(float(got) - want) > max(200.0, 1e-5 * abs(want)):
            errs.append(f"t={tt}: pred {got} vs numpy {want:.1f}")
    return errs


@audit("seasonal_strength_audit")
def a_sstrength(data: Data, row) -> list[str]:
    o = data.table("orders")
    ym = (
        o["o_orderdate"].dt.year.to_numpy() * 100
        + o["o_orderdate"].dt.month.to_numpy()
    )
    mo = o["o_orderdate"].dt.month.to_numpy()
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    m = (
        pd.DataFrame({"ym": ym, "mo": mo, "c": cents})
        .groupby(["ym", "mo"], as_index=False)["c"]
        .sum()
        .sort_values("ym")
        .reset_index(drop=True)
    )
    rev = m["c"].to_numpy()
    nrow = len(rev)
    trend = np.full(nrow, np.nan)
    for i in range(6, nrow - 6):
        trend[i] = _tdiv(
            rev[i - 6] + 2 * rev[i - 6 + 1 : i + 6].sum() + rev[i + 6], 24
        )
    det = rev - trend
    seas = {}
    for mo_v in range(1, 13):
        mask = (m["mo"].to_numpy() == mo_v) & ~np.isnan(trend)
        if mask.sum():
            seas[mo_v] = _tdiv(det[mask].sum(), mask.sum())
    seasonal = np.array([seas.get(v, np.nan) for v in m["mo"]])
    ok = ~np.isnan(trend)
    r = rev[ok] - trend[ok] - seasonal[ok]
    sr = rev[ok] - trend[ok]
    tr = rev[ok] - seasonal[ok]
    fs = max(0.0, 1.0 - np.var(r, ddof=1) / np.var(sr, ddof=1))
    ft = max(0.0, 1.0 - np.var(r, ddof=1) / np.var(tr, ddof=1))
    return check(
        "sstrength",
        row,
        {
            "n": (int(ok.sum()), 0),
            "seasonal_strength_e6": (fs * 1e6, 3),
            "trend_strength_e6": (ft * 1e6, 3),
        },
    )


# ===========================================================================
# audits — tier r10c: categorical association / multiple testing
# ===========================================================================


def _priority_pairs(data: Data) -> pd.DataFrame:
    """(first-1997-priority, first-1998-priority) per customer."""
    o = data.table("orders").copy()
    o["yr"] = o["o_orderdate"].dt.year
    o = o[o["yr"].isin([1997, 1998])]
    o = o.sort_values(["o_orderdate", "o_orderkey"])
    first = o.groupby(["o_custkey", "yr"], as_index=False).first()
    p = first.pivot(index="o_custkey", columns="yr", values="o_orderpriority")
    p = p.dropna()
    return pd.DataFrame({"p97": p[1997].to_numpy(), "p98": p[1998].to_numpy()})


@audit("bowker_symmetry_test")
def a_bowker(data: Data, row) -> list[str]:
    pp = _priority_pairs(data)
    cells = pp.groupby(["p97", "p98"]).size()
    prios = sorted(set(pp["p97"]) | set(pp["p98"]))
    chi2, df = 0.0, 0
    for ii, pi in enumerate(prios):
        for pj in prios[ii + 1 :]:
            nij = int(cells.get((pi, pj), 0))
            nji = int(cells.get((pj, pi), 0))
            if nij + nji:
                df += 1
                chi2 += (nij - nji) ** 2 / (nij + nji)
    return check(
        "bowker",
        row,
        {
            "df": (df, 0),
            "chi2_e6": (chi2 * 1e6, 12),
            "reject_symmetry": (
                1 if chi2 * 1e6 > 18_307_038 and df == 10 else 0,
                0,
            ),
        },
    )


@audit("stuart_maxwell_test")
def a_stuart_maxwell(data: Data, row) -> list[str]:
    pp = _priority_pairs(data)

    def cls(p):
        return np.where(
            np.isin(p, ["1-URGENT", "2-HIGH"]),
            1,
            np.where(p == "3-MEDIUM", 2, 3),
        )

    i = cls(pp["p97"].to_numpy())
    j = cls(pp["p98"].to_numpy())
    n = np.zeros((4, 4), dtype=np.int64)
    for a_, b_ in zip(i, j):
        n[a_, b_] += 1
    r = n.sum(axis=1)
    c = n.sum(axis=0)
    d = np.array([r[1] - c[1], r[2] - c[2]], dtype=np.float64)
    # full covariance + REAL matrix inverse (vs the SQL Cramer form)
    S = np.array(
        [
            [r[1] + c[1] - 2 * n[1, 1], -(n[1, 2] + n[2, 1])],
            [-(n[1, 2] + n[2, 1]), r[2] + c[2] - 2 * n[2, 2]],
        ],
        dtype=np.float64,
    )
    chi2 = float(d @ np.linalg.inv(S) @ d)
    return check(
        "sm",
        row,
        {
            "n_pairs": (int(n.sum()), 0),
            "d1": (int(d[0]), 0),
            "d2": (int(d[1]), 0),
            "chi2_e6": (chi2 * 1e6, 2),
            "reject_marginal_homogeneity": (
                1 if chi2 * 1e6 > 5_991_464 else 0,
                0,
            ),
        },
    )


def _seg_region_cells(data: Data) -> pd.DataFrame:
    c = data.table("customer")
    n = data.table("nation")
    r = data.table("region")
    m = c.merge(n, left_on="c_nationkey", right_on="n_nationkey").merge(
        r, left_on="n_regionkey", right_on="r_regionkey"
    )
    return (
        m.groupby(["r_name", "c_mktsegment"])
        .size()
        .rename("n")
        .reset_index()
        .rename(columns={"r_name": "x", "c_mktsegment": "y"})
    )


@audit("lambda_goodman_kruskal")
def a_lambda(data: Data, row) -> list[str]:
    cells = _seg_region_cells(data)
    N = cells["n"].sum()
    sum_max_by_x = cells.groupby("x")["n"].max().sum()
    sum_max_by_y = cells.groupby("y")["n"].max().sum()
    max_marg_y = cells.groupby("y")["n"].sum().max()
    max_marg_x = cells.groupby("x")["n"].sum().max()
    lyx = (sum_max_by_x - max_marg_y) / (N - max_marg_y)
    lxy = (sum_max_by_y - max_marg_x) / (N - max_marg_x)
    return check(
        "lambda",
        row,
        {
            "n_rows": (int(N), 0),
            "lambda_y_given_x_e6": (lyx * 1e6, 2),
            "lambda_x_given_y_e6": (lxy * 1e6, 2),
        },
    )


@audit("goodman_kruskal_tau")
def a_gk_tau(data: Data, row) -> list[str]:
    cells = _seg_region_cells(data)
    N = float(cells["n"].sum())
    cond = (
        cells.groupby("x")
        .apply(lambda g: (g["n"] ** 2).sum() / g["n"].sum(), include_groups=False)
        .sum()
    )
    syy = float((cells.groupby("y")["n"].sum() ** 2).sum())
    tau = (N * cond - syy) / (N * N - syy)
    return check(
        "tau",
        row,
        {"n_rows": (int(N), 0), "tau_y_given_x_e6": (tau * 1e6, 8)},
    )


@audit("theil_uncertainty_coeff")
def a_theil_u(data: Data, row) -> list[str]:
    cells = _seg_region_cells(data)
    N = float(cells["n"].sum())
    nx = cells.groupby("x")["n"].sum()
    ny = cells.groupby("y")["n"].sum()
    mi = 0.0
    for _, rr in cells.iterrows():
        p = rr["n"] / N
        mi += p * math.log2(rr["n"] * N / (nx[rr["x"]] * ny[rr["y"]]))
    hy = float(sum((v / N) * math.log2(N / v) for v in ny))
    return check(
        "theil_u",
        row,
        {
            "n_rows": (int(N), 0),
            "mi_microbits": (mi * 1e6, 30),
            "hy_microbits": (hy * 1e6, 30),
            "u_y_given_x_e6": (mi / hy * 1e6, 40),
        },
    )


@audit("yules_q_y")
def a_yule_qy(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    ret = (li["l_returnflag"] == "R").to_numpy()
    big = (li["l_quantity"] > 25).to_numpy()
    a = int((ret & big).sum())
    b = int((ret & ~big).sum())
    c = int((~ret & big).sum())
    d = int((~ret & ~big).sum())
    ad, bc = float(a) * d, float(b) * c
    q = (ad - bc) / (ad + bc)
    yy = (math.sqrt(ad) - math.sqrt(bc)) / (math.sqrt(ad) + math.sqrt(bc))
    return check(
        "yule",
        row,
        {
            "a": (a, 0),
            "b": (b, 0),
            "c": (c, 0),
            "d": (d, 0),
            "yule_q_e6": (q * 1e6, 2),
            "yule_y_e6": (yy * 1e6, 2),
            "odds_ratio_e6": (ad / bc * 1e6, 2),
        },
    )


@audit("newcombe_diff_ci")
def a_newcombe(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    z2 = 3.841458

    def wilson(seg):
        s = m[m["c_mktsegment"] == seg]
        n = len(s)
        a = int((s["o_orderpriority"] == "1-URGENT").sum())
        p = a / n * 1e6
        center = (a + z2 / 2) / (n + z2) * 1e6
        half = (
            math.sqrt(z2 * (a * (n - a) / n + z2 / 4)) / (n + z2) * 1e6
        )
        return p, center - half, center + half

    p1, l1, u1 = wilson("BUILDING")
    p2, l2, u2 = wilson("MACHINERY")
    lo = p1 - p2 - math.sqrt((p1 - l1) ** 2 + (u2 - p2) ** 2)
    hi = p1 - p2 + math.sqrt((u1 - p1) ** 2 + (p2 - l2) ** 2)
    return check(
        "newcombe",
        row,
        {
            "p1_ppm": (p1, 1),
            "p2_ppm": (p2, 1),
            "diff_ppm": (p1 - p2, 2),
            "newcombe_lo_ppm": (lo, 4),
            "newcombe_hi_ppm": (hi, 4),
            "excludes_zero": (1 if lo > 0 or hi < 0 else 0, 0),
        },
    )


@audit("benjamini_yekutieli_audit")
def a_by(data: Data, rows) -> list[str]:
    from statistics import NormalDist

    o = data.table("orders")
    li = data.table("lineitem")
    c = data.table("customer")
    ret = (
        li.assign(ret=(li["l_returnflag"] == "R").astype(int))
        .groupby("l_orderkey")["ret"]
        .max()
    )
    po = o[["o_orderkey", "o_custkey"]].copy()
    # inner join in the SQL: orders without lineitems drop out
    po = po[po["o_orderkey"].isin(ret.index)]
    po["ret"] = po["o_orderkey"].map(ret).astype(int)
    po = po.merge(
        c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    po["arm"] = po["c_custkey"] % 2
    stats = []
    for nk, g in po.groupby("c_nationkey"):
        ga, gb = g[g["arm"] == 0], g[g["arm"] == 1]
        na, nb = len(ga), len(gb)
        ca, cb = int(ga["ret"].sum()), int(gb["ret"].sum())
        if na and nb and 0 < ca + cb < na + nb:
            pool = (ca + cb) / (na + nb)
            z = abs(
                (cb / nb - ca / na)
                / math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
            )
            stats.append((nk, z))
    stats.sort(key=lambda s: (-s[1], s[0]))
    mm = len(stats)
    cm = sum(1.0 / j for j in range(1, mm + 1))
    nd = NormalDist()
    thr = [
        nd.inv_cdf(1.0 - 0.10 * i / (2.0 * mm * cm)) for i in range(1, mm + 1)
    ]
    kmax = 0
    for i, (nk, z) in enumerate(stats, 1):
        # the engine compares FLOORED e6 z against floored e6 threshold
        if math.floor(z * 1e6) >= math.floor(thr[i - 1] * 1e6):
            kmax = i
    rejected = {nk: (1 if i <= kmax else 0) for i, (nk, z) in enumerate(stats, 1)}
    zmap = {nk: z for nk, z in stats}
    errs = []
    if len(rows) != mm:
        errs.append(f"{len(rows)} rows vs {mm} tests")
    for r in rows:
        nk = int(r["nationkey"])
        if abs(float(r["z_abs_e6"]) - zmap[nk] * 1e6) > 2:
            errs.append(f"nation {nk}: z {r['z_abs_e6']} vs {zmap[nk]*1e6:.1f}")
        if int(r["rejected"]) != rejected[nk]:
            errs.append(
                f"nation {nk}: rejected {r['rejected']} vs {rejected[nk]}"
            )
    return errs


# ===========================================================================
# audits — tier r10g: dependence second wave (this round's driver slots)
# ===========================================================================


@audit("hoeffding_d")
def a_hoeffding(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy()
    n = len(y)
    order_t = np.argsort(t)
    # ranks: R by t, S by (y, t) lexicographic
    R = np.empty(n, dtype=np.int64)
    R[np.argsort(t, kind="stable")] = np.arange(1, n + 1)
    S = np.empty(n, dtype=np.int64)
    S[np.lexsort((t, y))] = np.arange(1, n + 1)
    # c_i = #{j: t_j < t_i and (y_j,t_j) < (y_i,t_i) lexicographically}
    lt_t = t[None, :] < t[:, None]
    lt_y = (y[None, :] < y[:, None]) | (
        (y[None, :] == y[:, None]) & (t[None, :] < t[:, None])
    )
    c = (lt_t & lt_y).sum(axis=1).astype(np.float64)
    Rf, Sf = R.astype(np.float64), S.astype(np.float64)
    d1 = float(np.sum(c * (c - 1)))
    d2 = float(np.sum((Rf - 1) * (Rf - 2) * (Sf - 1) * (Sf - 2)))
    d3 = float(np.sum((Rf - 2) * (Sf - 2) * c))
    D = (
        30.0
        * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)
        / (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
    )
    return check(
        "hoeffding",
        row,
        {
            "n_days": (n, 0),
            "d1": (d1, 0),
            "d2": (d2, 0),
            "d3": (d3, 0),
            "hoeffding_d_e6": (D * 1e6, 2),
        },
    )


@audit("distance_correlation_lite")
def a_dcor(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy().astype(np.float64)
    y = day["y"].to_numpy().astype(np.float64)
    n = len(y)
    A = np.abs(t[:, None] - t[None, :])
    B = np.abs(y[:, None] - y[None, :])

    def center(M):
        return M - M.mean(axis=0) - M.mean(axis=1)[:, None] + M.mean()

    Ac, Bc = center(A), center(B)
    dcov2 = float((Ac * Bc).mean())
    dvarx = float((Ac * Ac).mean())
    dvary = float((Bc * Bc).mean())
    dcor4 = (dcov2 / dvarx) * (dcov2 / dvary)
    return check(
        "dcor",
        row,
        {
            "n_days": (n, 0),
            "dcov2_e6": (dcov2 * 1e6, 2),
            "dcor4_e6": (dcor4 * 1e6, 2),
        },
    )


@audit("blomqvist_beta")
def a_blomqvist(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy()
    mt = int(_lowmed(t))
    # low median of y by (y, t) order = plain value low-median
    my = int(_lowmed(y))
    conc = int(np.sum(((t > mt) & (y > my)) | ((t < mt) & (y < my))))
    disc = int(np.sum(((t > mt) & (y < my)) | ((t < mt) & (y > my))))
    beta = (conc - disc) / (conc + disc)
    return check(
        "blomqvist",
        row,
        {
            "n_days": (len(y), 0),
            "concordant": (conc, 0),
            "discordant": (disc, 0),
            "beta_e6": (beta * 1e6, 2),
        },
    )


@audit("spearman_footrule")
def a_footrule(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy()
    n = len(y)
    R = np.empty(n, dtype=np.int64)
    R[np.argsort(t, kind="stable")] = np.arange(1, n + 1)
    S = np.empty(n, dtype=np.int64)
    S[np.lexsort((t, y))] = np.arange(1, n + 1)
    f = int(np.abs(R - S).sum())
    sim = (n * n - 1 - 3 * f) / (n * n - 1)
    return check(
        "footrule",
        row,
        {
            "n_days": (n, 0),
            "footrule_distance": (f, 0),
            "footrule_sim_e6": (sim * 1e6, 2),
        },
    )


@audit("mann_kendall_test")
def a_mk(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy()
    n = len(y)
    sgn = np.sign(y[None, :] - y[:, None])
    s = int(np.triu(sgn, 1).sum())
    _, counts = np.unique(y, return_counts=True)
    tsum = int(sum(c * (c - 1) * (2 * c + 5) for c in counts if c > 1))
    var18 = n * (n - 1) * (2 * n + 5) - tsum
    var = var18 / 18.0
    if s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return check(
        "mk",
        row,
        {
            "n_days": (n, 0),
            "mk_s": (s, 0),
            "var18": (var18, 0),
            "z_e6": (z * 1e6, 2),
            "reject_no_trend": (1 if abs(z) * 1e6 > 1_959_963 else 0, 0),
        },
    )


@audit("cucconi_test")
def a_cucconi(data: Data, row) -> list[str]:
    x, ysamp = data.expand_two_groups()
    n1, n2 = len(x), len(ysamp)
    N = n1 + n2
    comb = pd.Series(np.concatenate([x, ysamp]))
    ranks = comb.rank(method="average").to_numpy()
    S = ranks[n1:]
    sum_s2 = float(np.sum(S**2))
    sum_contra2 = float(np.sum((N + 1 - S) ** 2))
    denom = math.sqrt(n1 * n2 * (N + 1) * (2 * N + 1) * (8 * N + 11) / 5.0)
    u = (6.0 * sum_s2 - n2 * (N + 1) * (2 * N + 1)) / denom
    v = (6.0 * sum_contra2 - n2 * (N + 1) * (2 * N + 1)) / denom
    rho = 2.0 * (N * N - 4.0) / ((2.0 * N + 1.0) * (8.0 * N + 11.0)) - 1.0
    cstat = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    return check(
        "cucconi",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "u_e6": (u * 1e6, 2),
            "v_e6": (v * 1e6, 2),
            "rho_e6": (rho * 1e6, 2),
            "c_e6": (cstat * 1e6, 2),
            "reject_same_distribution": (
                1 if cstat * 1e6 > int(math.log(20) * 1e6) else 0,
                0,
            ),
        },
    )


@audit("cronbach_alpha")
def a_cronbach(data: Data, row) -> list[str]:
    o = data.table("orders")
    dd = (o["o_orderdate"] - o["o_orderdate"].min()).dt.days.to_numpy()
    span = int(dd.max()) + 1
    item = (3 * dd) // span
    xv = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    f = pd.DataFrame({"ck": o["o_custkey"], "item": item, "x": xv})
    piv = f.pivot_table(
        index="ck", columns="item", values="x", aggfunc="sum", fill_value=0
    )
    for k in (0, 1, 2):
        if k not in piv.columns:
            piv[k] = 0
    X = piv[[0, 1, 2]].to_numpy().astype(np.float64)
    item_vars = X.var(axis=0, ddof=1).sum()
    tot_var = X.sum(axis=1).var(ddof=1)
    share = item_vars / tot_var
    alpha = 1.5 * (1.0 - share)
    return check(
        "cronbach",
        row,
        {
            "n_customers": (X.shape[0], 0),
            "item_var_share_e6": (share * 1e6, 2),
            "alpha_e6": (alpha * 1e6, 2),
        },
    )


@audit("stuart_tau_c")
def a_tauc(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    cells = (
        li.groupby(["l_discount", "l_quantity"]).size().rename("c").reset_index()
    )
    d = cells["l_discount"].to_numpy()
    q = cells["l_quantity"].to_numpy()
    c = cells["c"].to_numpy().astype(np.float64)
    gt_d = d[None, :] > d[:, None]
    P = float((c[:, None] * c[None, :])[gt_d & (q[None, :] > q[:, None])].sum())
    Q = float((c[:, None] * c[None, :])[gt_d & (q[None, :] < q[:, None])].sum())
    m = min(len(np.unique(d)), len(np.unique(q)))
    nt = float(c.sum())
    tauc = 2 * m * (P - Q) / (nt * nt * (m - 1))
    return check(
        "tauc",
        row,
        {
            "concordant": (P, 0),
            "discordant": (Q, 0),
            "m_min_dim": (m, 0),
            "n_rows": (nt, 0),
            "tau_c_ppm": (tauc * 1e6, 2),
        },
    )


# ===========================================================================
# audits — tier r10h: inequality toolbox + sketches
# ===========================================================================


def _cust_values(data: Data) -> np.ndarray:
    """Per-customer $1000-bucket revenue (LEFT JOIN: no orders -> 0)."""
    o = data.table("orders")
    c = data.table("customer")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    per = pd.Series(cents).groupby(o["o_custkey"].to_numpy()).sum()
    v = c["c_custkey"].map(per).fillna(0).astype(np.int64) // 100000
    return v.to_numpy()


@audit("hoover_index")
def a_hoover(data: Data, row) -> list[str]:
    v = _cust_values(data).astype(np.float64)
    n, s = len(v), v.sum()
    hoover = np.abs(v - v.mean()).sum() / (2 * s)
    return check(
        "hoover",
        row,
        {
            "n_customers": (n, 0),
            "total_rev_k": (s, 0),
            "hoover_e6": (hoover * 1e6, 2),
        },
    )


@audit("gini_mean_difference")
def a_gmd(data: Data, row) -> list[str]:
    v = _cust_values(data).astype(np.float64)
    n, s = len(v), v.sum()
    # brute pair mass via sorted-prefix identity (O(n log n), exact)
    vs = np.sort(v)
    pref = np.concatenate([[0.0], np.cumsum(vs)])
    i = np.arange(n, dtype=np.float64)
    pm = float(np.sum(vs * i - pref[:-1]))  # sum_{i<j} (v_j - v_i)
    gmd = 2 * pm / (n * (n - 1))
    gini = pm / (n * s)
    return check(
        "gmd",
        row,
        {
            "n_customers": (n, 0),
            "gmd_e6": (gmd * 1e6, 2),
            "gini_ppm": (gini * 1e6, 2),
            "gmd_over_2mu_e6": (pm / ((n - 1) * s) * 1e6, 2),
        },
    )


@audit("atkinson_index")
def a_atkinson(data: Data, row) -> list[str]:
    v = _cust_values(data).astype(np.float64)
    vp = v[v > 0]
    geo = math.exp(np.log(vp).mean())
    atk = 1.0 - geo / vp.mean()
    return check(
        "atkinson",
        row,
        {
            "n_positive": (len(vp), 0),
            "geomean_e6": (geo * 1e6, ("rel", 1e-5)),
            "atkinson_e6": (atk * 1e6, 10),
        },
    )


@audit("theil_t_decomposition")
def a_theil_t(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    per = pd.Series(cents).groupby(o["o_custkey"].to_numpy()).sum()
    cust = pd.DataFrame(
        {
            "v": (c["c_custkey"].map(per).fillna(0).astype(np.int64) // 100000),
            "nk": c["c_nationkey"],
        }
    )
    v = cust["v"].to_numpy().astype(np.float64)
    n, s = len(v), v.sum()
    vp = v[v > 0]
    t_total = float(np.sum(vp * np.log(vp)) / s - math.log(s / n))
    tb = 0.0
    for nk, g in cust.groupby("nk"):
        sg = float(g["v"].sum())
        ng = len(g)
        if sg > 0:
            tb += (sg / s) * math.log((sg / ng) / (s / n))
    return check(
        "theil_t",
        row,
        {
            "n_customers": (n, 0),
            "t_total_e6": (t_total * 1e6, 5),
            "t_between_e6": (tb * 1e6, 30),
            "t_within_e6": ((t_total - tb) * 1e6, 32),
        },
    )


@audit("palma_ratio")
def a_palma(data: Data, row) -> list[str]:
    v = np.sort(_cust_values(data)).astype(np.float64)
    n, s = len(v), v.sum()
    k40, k90 = (4 * n) // 10, (9 * n) // 10
    bottom40 = v[:k40].sum()
    top10 = v[k90:].sum()
    return check(
        "palma",
        row,
        {
            "n_customers": (n, 0),
            "bottom40_share_e6": (bottom40 / s * 1e6, 2),
            "top10_share_e6": (top10 / s * 1e6, 2),
            "palma_e6": (top10 / bottom40 * 1e6, 2),
        },
    )


@audit("lorenz_asymmetry")
def a_lac(data: Data, row) -> list[str]:
    v = _cust_values(data).astype(np.float64)
    n, s = len(v), v.sum()
    below = v * n < s
    f_mu = below.sum() / n
    l_mu = v[below].sum() / s
    # engine sums two independent floors; replay that convention
    lac_e6 = math.floor(f_mu * 1e6) + math.floor(l_mu * 1e6)
    return check(
        "lac",
        row,
        {
            "n_customers": (n, 0),
            "f_mu_e6": (f_mu * 1e6, 2),
            "l_mu_e6": (l_mu * 1e6, 2),
            "lac_e6": (lac_e6, 2),
            "large_value_driven": (1 if lac_e6 > 1_000_000 else 0, 0),
        },
    )


@audit("hill_diversity_numbers")
def a_hill(data: Data, row) -> list[str]:
    d = data.table("documents")
    c = d.groupby("source").size().to_numpy().astype(np.float64)
    n = c.sum()
    q0 = len(c)
    q1 = math.exp(math.log(n) - float(np.sum(c * np.log(c))) / n)
    q2 = n * n / float(np.sum(c * c))
    return check(
        "hill",
        row,
        {
            "hill_q0_richness": (q0, 0),
            "n_docs": (n, 0),
            "hill_q1_e6": (q1 * 1e6, ("rel", 1e-5)),
            "hill_q2_e6": (q2 * 1e6, 2),
        },
    )


@audit("kmv_distinct_audit")
def a_kmv(data: Data, row) -> list[str]:
    import hashlib

    li = data.table("lineitem")
    keys = np.unique(li["l_partkey"].to_numpy())
    hvs = sorted(
        int(hashlib.md5(str(int(k)).encode()).hexdigest()[:15], 16)
        for k in keys
    )
    K = 128
    kmin = hvs[:K]
    kf = len(kmin)
    hk = kmin[-1]
    H = 2**60
    est = kf if kf < K else (K - 1) * H // hk
    exact = len(keys)
    return check(
        "kmv",
        row,
        {
            "k_filled": (kf, 0),
            "kth_hash": (hk, 0),
            "kmv_estimate": (est, 0),
            "exact_distinct": (exact, 0),
            "rel_err_e6": ((est - exact) * 1e6 / exact, 2),
        },
    )


# ===========================================================================
# audits — tiers r10i/r10j: vocabulary statistics, collocations, sketches
# ===========================================================================

import re as _re


def _tokens(data: Data) -> pd.DataFrame:
    """r9f whitespace token convention: (doc_id, source, w)."""
    d = data.table("documents")
    rows = []
    for doc_id, source, text in zip(d["doc_id"], d["source"], d["text"]):
        s = text.strip()
        if not s:
            continue
        for w in _re.split(r"\s+", s.lower()):
            rows.append((doc_id, source, w))
    return pd.DataFrame(rows, columns=["doc_id", "source", "w"])


@audit("yule_k_vocabulary")
def a_yule_k(data: Data, row) -> list[str]:
    tf = _tokens(data).groupby("w").size().to_numpy().astype(np.float64)
    n = tf.sum()
    v = len(tf)
    sc2 = float(np.sum(tf * tf))
    k = (sc2 - n) * 1e10 / (n * n)
    simpson = (sc2 - n) * 1e6 / (n * (n - 1))
    return check(
        "yule_k",
        row,
        {
            "n_tokens": (n, 0),
            "vocab": (v, 0),
            "yule_k_e6": (k, 2),
            "simpson_repeat_e6": (simpson, 2),
        },
    )


@audit("honore_sichel_richness")
def a_honore(data: Data, row) -> list[str]:
    tf = _tokens(data).groupby("w").size()
    n = int(tf.sum())
    v = len(tf)
    v1 = int((tf == 1).sum())
    v2 = int((tf == 2).sum())
    r = 100.0 * math.log(n) / (1.0 - v1 / v)
    return check(
        "honore",
        row,
        {
            "n_tokens": (n, 0),
            "vocab": (v, 0),
            "hapax": (v1, 0),
            "dis_legomena": (v2, 0),
            "honore_r_e6": (r * 1e6, ("rel", 1e-6)),
            "sichel_s_e6": (v2 / v * 1e6, 2),
        },
    )


@audit("good_turing_smoothing")
def a_gt(data: Data, rows) -> list[str]:
    tf = _tokens(data).groupby("w").size()
    n = int(tf.sum())
    spec = tf.value_counts().to_dict()  # r -> n_r
    want = {0: (n, spec.get(1, 0) * 1_000_000 // n)}
    for r in range(1, 6):
        nr = spec.get(r, 0)
        want[r] = (nr, spec.get(r + 1, 0) * (r + 1) * 1_000_000 // max(nr, 1))
    errs = []
    if len(rows) != 6:
        errs.append(f"{len(rows)} rows vs 6")
    for rr in rows:
        r = int(rr["r"])
        wn, ws = want[r]
        if int(rr["n_r"]) != wn or int(rr["r_star_e6"]) != ws:
            errs.append(
                f"r={r}: engine ({rr['n_r']}, {rr['r_star_e6']}) vs ({wn}, {ws})"
            )
    return errs


@audit("log_likelihood_keyness")
def a_keyness(data: Data, rows) -> list[str]:
    tok = _tokens(data)
    d = data.table("documents")
    lang = dict(zip(d["doc_id"], d["lang"]))
    tok["en"] = tok["doc_id"].map(lang) == "en"
    g = tok.groupby("w")["en"].agg(a="sum", t="count")
    g["b"] = g["t"] - g["a"]
    na, nb = int(g["a"].sum()), int(g["b"].sum())
    scores = {}
    for w, rr in g.iterrows():
        a, b = int(rr["a"]), int(rr["b"])
        g2 = 0.0
        if a > 0:
            g2 += a * math.log(a * (na + nb) / ((a + b) * na))
        if b > 0:
            g2 += b * math.log(b * (na + nb) / ((a + b) * nb))
        scores[w] = (a, b, math.floor(2e6 * g2), a * nb > b * na)
    top = sorted(scores.items(), key=lambda kv: (-kv[1][2], kv[0]))[:20]
    errs = []
    want_terms = [w for w, _ in top]
    got_terms = [r["term"] for r in rows]
    if want_terms != got_terms:
        errs.append(f"top-20 terms differ: {got_terms} vs {want_terms}")
    for r in rows:
        w = r["term"]
        if w not in scores:
            continue
        a, b, g2e6, over = scores[w]
        if (
            int(r["count_en"]) != a
            or int(r["count_rest"]) != b
            or abs(int(r["g2_e6"]) - g2e6) > 2
            or bool(r["overused_in_en"]) != over
        ):
            errs.append(f"{w}: engine {dict(r)} vs ({a},{b},{g2e6},{over})")
    return errs


@audit("gries_dp_dispersion")
def a_gries_dp(data: Data, rows) -> list[str]:
    tok = _tokens(data)
    ws = tok.groupby(["w", "source"]).size().rename("c").reset_index()
    srctot = ws.groupby("source")["c"].sum()
    N = int(srctot.sum())
    wt = ws.groupby("w")["c"].sum()
    keep = wt[wt >= 30]
    dp = {}
    for w in keep.index:
        sub = ws[ws["w"] == w]
        ct = int(wt[w])
        dev_present = sum(
            abs(int(c) * N - ct * int(srctot[s]))
            for s, c in zip(sub["source"], sub["c"])
        )
        ns_present = int(srctot[sub["source"]].sum())
        dp[w] = (ct, (dev_present + ct * (N - ns_present)) * 1_000_000
                 // (2 * ct * N))
    top = sorted(dp.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    errs = []
    if [w for w, _ in top] != [r["term"] for r in rows]:
        errs.append(
            f"top-20 differ: {[r['term'] for r in rows]} vs {[w for w, _ in top]}"
        )
    for r in rows:
        w = r["term"]
        if w in dp and (
            int(r["total_count"]) != dp[w][0] or int(r["dp_e6"]) != dp[w][1]
        ):
            errs.append(f"{w}: engine {dict(r)} vs {dp[w]}")
    return errs


def _doc_bigrams(data: Data):
    d = data.table("documents")
    for doc_id, text in zip(d["doc_id"], d["text"]):
        s = text.strip()
        if not s:
            continue
        tk = _re.split(r"\s+", s.lower())
        if len(tk) >= 2:
            yield doc_id, tk


@audit("repetition_ngram_ratio")
def a_repetition(data: Data, row) -> list[str]:
    from collections import Counter

    n_docs = 0
    sum_mx = sum_tot = over = 0
    worst = 0
    for doc_id, tk in _doc_bigrams(data):
        bg = Counter(zip(tk[:-1], tk[1:]))
        mx, tot = max(bg.values()), sum(bg.values())
        n_docs += 1
        sum_mx += mx
        sum_tot += tot
        if mx * 5 > tot:
            over += 1
        worst = max(worst, mx * 1_000_000 // tot)
    return check(
        "repetition",
        row,
        {
            "n_docs": (n_docs, 0),
            "micro_avg_rep_e6": (sum_mx * 1_000_000 // sum_tot, 0),
            "docs_over_20pct": (over, 0),
            "worst_doc_rep_e6": (worst, 0),
        },
    )


@audit("pmi_collocations")
def a_pmi(data: Data, rows) -> list[str]:
    from collections import Counter

    uni = Counter()
    big = Counter()
    nb = 0
    d = data.table("documents")
    for doc_id, source, text in zip(d["doc_id"], d["source"], d["text"]):
        s = text.strip()
        if not s:
            continue
        tk = _re.split(r"\s+", s.lower())
        uni.update(tk)
        if len(tk) >= 2:
            big.update(zip(tk[:-1], tk[1:]))
            nb += len(tk) - 1
    n = sum(uni.values())
    scored = {}
    for (w1, w2), cxy in big.items():
        if cxy < 10:
            continue
        cx, cy = uni[w1], uni[w2]
        pmi = math.floor(1e6 * math.log(cxy * n * n / (nb * cx * cy)))
        logdice = math.floor(
            1e6 * (14.0 + math.log(2.0 * cxy / (cx + cy)) / math.log(2.0))
        )
        scored[(w1, w2)] = (cxy, cx, cy, pmi, logdice)
    top = sorted(scored.items(), key=lambda kv: (-kv[1][4], kv[0]))[:20]
    errs = []
    want_pairs = [p for p, _ in top]
    got_pairs = [(r["w1"], r["w2"]) for r in rows]
    if want_pairs != got_pairs:
        errs.append(f"top-20 pairs differ: {got_pairs} vs {want_pairs}")
    for r in rows:
        p = (r["w1"], r["w2"])
        if p in scored:
            cxy, cx, cy, pmi, logdice = scored[p]
            if (
                int(r["pair_count"]) != cxy
                or int(r["count_w1"]) != cx
                or int(r["count_w2"]) != cy
                or abs(int(r["pmi_e6"]) - pmi) > 2
                or abs(int(r["logdice_e6"]) - logdice) > 2
            ):
                errs.append(f"{p}: engine {dict(r)} vs {scored[p]}")
    return errs


@audit("char_entropy_rate")
def a_char_entropy(data: Data, row) -> list[str]:
    from collections import Counter

    d = data.table("documents")
    u1 = Counter()
    u2 = Counter()
    for text in d["text"]:
        if len(text) >= 1:
            u1.update(text)
        if len(text) >= 2:
            u2.update(text[i : i + 2] for i in range(len(text) - 1))

    def ent(cnt):
        c = np.array(list(cnt.values()), dtype=np.float64)
        n = c.sum()
        return n, len(c), math.log(n) - float(np.sum(c * np.log(c))) / n

    n1, v1, h1 = ent(u1)
    n2, v2, h2 = ent(u2)
    cond = h2 - h1
    return check(
        "char_entropy",
        row,
        {
            "n_chars": (n1, 0),
            "alphabet": (v1, 0),
            "bigram_types": (v2, 0),
            "h1_e6": (h1 * 1e6, 3),
            "h2_e6": (h2 * 1e6, 3),
            "cond_h_e6": (cond * 1e6, 5),
            "branching_factor_e6": (math.exp(cond) * 1e6, 12),
        },
    )


@audit("embedding_anisotropy_audit")
def a_aniso(data: Data, row) -> list[str]:
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy())
    # engine fixed point: components floor to e6 integers first
    Vi = np.floor(V.astype(np.float64) * 1e6)
    n, dim = Vi.shape
    s = Vi.sum(axis=0)
    mm = float(np.sum(s * s))
    vm = Vi @ s
    vv = np.sum(Vi * Vi, axis=1)
    cos = np.floor(1e6 * vm / (np.sqrt(vv) * math.sqrt(mm)))
    norms = np.floor(np.sqrt(vv))
    return check(
        "aniso",
        row,
        {
            "n_vectors": (n, 0),
            "dim": (dim, 0),
            "centroid_norm_e6": (math.floor(math.sqrt(mm)) // n, 1),
            "avg_vec_norm_e6": (int(norms.sum()) // n, 1),
            "avg_cos_centroid_e6": (int(cos.sum()) // n, 1),
            "max_cos_centroid_e6": (int(cos.max()), 1),
            "min_cos_centroid_e6": (int(cos.min()), 1),
        },
    )


@audit("kmv_merge_audit")
def a_kmv_merge(data: Data, row) -> list[str]:
    import hashlib

    o = data.table("orders")
    shard = o["o_orderdate"].astype(str).str[:7]
    pairs = set(zip(shard, o["o_custkey"]))
    K, H = 64, 1 << 60
    by_shard: dict[str, set] = {}
    for s, ck in pairs:
        hv = int(hashlib.md5(str(int(ck)).encode()).hexdigest()[:15], 16)
        by_shard.setdefault(s, set()).add(hv)

    def est(hset):
        mins = sorted(hset)[:K]
        kf, hk = len(mins), mins[-1]
        return (kf if kf < K else (K - 1) * H // hk), mins

    sum_est = 0
    all_mins = set()
    for s, hs in by_shard.items():
        e_, mins = est(hs)
        sum_est += e_
        all_mins.update(mins)
    merged_est, merged_mins = est(all_mins)
    exact = o["o_custkey"].nunique()
    return check(
        "kmv_merge",
        row,
        {
            "n_shards": (len(by_shard), 0),
            "merged_kth_hash": (merged_mins[-1], 0),
            "merged_estimate": (merged_est, 0),
            "exact_distinct": (exact, 0),
            "rel_err_e6": ((merged_est - exact) * 1e6 / exact, 2),
            "sum_shard_estimates": (sum_est, 0),
            "duplication_factor_e6": (sum_est * 1e6 / merged_est, 2),
        },
    )


# ===========================================================================
# audits — tier r11a: two-sample / shape second wave (audit-first)
# ===========================================================================


@audit("cramer_von_mises_2sample")
def a_cvm(data: Data, row) -> list[str]:
    g = data.two_group_hist()
    n1 = int(g["c1"].sum())
    n2 = int(g["c2"].sum())
    N = n1 + n2
    le1 = g["c1"].cumsum().to_numpy().astype(np.float64)
    le2 = g["c2"].cumsum().to_numpy().astype(np.float64)
    cb = (g["c1"] + g["c2"]).to_numpy().astype(np.float64)
    # T = nm/N^2 * sum over sample points of (F-G)^2, F/G inclusive
    T = float(
        np.sum(cb * (le1 / n1 - le2 / n2) ** 2)
    ) * n1 * n2 / (N * N)
    return check(
        "cvm",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "cvm_t_e6": (T * 1e6, 2),
            "reject_same_distribution": (
                1 if T * 1e6 > 461_361 else 0, 0
            ),
        },
    )


@audit("bws_test")
def a_bws(data: Data, row) -> list[str]:
    g = data.two_group_hist()
    n1 = int(g["c1"].sum())
    n2 = int(g["c2"].sum())
    N = n1 + n2
    lt1 = (g["c1"].cumsum() - g["c1"]).to_numpy()
    lt2 = (g["c2"].cumsum() - g["c2"]).to_numpy()
    midrank = (lt1 + lt2) + (g["c1"] + g["c2"]).to_numpy() / 2.0 + 0.5

    def bside(cn, lt_own, n_own, m_other):
        tot = 0
        for b in range(len(cn)):
            for k in range(1, int(cn[b]) + 1):
                i = int(lt_own[b]) + k
                R = midrank[b]
                num = (R - (N + 1) * i / (n_own + 1)) ** 2
                den = (
                    (i / (n_own + 1))
                    * (1 - i / (n_own + 1))
                    * m_other
                    * (N + 1)
                    / n_own
                )
                tot += math.floor(num / den * 1e6)
        return tot // n_own

    bx = bside(g["c1"].to_numpy(), lt1, n1, n2)
    by = bside(g["c2"].to_numpy(), lt2, n2, n1)
    b = (bx + by) // 2
    return check(
        "bws",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "bx_e6": (bx, 2),
            "by_e6": (by, 2),
            "bws_b_e6": (b, 2),
            "reject_same_distribution": (1 if b > 2_493_000 else 0, 0),
        },
    )


@audit("siegel_tukey_test")
def a_siegel_tukey(data: Data, row) -> list[str]:
    g = data.two_group_hist()
    n1 = int(g["c1"].sum())
    n2 = int(g["c2"].sum())
    N = n1 + n2
    # brute zig-zag labels by replaying the assignment PROCESS:
    # label 1 -> lowest position; labels 2,3 -> two highest; 4,5 ->
    # next two lowest; ... (independent of any closed form).
    lab = np.zeros(N + 1, dtype=np.int64)
    low, high, nxt, side, grp = 1, N, 1, "low", 1
    while nxt <= N:
        for _ in range(grp):
            if nxt > N:
                break
            if side == "low":
                lab[low] = nxt
                low += 1
            else:
                lab[high] = nxt
                high -= 1
            nxt += 1
        side = "high" if side == "low" else "low"
        grp = 2
    assert sorted(lab[1:]) == list(range(1, N + 1))
    lo = (g["c1"].cumsum() - g["c1"] + g["c2"].cumsum() - g["c2"]).to_numpy() + 1
    cb = (g["c1"] + g["c2"]).to_numpy()
    w2_e6 = 0
    for b in range(len(cb)):
        s = int(lab[int(lo[b]) : int(lo[b]) + int(cb[b])].sum())
        w2_e6 += int(g["c2"].iloc[b]) * s * 1_000_000 // int(cb[b])
    w2 = w2_e6 / 1e6
    z = (w2 - n2 * (N + 1) / 2.0) / math.sqrt(n1 * n2 * (N + 1) / 12.0)
    return check(
        "st",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "w2_labels": (w2_e6 // 1_000_000, 0),
            "z_e6": (z * 1e6, 2),
            "reject_equal_scale": (
                1 if abs(z) * 1e6 > 1_959_963 else 0, 0
            ),
        },
    )


@audit("dagostino_k2_test")
def a_k2(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.float64)
    n = len(y)
    m = y.mean()
    m2 = float(np.mean((y - m) ** 2))
    m3 = float(np.mean((y - m) ** 3))
    m4 = float(np.mean((y - m) ** 4))
    g1 = m3 / m2**1.5
    g2 = m4 / m2**2 - 3.0
    # D'Agostino (1970) skewness transform
    Y = g1 * math.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
    beta2 = (
        3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
        / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    )
    W2 = math.sqrt(2.0 * (beta2 - 1)) - 1
    delta = 1.0 / math.sqrt(math.log(math.sqrt(W2)))
    alpha = math.sqrt(2.0 / (W2 - 1))
    z1 = delta * math.log(Y / alpha + math.sqrt((Y / alpha) ** 2 + 1))
    # Anscombe-Glynn (1983) kurtosis transform
    eg2 = 3.0 * (n - 1) / (n + 1)
    vg2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1.0) ** 2 * (n + 3) * (n + 5))
    x = (g2 - eg2) / math.sqrt(vg2)
    sb1 = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7.0) * (n + 9))
        * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2.0) * (n - 3)))
    )
    A = 6.0 + 8.0 / sb1 * (2.0 / sb1 + math.sqrt(1.0 + 4.0 / sb1**2))
    inner = (1.0 - 2.0 / A) / (1.0 + x * math.sqrt(2.0 / (A - 4.0)))
    root = math.copysign(abs(inner) ** (1.0 / 3.0), inner)
    z2 = ((1.0 - 2.0 / (9.0 * A)) - root) * math.sqrt(9.0 * A / 2.0)
    k2 = z1 * z1 + z2 * z2
    return check(
        "k2",
        row,
        {
            "n_days": (n, 0),
            "z_skew_e6": (z1 * 1e6, 2),
            "z_kurt_e6": (z2 * 1e6, 2),
            "k2_e6": (k2 * 1e6, 3),
            "reject_normality": (1 if k2 * 1e6 > 5_991_464 else 0, 0),
        },
    )


@audit("poisson_rate_ratio_ci")
def a_prr(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )

    def side(seg):
        s = m[m["c_mktsegment"] == seg]
        return int((s["o_orderpriority"] == "1-URGENT").sum()), len(s)

    a1, n1 = side("BUILDING")
    a2, n2 = side("MACHINERY")
    rr = (a1 / n1) / (a2 / n2)
    half = 1.959964 * math.sqrt(1.0 / a1 + 1.0 / a2)
    lo, hi = rr * math.exp(-half), rr * math.exp(half)
    return check(
        "prr",
        row,
        {
            "events_building": (a1, 0),
            "exposure_building": (n1, 0),
            "events_machinery": (a2, 0),
            "exposure_machinery": (n2, 0),
            "rate_ratio_e6": (rr * 1e6, 2),
            "rr_lo_e6": (lo * 1e6, 2),
            "rr_hi_e6": (hi * 1e6, 2),
            "excludes_one": (1 if lo > 1 or hi < 1 else 0, 0),
        },
    )


@audit("l_moments_ratios")
def a_lmom(data: Data, row) -> list[str]:
    y = data.day().sort_values(["y", "t"])["y"].to_numpy().astype(np.float64)
    n = len(y)
    i = np.arange(1, n + 1, dtype=np.float64)

    def comb(a, k):
        r = np.ones_like(a)
        for j in range(k):
            r = r * (a - j) / (j + 1)
        return r

    b0 = y.mean()
    b1 = float(np.sum(y * comb(i - 1, 1)) / (n * comb(np.array([n - 1.0]), 1)[0]))
    b2 = float(np.sum(y * comb(i - 1, 2)) / (n * comb(np.array([n - 1.0]), 2)[0]))
    b3 = float(np.sum(y * comb(i - 1, 3)) / (n * comb(np.array([n - 1.0]), 3)[0]))
    l1 = b0
    l2 = 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
    return check(
        "lmom",
        row,
        {
            "n_days": (n, 0),
            "l1_e2": (l1 * 100, 1),
            "l2_e2": (l2 * 100, 1),
            "t2_lcv_e6": (l2 / l1 * 1e6, 2),
            "t3_lskew_e6": (l3 / l2 * 1e6, 2),
            "t4_lkurt_e6": (l4 / l2 * 1e6, 2),
        },
    )


# ===========================================================================
# audits — tier r11b: agreement & method comparison (audit-first)
# ===========================================================================


@audit("krippendorff_alpha_nominal")
def a_kripp(data: Data, row) -> list[str]:
    pp = _priority_pairs(data)
    from collections import Counter

    units = len(pp)
    # coincidence matrix counts
    o = Counter()
    nc = Counter()
    for a, b in zip(pp["p97"], pp["p98"]):
        o[(a, b)] += 1
        o[(b, a)] += 1
        nc[a] += 1
        nc[b] += 1
    n = 2 * units
    d_obs = sum(m for (a, b), m in o.items() if a != b) / n
    d_exp = sum(
        nc[a] * nc[b] for a in nc for b in nc if a != b
    ) / (n * (n - 1))
    alpha = 1 - d_obs / d_exp
    return check(
        "kripp",
        row,
        {
            "n_units": (units, 0),
            "d_obs_e6": (d_obs * 1e6, 2),
            "d_exp_e6": (d_exp * 1e6, 2),
            "alpha_e6": (alpha * 1e6, 2),
        },
    )


@audit("gwet_ac1_agreement")
def a_ac1(data: Data, row) -> list[str]:
    pp = _priority_pairs(data)
    from collections import Counter

    n = len(pp)
    cats = sorted(set(pp["p97"]) | set(pp["p98"]))
    K = len(cats)
    pa = float((pp["p97"] == pp["p98"]).mean())
    pooled = Counter(pp["p97"]) + Counter(pp["p98"])
    pe = sum(
        (pooled[c] / (2 * n)) * (1 - pooled[c] / (2 * n)) for c in cats
    ) / (K - 1)
    ac1 = (pa - pe) / (1 - pe)
    return check(
        "ac1",
        row,
        {
            "n_units": (n, 0),
            "n_categories": (K, 0),
            "pa_e6": (pa * 1e6, 2),
            "pe_gamma_e6": (pe * 1e6, 2),
            "ac1_e6": (ac1 * 1e6, 2),
        },
    )


@audit("weighted_kappa_ordinal")
def a_wkappa(data: Data, row) -> list[str]:
    pp = _priority_pairs(data)
    i = pp["p97"].str[0].astype(int).to_numpy()
    j = pp["p98"].str[0].astype(int).to_numpy()
    n = len(i)

    def kw(power):
        d_obs = float(np.sum(np.abs(i - j) ** power))
        d_exp = 0.0
        from collections import Counter

        r, c = Counter(i), Counter(j)
        for a in r:
            for b in c:
                d_exp += abs(a - b) ** power * r[a] * c[b]
        return 1 - d_obs * n / d_exp

    return check(
        "wkappa",
        row,
        {
            "n_units": (n, 0),
            "kappa_linear_e6": (kw(1) * 1e6, 2),
            "kappa_quadratic_e6": (kw(2) * 1e6, 2),
        },
    )


def _year_rev_pairs(data: Data) -> pd.DataFrame:
    o = data.table("orders")
    yr = o["o_orderdate"].dt.year
    sel = o[yr.isin([1997, 1998])].copy()
    sel["y"] = sel["o_orderdate"].dt.year
    sel["c"] = np.round(sel["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = sel.groupby(["o_custkey", "y"])["c"].sum() // 1000
    p = g.unstack()
    p = p.dropna()
    return pd.DataFrame(
        {"x": p[1997].astype(np.int64), "y": p[1998].astype(np.int64)}
    )


@audit("lins_ccc")
def a_ccc(data: Data, row) -> list[str]:
    p = _year_rev_pairs(data)
    x = p["x"].to_numpy().astype(np.float64)
    y = p["y"].to_numpy().astype(np.float64)
    sxy = float(np.mean((x - x.mean()) * (y - y.mean())))
    sxx = float(np.var(x))
    syy = float(np.var(y))
    ccc = 2 * sxy / (sxx + syy + (x.mean() - y.mean()) ** 2)
    r = sxy / math.sqrt(sxx * syy)
    return check(
        "ccc",
        row,
        {
            "n_customers": (len(x), 0),
            "ccc_e6": (ccc * 1e6, 2),
            "pearson_r_e6": (r * 1e6, 2),
            "bias_correction_cb_e6": (ccc / r * 1e6, 2),
        },
    )


@audit("bland_altman_agreement")
def a_ba(data: Data, row) -> list[str]:
    p = _year_rev_pairs(data)
    d = (p["x"] - p["y"]).to_numpy().astype(np.float64)
    n = len(d)
    bias = d.mean()
    sd = float(np.std(d, ddof=1))
    # engine floors bias and sd to e2 first, then builds the LoA gates
    bias_e2 = int(row["bias_e2"])
    sd_e2 = int(row["sd_e2"])
    lo = bias_e2 - 1_959_963 * sd_e2 // 1_000_000
    hi = bias_e2 + 1_959_963 * sd_e2 // 1_000_000
    outside = int(np.sum((d * 100 < lo) | (d * 100 > hi)))
    return check(
        "ba",
        row,
        {
            "n_customers": (n, 0),
            "bias_e2": (bias * 100, 2),
            "sd_e2": (sd * 100, 2),
            "loa_lo_e2": (lo, 0),
            "loa_hi_e2": (hi, 0),
            "n_outside_loa": (outside, 0),
        },
    )


@audit("deming_regression")
def a_deming(data: Data, row) -> list[str]:
    p = _year_rev_pairs(data)
    x = p["x"].to_numpy().astype(np.float64)
    y = p["y"].to_numpy().astype(np.float64)
    sxy = float(np.mean((x - x.mean()) * (y - y.mean())))
    sxx = float(np.var(x))
    syy = float(np.var(y))
    beta = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy**2)) / (2 * sxy)
    alpha = y.mean() - beta * x.mean()
    return check(
        "deming",
        row,
        {
            "n_customers": (len(x), 0),
            "deming_slope_e6": (beta * 1e6, 2),
            "deming_intercept_e2": (alpha * 100, 2),
            "ols_slope_e6": (sxy / sxx * 1e6, 2),
        },
    )


# ===========================================================================
# audits — tier r11c: spatial & sequence structure (audit-first)
# ===========================================================================


def _nation_rev(data: Data) -> pd.DataFrame:
    o = data.table("orders")
    c = data.table("customer")
    n = data.table("nation")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    per = pd.Series(cents).groupby(o["o_custkey"].to_numpy()).sum()
    cust = pd.DataFrame(
        {"ck": c["c_custkey"], "nk": c["c_nationkey"],
         "cents": c["c_custkey"].map(per).fillna(0).astype(np.int64)}
    )
    bynat = cust.groupby("nk")["cents"].sum()
    out = n[["n_nationkey", "n_regionkey"]].copy()
    out["x"] = (
        out["n_nationkey"].map(bynat).fillna(0).astype(np.int64) // 100000
    )
    return out.rename(columns={"n_nationkey": "nk", "n_regionkey": "rk"})


@audit("moran_i_region")
def a_moran(data: Data, row) -> list[str]:
    nr = _nation_rev(data)
    x = nr["x"].to_numpy().astype(np.float64)
    rk = nr["rk"].to_numpy()
    n = len(x)
    z = x - x.mean()
    # brute W matrix
    W = (rk[:, None] == rk[None, :]) & ~np.eye(n, dtype=bool)
    w = int(W.sum())
    I = n * float(z[None, :] @ W @ z[:, None]) / (w * float(np.sum(z * z)))
    e_i = -1.0 / (n - 1)
    s1 = 2.0 * w
    s2 = float(np.sum((W.sum(axis=0) + W.sum(axis=1)) ** 2))
    var = (
        (n * n * s1 - n * s2 + 3.0 * w * w) / (w * w * (n * n - 1.0))
        - e_i * e_i
    )
    zz = (I - e_i) / math.sqrt(var)
    return check(
        "moran",
        row,
        {
            "n_nations": (n, 0),
            "n_adjacent_pairs": (w, 0),
            "moran_i_e6": (I * 1e6, 2),
            "expected_i_e6": (e_i * 1e6, 2),
            "z_e6": (zz * 1e6, 2),
            "reject_no_autocorrelation": (
                1 if abs(zz) * 1e6 > 1_959_963 else 0, 0
            ),
        },
    )


@audit("geary_c_region")
def a_geary(data: Data, row) -> list[str]:
    nr = _nation_rev(data)
    x = nr["x"].to_numpy().astype(np.float64)
    rk = nr["rk"].to_numpy()
    n = len(x)
    z = x - x.mean()
    W = (rk[:, None] == rk[None, :]) & ~np.eye(n, dtype=bool)
    w = int(W.sum())
    diff2 = float(np.sum(W * (x[:, None] - x[None, :]) ** 2))
    C = (n - 1) * diff2 / (2.0 * w * float(np.sum(z * z)))
    return check(
        "geary",
        row,
        {
            "n_nations": (n, 0),
            "n_adjacent_pairs": (w, 0),
            "geary_c_e6": (C * 1e6, 2),
            "positive_autocorrelation": (1 if C < 1 else 0, 0),
        },
    )


@audit("join_count_bw_region")
def a_joincount(data: Data, row) -> list[str]:
    nr = _nation_rev(data).sort_values(["x", "nk"]).reset_index(drop=True)
    n = len(nr)
    nr["b"] = (np.arange(1, n + 1) > n // 2).astype(int)
    bb = bw = ww = jj = 0
    for _, g in nr.groupby("rk"):
        m = len(g)
        hi = int(g["b"].sum())
        jj += m * (m - 1) // 2
        bb += hi * (hi - 1) // 2
        ww += (m - hi) * (m - hi - 1) // 2
        bw += hi * (m - hi)
    nb = int(nr["b"].sum())
    bb_exp = jj * nb * (nb - 1) / (n * (n - 1))
    bw_exp = 2 * jj * nb * (n - nb) / (n * (n - 1))
    return check(
        "jc",
        row,
        {
            "n_nations": (n, 0),
            "n_high": (nb, 0),
            "n_joins": (jj, 0),
            "bb_obs": (bb, 0),
            "bw_obs": (bw, 0),
            "ww_obs": (ww, 0),
            "bb_exp_e6": (bb_exp * 1e6, 2),
            "bw_exp_e6": (bw_exp * 1e6, 2),
            "clustered": (1 if bw * 1e6 < bw_exp * 1e6 else 0, 0),
        },
    )


def _transitions(data: Data):
    from collections import Counter

    e = data.table("events").sort_values(["user_id", "ts", "event_id"])
    c = Counter()
    for _, g in e.groupby("user_id"):
        tps = g["event_type"].tolist()
        for a, b in zip(tps[:-1], tps[1:]):
            c[(a, b)] += 1
    return c


@audit("markov_transition_entropy")
def a_mte(data: Data, row) -> list[str]:
    tr = _transitions(data)
    n = sum(tr.values())
    from collections import Counter

    rowm = Counter()
    colm = Counter()
    for (s, t), cnt in tr.items():
        rowm[s] += cnt
        colm[t] += cnt
    h = sum(
        (cnt / n) * math.log(rowm[s] / cnt) for (s, t), cnt in tr.items()
    )
    h0 = sum((ct / n) * math.log(n / ct) for ct in colm.values())
    return check(
        "mte",
        row,
        {
            "n_transitions": (n, 0),
            "n_states": (len(rowm), 0),
            "entropy_rate_e6": (h * 1e6, 30),
            "marginal_entropy_e6": (h0 * 1e6, 30),
            "predictability_gain_e6": ((h0 - h) * 1e6, 60),
            "entropy_ratio_e6": (h / h0 * 1e6, 40),
        },
    )


@audit("markov_stationary_dist")
def a_msd(data: Data, rows) -> list[str]:
    tr = _transitions(data)
    from collections import Counter

    rowm = Counter()
    for (s, t), cnt in tr.items():
        rowm[s] += cnt
    # float power iteration (independent of the fixed-point replay)
    states = sorted(rowm)
    p = {
        (s, t): cnt / rowm[s] for (s, t), cnt in tr.items()
    }
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(60):
        nxt: dict = {}
        for s, mass in pi.items():
            for t in states:
                if (s, t) in p:
                    nxt[t] = nxt.get(t, 0.0) + mass * p[(s, t)]
        pi = nxt
    n = sum(rowm.values())
    errs = []
    got = {r["state"]: r for r in rows}
    for s in states:
        g = got.get(s)
        if g is None:
            errs.append(f"state {s} missing")
            continue
        # fixed-point truncation loses ~1 unit/state/iter; tol 25
        if abs(float(g["pi_e6"]) - pi.get(s, 0.0) * 1e6) > 60:
            errs.append(
                f"{s}: pi {g['pi_e6']} vs float {pi.get(s, 0)*1e6:.0f}"
            )
        if int(g["iter_gap_e6"]) > 1000:
            errs.append(f"{s}: not converged, gap {g['iter_gap_e6']}")
        emp = rowm[s] * 1_000_000 // n
        if abs(int(g["empirical_e6"]) - emp) > 1:
            errs.append(f"{s}: empirical {g['empirical_e6']} vs {emp}")
    return errs


@audit("edwards_seasonality_test")
def a_edwards(data: Data, row) -> list[str]:
    o = data.table("orders")
    mc = o.groupby(o["o_orderdate"].dt.month).size()
    a = b = 0.0
    for mo, cnt in mc.items():
        th = 2 * math.pi * (mo - 0.5) / 12.0
        a += math.sqrt(cnt) * math.cos(th)
        b += math.sqrt(cnt) * math.sin(th)
    x2 = (a * a + b * b) / 1.5
    mcont = math.atan2(b, a) * 6.0 / math.pi + 0.5
    if mcont < 0.5:
        mcont += 12
    peak = math.floor(mcont + 0.5)
    return check(
        "edwards",
        row,
        {
            "n_months": (len(mc), 0),
            "n_orders": (int(mc.sum()), 0),
            "a_e6": (a * 1e6, 2),
            "b_e6": (b * 1e6, 2),
            "edwards_x2_e6": (x2 * 1e6, 3),
            "peak_month": (peak, 0),
            "reject_no_seasonality": (
                1 if x2 * 1e6 > 5_991_464 else 0, 0
            ),
        },
    )


# ===========================================================================
# audits — tier r11d: ranking / richness / tail risk (audit-first)
# ===========================================================================


def _rankings_vs_q0(data: Data):
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    q = V[ids == 0][0]
    mask = ids != 0
    Vo, io = V[mask], ids[mask]
    dots = Vo @ q
    cos = dots / (np.linalg.norm(Vo, axis=1) * np.linalg.norm(q))
    ra = np.empty(len(io), dtype=np.int64)
    ra[np.lexsort((io, -cos))] = np.arange(1, len(io) + 1)
    rb = np.empty(len(io), dtype=np.int64)
    rb[np.lexsort((io, -dots))] = np.arange(1, len(io) + 1)
    return io, ra, rb


@audit("rbo_ranking_overlap")
def a_rbo(data: Data, row) -> list[str]:
    io, ra, rb = _rankings_vs_q0(data)
    P, D = 0.9, 20
    # direct per-depth computation (independent of the tail-literal
    # identity the engine uses)
    rbo = 0.0
    for d in range(1, D + 1):
        inter = len(
            set(io[ra <= d].tolist()) & set(io[rb <= d].tolist())
        )
        rbo += P ** (d - 1) * inter / d
    rbo *= 1 - P
    overlap = int(np.sum((ra <= D) & (rb <= D)))
    n_agree = int(np.sum(np.maximum(ra, rb) <= D))
    return check(
        "rbo",
        row,
        {
            "n_items_in_both_prefixes": (n_agree, 0),
            "overlap_at_depth": (overlap, 0),
            "rbo_base_e6": (rbo * 1e6, 30),
            "jaccard_style_overlap_e6": (overlap * 1e6 // 20, 1),
        },
    )


@audit("map_mrr_ann_audit")
def a_map_mrr(data: Data, row) -> list[str]:
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    Q = 8
    mrr_sum = 0.0
    map_sum = 0.0
    hits_total = 0
    for qid in range(Q):
        q = V[ids == qid][0]
        mask = ids != qid
        Vo, io = V[mask], ids[mask]
        dots = Vo @ q
        cos = dots / (np.linalg.norm(Vo, axis=1) * np.linalg.norm(q))
        ra = np.empty(len(io), dtype=np.int64)
        ra[np.lexsort((io, -cos))] = np.arange(1, len(io) + 1)
        rb = np.empty(len(io), dtype=np.int64)
        rb[np.lexsort((io, -dots))] = np.arange(1, len(io) + 1)
        rel = (ra <= 10) & (rb <= 10)
        hit_ranks = np.sort(rb[rel])
        hits_total += len(hit_ranks)
        if len(hit_ranks):
            mrr_sum += 1.0 / hit_ranks[0]
            ap = sum(
                (i + 1) / r for i, r in enumerate(hit_ranks)
            ) / 10.0
            map_sum += ap
    return check(
        "map_mrr",
        row,
        {
            "n_queries": (Q, 0),
            "mrr_e6": (mrr_sum / Q * 1e6, 4),
            "map_at_10_e6": (map_sum / Q * 1e6, 4),
            "recall_at_10_e6": (hits_total * 1e6 / (Q * 10), 2),
        },
    )


@audit("ace_richness_estimate")
def a_ace(data: Data, row) -> list[str]:
    from collections import Counter

    c4 = Counter()
    d = data.table("documents")
    for text in d["text"]:
        s = text.strip()
        if not s:
            continue
        tk = _re.split(r"\s+", s.lower())
        if len(tk) >= 4:
            c4.update(
                " ".join(tk[i : i + 4]) for i in range(len(tk) - 3)
            )
    tf = pd.Series(c4)
    rare = tf[tf <= 10]
    s_rare = len(rare)
    s_abund = int((tf > 10).sum())
    n_rare = int(rare.sum())
    f1 = int((tf == 1).sum())
    c = 1.0 - f1 / n_rare
    sum_ii1 = float(sum(r * (r - 1) * n for r, n in
                        rare.value_counts().items()))
    gamma2 = max(
        0.0, (s_rare / c) * sum_ii1 / (n_rare * (n_rare - 1.0)) - 1.0
    )
    ace = s_abund + s_rare / c + f1 / c * gamma2
    return check(
        "ace",
        row,
        {
            "abundant_types": (s_abund, 0),
            "rare_types": (s_rare, 0),
            "rare_tokens": (n_rare, 0),
            "singletons": (f1, 0),
            "coverage_e6": (c * 1e6, 2),
            "rare_cv2_e6": (gamma2 * 1e6, 2),
            "ace_estimate": (ace, 1.5),
        },
    )


@audit("chao_shared_species")
def a_chao_shared(data: Data, row) -> list[str]:
    tok = _tokens(data)
    top2 = tok.groupby("source").size().sort_values(ascending=False)
    # deterministic (count desc, source) tie-break like the SQL
    order = sorted(
        top2.items(), key=lambda kv: (-kv[1], kv[0])
    )
    sa, sb = order[0][0], order[1][0]
    ca = tok[tok["source"] == sa].groupby("w").size()
    cb = tok[tok["source"] == sb].groupby("w").size()
    words = set(ca.index) | set(cb.index)
    d12 = f1p = fp1 = f11 = only_a = only_b = 0
    for w in words:
        a = int(ca.get(w, 0))
        b = int(cb.get(w, 0))
        if a > 0 and b > 0:
            d12 += 1
            if a == 1:
                f1p += 1
            if b == 1:
                fp1 += 1
            if a == 1 and b == 1:
                f11 += 1
        elif a > 0:
            only_a += 1
        else:
            only_b += 1
    est = d12 + f1p * fp1 // (2 * (f11 + 1))
    return check(
        "chao_shared",
        row,
        {
            "shared_observed": (d12, 0),
            "only_a": (only_a, 0),
            "only_b": (only_b, 0),
            "rare_in_a": (f1p, 0),
            "rare_in_b": (fp1, 0),
            "rare_in_both": (f11, 0),
            "chao_shared_estimate": (est, 1),
            "unseen_shared_e6": (
                f1p * fp1 * 1_000_000 // (2 * (f11 + 1)), 1
            ),
        },
    )


@audit("quantile_treatment_effects")
def a_qte(data: Data, rows) -> list[str]:
    x, y = data.expand_two_groups()
    x, y = np.sort(x), np.sort(y)
    errs = []
    if len(rows) != 9:
        errs.append(f"{len(rows)} rows vs 9")
    for r in rows:
        d = int(r["decile"])
        k1 = (d * len(x) + 9) // 10
        k2 = (d * len(y) + 9) // 10
        q1, q2 = int(x[k1 - 1]), int(y[k2 - 1])
        if (
            int(r["q_building"]) != q1
            or int(r["q_machinery"]) != q2
            or int(r["qte"]) != q1 - q2
        ):
            errs.append(f"decile {d}: engine {dict(r)} vs ({q1},{q2})")
    return errs


@audit("expected_shortfall_cvar")
def a_cvar(data: Data, row) -> list[str]:
    day = data.day().sort_values(["y", "t"])
    y = day["y"].to_numpy().astype(np.int64)
    n = len(y)
    k = (n * 5 + 99) // 100
    var5 = int(y[k - 1])
    tail = int(y[:k].sum())
    return check(
        "cvar",
        row,
        {
            "n_days": (n, 0),
            "n_tail_days": (k, 0),
            "var5_revenue_k": (var5, 0),
            "cvar5_revenue_k_e2": (tail * 100 // k, 0),
            "cvar_over_var_e6": (
                tail * 100 * 1_000_000 // (k * var5 * 100), 1
            ),
        },
    )


# ===========================================================================
# audits — tiers r10d/r10e: ANN health / graph / layout / corpus dists
# ===========================================================================


def _cells(data: Data):
    """The deterministic IVF device: centroids = vec_id % 100 == 0,
    assignment by floored-e6 cosine (ties to lowest cell)."""
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    cmask = ids % 100 == 0
    C, cid = V[cmask], ids[cmask]
    nrm = np.linalg.norm(V, axis=1)
    cn = np.linalg.norm(C, axis=1)
    cos = np.floor(1e6 * (V @ C.T) / (nrm[:, None] * cn[None, :]))
    # argmax with ties to lowest cell_id (cells in cid order asc)
    order = np.argsort(cid)
    cos = cos[:, order]
    cid = cid[order]
    best = cid[np.argmax(cos, axis=1)]
    return ids, V, best


def _cell_cos_e6(V, ids):
    nrm = np.linalg.norm(V, axis=1)
    return np.floor(1e6 * (V @ V.T) / (nrm[:, None] * nrm[None, :]))


@audit("hdbscan_core_distances")
def a_hdbscan_core(data: Data, rows) -> list[str]:
    ids, V, cell = _cells(data)
    cos = _cell_cos_e6(V, ids)
    K = 4
    core: dict[int, list[int]] = {}
    pop: dict[int, int] = {}
    for i, vid in enumerate(ids):
        pop[cell[i]] = pop.get(cell[i], 0) + 1
        mates = [
            j for j in range(len(ids))
            if cell[j] == cell[i] and ids[j] != vid
        ]
        if len(mates) < K:
            continue
        ranked = sorted(mates, key=lambda j: (-cos[i, j], ids[j]))
        j = ranked[K - 1]
        core.setdefault(cell[i], []).append(int(1e6 - cos[i, j]))
    errs = []
    got = {int(r["cell_id"]): r for r in rows}
    for c, n_pts in pop.items():
        g = got.get(c)
        if g is None:
            errs.append(f"cell {c} missing")
            continue
        cd = core.get(c, [])
        want_mean = sum(cd) // len(cd) if cd else None
        if int(g["n_pts"]) != n_pts or int(g["n_with_core"]) != len(cd):
            errs.append(f"cell {c}: pops {dict(g)} vs ({n_pts},{len(cd)})")
        elif cd and (
            int(g["mean_core_dist_e6"]) != want_mean
            or int(g["max_core_dist_e6"]) != max(cd)
        ):
            errs.append(
                f"cell {c}: core {dict(g)} vs mean {want_mean} max {max(cd)}"
            )
    return errs


@audit("knn_reciprocity_audit")
def a_knn_recip(data: Data, row) -> list[str]:
    ids, V, cell = _cells(data)
    cos = _cell_cos_e6(V, ids)
    K = 5
    edges = set()
    for i, vid in enumerate(ids):
        mates = [
            j for j in range(len(ids))
            if cell[j] == cell[i] and ids[j] != vid
        ]
        ranked = sorted(mates, key=lambda j: (-cos[i, j], ids[j]))[:K]
        for j in ranked:
            edges.add((int(vid), int(ids[j])))
    recip = sum(1 for a, b in edges if (b, a) in edges)
    return check(
        "recip",
        row,
        {
            "n_edges": (len(edges), 0),
            "n_reciprocal": (recip, 0),
            "reciprocity_ppm": (recip * 1_000_000 // len(edges), 0),
        },
    )


@audit("centroid_drift_audit")
def a_cent_drift(data: Data, rows) -> list[str]:
    ids, V, cell = _cells(data)
    Vi = np.floor(V * 1e6)
    errs = []
    got = {int(r["cell_id"]): r for r in rows}
    for c in sorted(set(cell.tolist())):
        members = Vi[cell == c]
        # truncating per-dimension integer mean (sums are positive or
        # negative; SQL div truncates)
        sums = members.sum(axis=0)
        n = len(members)
        mean = np.array([int(s) // n if s >= 0 else -((-int(s)) // n)
                         for s in sums], dtype=np.float64)
        cvec = np.floor(V[ids == c][0] * 1e6)
        cosv = float(mean @ cvec) / (
            np.linalg.norm(mean) * np.linalg.norm(cvec)
        )
        drift = 1_000_000 - math.floor(1e6 * cosv)
        g = got.get(c)
        if g is None:
            errs.append(f"cell {c} missing")
        elif int(g["n_pts"]) != n or abs(int(g["drift_ppm"]) - drift) > 1:
            errs.append(f"cell {c}: {dict(g)} vs n {n} drift {drift}")
    return errs


@audit("cosine_dot_topk_overlap")
def a_cos_dot_overlap(data: Data, rows) -> list[str]:
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    nrm = np.linalg.norm(V, axis=1)
    errs = []
    got = {int(r["query_id"]): r for r in rows}
    for qid in ids[ids % 50 == 0]:
        q = V[ids == qid][0]
        qn = np.linalg.norm(q)
        mask = ids != qid
        Vo, io, no = V[mask], ids[mask], nrm[mask]
        cos_e6 = np.floor(1e6 * (Vo @ q) / (no * qn))
        dot_e6 = np.floor(1e6 * ((4 + io % 5) / 4.0) * (Vo @ q))
        rc = np.empty(len(io), dtype=np.int64)
        rc[np.lexsort((io, -cos_e6))] = np.arange(1, len(io) + 1)
        rd = np.empty(len(io), dtype=np.int64)
        rd[np.lexsort((io, -dot_e6))] = np.arange(1, len(io) + 1)
        ncommon = int(np.sum((rc <= 10) & (rd <= 10)))
        g = got.get(int(qid))
        if g is None:
            errs.append(f"query {qid} missing")
        elif int(g["n_common"]) != ncommon:
            errs.append(f"query {qid}: {g['n_common']} vs {ncommon}")
    return errs


@audit("ann_contrast_audit")
def a_ann_contrast(data: Data, rows) -> list[str]:
    e = data.table("embeddings")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    nrm = np.linalg.norm(V, axis=1)
    errs = []
    got = {int(r["query_id"]): r for r in rows}
    for qid in ids[ids % 50 == 0]:
        q = V[ids == qid][0]
        qn = np.linalg.norm(q)
        mask = ids != qid
        d = 1_000_000 - np.floor(
            1e6 * (V[mask] @ q) / (nrm[mask] * qn)
        ).astype(np.int64)
        mean = int(d.sum()) // len(d)
        rc = mean * 1_000_000 // int(d.min())
        g = got.get(int(qid))
        if g is None:
            errs.append(f"query {qid} missing")
        elif (
            int(g["nn_dist_e6"]) != int(d.min())
            or int(g["mean_dist_e6"]) != mean
            or int(g["relative_contrast_e6"]) != rc
        ):
            errs.append(f"query {qid}: {dict(g)} vs ({d.min()},{mean},{rc})")
    return errs


@audit("graph_degree_gini")
def a_degree_gini(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    edges = li[["l_suppkey", "l_partkey"]].drop_duplicates()
    deg = np.sort(edges.groupby("l_suppkey").size().to_numpy())
    n = len(deg)
    t = int(deg.sum())
    i = np.arange(1, n + 1)
    gini = (2 * float(np.sum(i * deg)) - (n + 1) * t) / (n * t)
    return check(
        "dgini",
        row,
        {
            "n_suppliers": (n, 0),
            "n_edges": (t, 0),
            "degree_gini_e6": (gini * 1e6, 2),
        },
    )


@audit("range_partition_planner")
def a_range_planner(data: Data, rows) -> list[str]:
    o = data.table("orders")
    v = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    hist = pd.Series(v).value_counts().sort_index()
    cumv = hist.cumsum()
    n = int(hist.sum())
    P = 32
    bounds = {}
    for pid in range(1, P + 1):
        target = pid * n // P
        hi = cumv[cumv >= target].index[0]
        bounds[pid] = hi
    errs = []
    if len(rows) != P:
        errs.append(f"{len(rows)} rows vs {P}")
    prev = None
    for r in sorted(rows, key=lambda r: int(r["pid"])):
        pid = int(r["pid"])
        hi = bounds[pid]
        c_hi = int(cumv[cumv.index <= hi].iloc[-1])
        c_lo = int(cumv[cumv.index <= prev].iloc[-1]) if prev is not None else 0
        planned = c_hi - c_lo
        if int(r["hi_bucket_incl"]) != hi or int(r["rows_planned"]) != planned:
            errs.append(f"pid {pid}: {dict(r)} vs hi {hi} rows {planned}")
        prev = hi
    return errs


@audit("doc_length_lognormal_fit")
def a_loglen(data: Data, row) -> list[str]:
    d = data.table("documents")
    nc = d["n_chars"].to_numpy()
    nc = nc[nc > 0]
    ln_e6 = np.floor(np.log(nc.astype(np.float64)) * 1e6).astype(np.int64)
    n = len(ln_e6)
    s1, s2 = int(ln_e6.sum()), int((ln_e6.astype(object) ** 2).sum())
    med = int(np.sort(nc)[(n + 1) // 2 - 1])
    return check(
        "loglen",
        row,
        {
            "n_docs": (n, 0),
            "ln_mu_e6": (s1 // n, 0),
            "ln_sigma2_e6": ((s2 * n - s1 * s1) // (n * (n - 1)) // 10**6, 0),
            "median_chars": (med, 0),
        },
    )


_STOPWORDS_AUDIT = (
    "the of and to a in is it that for on with as at by an be this "
    "which or from are was not but had his they her she you we"
).split()


@audit("kl_source_divergence")
def a_kl_src(data: Data, rows) -> list[str]:
    tok = _tokens(data)
    wc = tok.groupby(["source", "w"]).size()
    vocab = tok.groupby("w").size()
    Vn, N = len(vocab), int(vocab.sum())
    errs = []
    got = {r["source"]: r for r in rows}
    for src, g in tok.groupby("source"):
        ns = len(g)
        kl = 0
        for w, cw in vocab.items():
            c = int(wc.get((src, w), 0))
            p = (c + 1) / (ns + Vn)
            q = cw / N
            kl += math.floor(1e6 * p * math.log2(p / q))
        r = got.get(src)
        if r is None:
            errs.append(f"source {src} missing")
        elif int(r["n_tokens"]) != ns or abs(int(r["kl_microbits"]) - kl) > 1:
            errs.append(f"{src}: {dict(r)} vs ({ns},{kl})")
    return errs


@audit("js_divergence_sources")
def a_js_src(data: Data, rows) -> list[str]:
    tok = _tokens(data)
    wc = tok.groupby(["source", "w"]).size()
    stot = tok.groupby("source").size()
    sources = sorted(stot.index)
    errs = []
    got = {(r["src_a"], r["src_b"]): r for r in rows}
    import itertools

    for sa, sb in itertools.combinations(sources, 2):
        na, nb = int(stot[sa]), int(stot[sb])
        wa = wc[sa]
        wb = wc[sb]
        shared = set(wa.index) & set(wb.index)
        sm = 0
        ca_sh = cb_sh = 0
        for w in shared:
            pa, pb = int(wa[w]) / na, int(wb[w]) / nb
            m = (pa + pb) / 2
            sm += math.floor(5e5 * pa * math.log2(pa / m))
            sm += math.floor(5e5 * pb * math.log2(pb / m))
            ca_sh += int(wa[w])
            cb_sh += int(wb[w])
        js = sm + (na - ca_sh) * 500000 // na + (nb - cb_sh) * 500000 // nb
        r = got.get((sa, sb))
        if r is None:
            errs.append(f"pair {sa},{sb} missing")
        elif abs(int(r["js_microbits"]) - js) > 2:
            errs.append(f"{sa},{sb}: {r['js_microbits']} vs {js}")
    return errs


@audit("msttr_lexical_diversity")
def a_msttr(data: Data, rows) -> list[str]:
    d = data.table("documents")
    SEG = 50
    from collections import defaultdict

    segs = defaultdict(list)   # source -> list of distinct counts
    for source, text in zip(d["source"], d["text"]):
        s = text.strip()
        if not s:
            continue
        tk = _re.split(r"\s+", s.lower())
        for k in range(len(tk) // SEG):
            segs[source].append(len(set(tk[k * SEG : (k + 1) * SEG])))
    errs = []
    got = {r["source"]: r for r in rows}
    for src, vs in segs.items():
        r = got.get(src)
        want = sum(vs) * 1_000_000 // (len(vs) * SEG)
        if r is None:
            errs.append(f"source {src} missing")
        elif int(r["n_segments"]) != len(vs) or int(r["msttr_e6"]) != want:
            errs.append(f"{src}: {dict(r)} vs ({len(vs)},{want})")
    return errs


@audit("stopword_chi2_drift")
def a_stopchi(data: Data, row) -> list[str]:
    tok = _tokens(data)
    stop = set(_STOPWORDS_AUDIT)
    per = tok.groupby("source")["w"].agg(
        n_s="count", o_s=lambda s: int(s.isin(stop).sum())
    )
    N, O, S = int(per["n_s"].sum()), int(per["o_s"].sum()), len(per)
    chi2 = sum(
        (int(r.o_s) * N - int(r.n_s) * O) ** 2 * 1_000_000
        // (int(r.n_s) * O * N)
        for r in per.itertuples()
    )
    return check(
        "stopchi",
        row,
        {
            "n_sources": (S, 0),
            "n_tokens": (N, 0),
            "n_stopwords": (O, 0),
            "chi2_e6": (chi2, 0),
        },
    )


@audit("hapax_ratio_by_source")
def a_hapax_src(data: Data, rows) -> list[str]:
    tok = _tokens(data)
    errs = []
    got = {r["source"]: r for r in rows}
    for src, g in tok.groupby("source"):
        tf = g.groupby("w").size()
        n, v = int(tf.sum()), len(tf)
        v1, v2 = int((tf == 1).sum()), int((tf == 2).sum())
        r = got.get(src)
        if r is None:
            errs.append(f"source {src} missing")
            continue
        if (
            int(r["n_tokens"]) != n
            or int(r["vocab"]) != v
            or int(r["v1"]) != v1
            or int(r["v2"]) != v2
            or int(r["hapax_ratio_e6"]) != v1 * 1_000_000 // v
        ):
            errs.append(f"{src}: counts {dict(r)} vs ({n},{v},{v1},{v2})")
            continue
        if v - v1 > 0:
            want_h = math.floor(10000 * math.log(n) * v / (v - v1))
            if abs(int(r["honore_e2"]) - want_h) > 1:
                errs.append(f"{src}: honore {r['honore_e2']} vs {want_h}")
    return errs


# ===========================================================================
# audits — tier r9a: paired / rank / ordinal second wave
# ===========================================================================


def _paired_months(data: Data) -> np.ndarray:
    o = data.table("orders")
    yr = o["o_orderdate"].dt.year
    sel = o[yr.isin([1997, 1998])]
    cents = np.round(sel["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "yr": sel["o_orderdate"].dt.year.to_numpy(),
                "mo": sel["o_orderdate"].dt.month.to_numpy(),
                "c": cents,
            }
        )
        .groupby(["yr", "mo"])["c"]
        .sum()
        .unstack(0)
        .dropna()
    )
    return (g[1998] - g[1997]).to_numpy().astype(np.int64)


@audit("wilcoxon_signed_rank")
def a_wilcoxon(data: Data, row) -> list[str]:
    d = _paired_months(data)
    d = d[d != 0]
    ad = np.abs(d)
    r2 = 2 * pd.Series(ad).rank(method="average").to_numpy()
    w2p = float(r2[d > 0].sum())
    sr2 = float(r2.sum())
    sr2sq = float((r2**2).sum())
    z2 = (2 * w2p - sr2) ** 2 / sr2sq
    return check(
        "wilcoxon",
        row,
        {
            "n_pairs": (len(d), 0),
            "w2_plus": (w2p, 0),
            "z2_ppm": (z2 * 1e6, 2),
            "reject_no_shift": (1 if z2 * 1e6 > 3_841_458 else 0, 0),
        },
    )


@audit("sign_test_paired")
def a_sign_test(data: Data, row) -> list[str]:
    d = _paired_months(data)
    m = int((d != 0).sum())
    k = int((d > 0).sum())
    comb = [math.comb(m, i) for i in range(m + 1)]
    num_ge = sum(comb[k:])
    num_le = sum(comb[: k + 1])
    p_e6 = min(
        1_000_000, 2 * (min(num_ge, num_le) * 1_000_000 // (1 << m))
    )
    return check(
        "sign",
        row,
        {
            "n_nonzero": (m, 0),
            "n_positive": (k, 0),
            "p_two_sided_e6": (p_e6, 0),
            "reject_at_5pct": (1 if p_e6 < 50_000 else 0, 0),
        },
    )


@audit("cox_stuart_trend")
def a_cox_stuart(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy()
    n = len(y)
    off = (n + 1) // 2
    pairs = [(y[i], y[i + off]) for i in range(n // 2) if i + off < n]
    m = sum(1 for a, b in pairs if a != b)
    sp = sum(1 for a, b in pairs if b > a)
    z2 = max(abs(2 * sp - m) - 1, 0) ** 2 * 1_000_000 // m
    return check(
        "coxstuart",
        row,
        {
            "n_untied_pairs": (m, 0),
            "n_increases": (sp, 0),
            "z2_ppm": (z2, 0),
            "reject_no_trend": (1 if z2 > 3_841_458 else 0, 0),
        },
    )


@audit("turning_points_test")
def a_turning(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.int64)
    n = len(y)
    d1 = y[1:-1] - y[:-2]
    d2 = y[2:] - y[1:-1]
    tp = int(np.sum(d1 * d2 < 0))
    z2 = (3 * tp - 2 * (n - 2)) ** 2 * 10_000_000 // (16 * n - 29)
    return check(
        "turning",
        row,
        {
            "n_days": (n, 0),
            "n_turning_points": (tp, 0),
            "expected_tp_e6": (2 * (n - 2) * 1_000_000 // 3, 0),
            "z2_ppm": (z2, 0),
            "reject_randomness": (1 if z2 > 3_841_458 else 0, 0),
        },
    )


@audit("brunner_munzel")
def a_bm(data: Data, row) -> list[str]:
    x, y = data.expand_two_groups()
    n1, n2 = len(x), len(y)

    def placements(a, b):
        # for each a_i: #(b < a_i) + 0.5 * #(b == a_i)
        bs = np.sort(b)
        lt = np.searchsorted(bs, a, side="left")
        le = np.searchsorted(bs, a, side="right")
        return lt + 0.5 * (le - lt)

    p1 = placements(x, y)  # group1 among group2
    p2 = placements(y, x)  # group2 among group1
    p_hat = p2.mean() / n1
    s1 = float(np.var(p1, ddof=1))
    s2 = float(np.var(p2, ddof=1))
    V = s1 / (n2 * n2 * n1) + s2 / (n1 * n1 * n2)
    z2 = (p_hat - 0.5) ** 2 / V
    return check(
        "bm",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "p_hat_ppm": (p_hat * 1e6, 1),
            "var_e12": (V * 1e12, 4),
            # z2 = (p_hat - 1/2)^2 / V cancels near p_hat ~ 1/2, so the
            # engine's 1-ppm floor on p_hat amplifies relatively; bound
            # by the propagated floor error instead of a fixed rel tol
            "z2_ppm": (z2 * 1e6, ("rel", 5e-3)),
            "reject_stochastic_equality": (
                1 if z2 * 1e6 > 3_841_458 else 0, 0
            ),
        },
    )


@audit("cliffs_delta_effect")
def a_cliffs(data: Data, row) -> list[str]:
    x, y = data.expand_two_groups()
    ys = np.sort(y)
    gt = np.searchsorted(ys, x, side="left").sum()       # y < x
    lt = (len(ys) - np.searchsorted(ys, x, side="right")).sum()  # y > x
    delta = (int(gt) - int(lt)) / (len(x) * len(y))
    mag = (
        "negligible" if abs(delta) < 0.147
        else "small" if abs(delta) < 0.33
        else "medium" if abs(delta) < 0.474
        else "large"
    )
    errs = check(
        "cliffs",
        row,
        {"n1": (len(x), 0), "n2": (len(y), 0), "delta_ppm": (delta * 1e6, 2)},
    )
    if str(row["magnitude"]) != mag:
        errs.append(f"magnitude {row['magnitude']} vs {mag}")
    return errs


@audit("hodges_lehmann_shift")
def a_hl(data: Data, row) -> list[str]:
    from beacon_data_importer_spark import catalog_r9a as R9A

    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    m = m[m["c_mktsegment"].isin([R9A._BM_SEG_A, R9A._BM_SEG_B])]
    b = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64) // 100000
    seg = m["c_mktsegment"].to_numpy()
    b1 = b[seg == R9A._BM_SEG_A]
    b2 = b[seg == R9A._BM_SEG_B]
    from collections import Counter

    h1, h2 = Counter(b1.tolist()), Counter(b2.tolist())
    diffs = Counter()
    for v1, c1 in h1.items():
        for v2, c2 in h2.items():
            diffs[v1 - v2] += c1 * c2
    tot = sum(diffs.values())
    target = (tot + 1) // 2
    cum = 0
    hl = None
    for dd in sorted(diffs):
        cum += diffs[dd]
        if cum >= target:
            hl = dd
            break
    return check(
        "hl",
        row,
        {
            "n_pairs": (tot, 0),
            "hl_shift_bucket": (hl, 0),
            "hl_shift_cents": (hl * 100000, 0),
        },
    )


def _ordinal_pq(data: Data):
    li = data.table("lineitem")
    cells = (
        li.groupby(["l_discount", "l_quantity"]).size().rename("c").reset_index()
    )
    d = cells["l_discount"].to_numpy()
    q = cells["l_quantity"].to_numpy()
    c = cells["c"].to_numpy().astype(np.float64)
    w = c[:, None] * c[None, :]
    gt_d = d[None, :] > d[:, None]
    eq_d = d[None, :] == d[:, None]
    P = float(w[gt_d & (q[None, :] > q[:, None])].sum())
    Q = float(w[gt_d & (q[None, :] < q[:, None])].sum())
    TY = float(w[gt_d & (q[None, :] == q[:, None])].sum())
    # tied on d, differing on q: each unordered pair counted once
    # (matches the SQL join b.d = a.d AND b.q > a.q)
    TX = float(w[eq_d & (q[None, :] > q[:, None])].sum())
    return P, Q, TY, TX


@audit("kruskal_gamma")
def a_gamma(data: Data, row) -> list[str]:
    P, Q, TY, TX = _ordinal_pq(data)
    return check(
        "gamma",
        row,
        {
            "concordant": (P, 0),
            "discordant": (Q, 0),
            "gamma_ppm": ((P - Q) * 1e6 / (P + Q), 2),
        },
    )


@audit("somers_d")
def a_somers(data: Data, row) -> list[str]:
    P, Q, TY, TX = _ordinal_pq(data)
    return check(
        "somers",
        row,
        {
            "concordant": (P, 0),
            "discordant": (Q, 0),
            "tied_qty_only": (TY, 0),
            "tied_disc_only": (TX, 0),
            "somers_d_qty_given_disc_ppm": ((P - Q) * 1e6 / (P + Q + TY), 2),
            "somers_d_disc_given_qty_ppm": ((P - Q) * 1e6 / (P + Q + TX), 2),
        },
    )


# ===========================================================================
# audits — tier r9b: time-series / forecast-eval second wave
# ===========================================================================


def _tdiv2(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


@audit("quantile_regression_irls")
def a_qr_irls(data: Data, row) -> list[str]:
    day = data.day()
    tt = day["t"].to_numpy().astype(object)
    yy = day["y"].to_numpy().astype(object)
    n = len(yy)

    def wols(w):
        sw = sum(w)
        swt = sum(wi * ti for wi, ti in zip(w, tt))
        swy = sum(wi * yi for wi, yi in zip(w, yy))
        swtt = sum(wi * ti * ti for wi, ti in zip(w, tt))
        swty = sum(wi * ti * yi for wi, ti, yi in zip(w, tt, yy))
        b = _tdiv2((sw * swty - swt * swy) * 10**6, sw * swtt - swt * swt)
        a = _tdiv2(swy * 10**6 - b * swt, sw)
        return a, b

    a, b = wols([1] * n)
    for _ in range(3):
        w = [
            _tdiv2(10**12, max(abs(yi * 10**6 - a - b * ti), 10**6))
            for ti, yi in zip(tt, yy)
        ]
        a, b = wols(w)
    mar = _tdiv2(
        sum(abs(yi * 10**6 - a - b * ti) for ti, yi in zip(tt, yy)), n
    )
    errs = check(
        "qr",
        row,
        {
            "n_days": (n, 0),
            "intercept_ppm": (a, 0),
            "slope_ppm": (b, 0),
            "mean_abs_resid_e6": (mar, 0),
        },
    )
    # formula sanity: the IRLS line must beat plain OLS on L1 loss
    ybar = float(np.mean([float(v) for v in yy]))
    tbar = float(np.mean([float(v) for v in tt]))
    tf = np.array([float(v) for v in tt])
    yf = np.array([float(v) for v in yy])
    bo = float(np.sum((tf - tbar) * (yf - ybar)) / np.sum((tf - tbar) ** 2))
    ao = ybar - bo * tbar
    l1_ols = float(np.mean(np.abs(yf - ao - bo * tf)))
    if mar / 1e6 > l1_ols + 1e-9:
        errs.append(f"IRLS L1 {mar/1e6} worse than OLS L1 {l1_ols}")
    return errs


def _granger_frame(data: Data):
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    t = (o["o_orderdate"] - o["o_orderdate"].min()).dt.days
    g = pd.DataFrame({"t": t, "c": cents}).groupby("t").agg(
        x=("c", "size"), csum=("c", "sum")
    )
    g["y"] = g["csum"] // 100000
    return g.sort_index()


@audit("granger_lag1_test")
def a_granger(data: Data, row) -> list[str]:
    g = _granger_frame(data)
    idx = g.index.to_numpy()
    nxt = {t: i for i, t in enumerate(idx)}
    a = []  # today's revenue
    b = []  # yesterday's revenue
    c = []  # yesterday's order count
    for t in idx:
        if t + 1 in nxt:
            a.append(g["y"].iloc[nxt[t + 1]])
            b.append(g["y"].iloc[nxt[t]])
            c.append(g["x"].iloc[nxt[t]])
    a, b, c = map(lambda v: np.array(v, dtype=np.float64), (a, b, c))
    n = len(a)
    # the engine floors each marginal correlation to e6 BEFORE the
    # partial-correlation identity; replay that one staging step
    r_yl = math.floor(np.corrcoef(a, b)[0, 1] * 1e6)
    r_yx = math.floor(np.corrcoef(a, c)[0, 1] * 1e6)
    r_lx = math.floor(np.corrcoef(b, c)[0, 1] * 1e6)
    r2r = r_yl * r_yl // 10**6
    r2u = (
        (r_yl * r_yl + r_yx * r_yx - (2 * r_yl * r_yx // 10**6) * r_lx)
        * 10**6
        // (10**12 - r_lx * r_lx)
    )
    f = (r2u - r2r) * (n - 3) * 10**6 // (10**6 - r2u)
    return check(
        "granger",
        row,
        {
            "n_pairs": (n, 0),
            "r2_restricted_ppm": (r2r, 2),
            "r2_unrestricted_ppm": (r2u, 2),
            "f_ppm": (f, ("rel", 1e-3)),
        },
    )


def _ols_resid_e(data: Data):
    """The _resid_ctes device: D-scaled residuals div 1e9."""
    day = data.day()
    tt = day["t"].to_numpy().astype(object)
    yy = day["y"].to_numpy().astype(object)
    n = len(yy)
    s_t, s_y = sum(tt), sum(yy)
    s_tt = sum(ti * ti for ti in tt)
    s_ty = sum(ti * yi for ti, yi in zip(tt, yy))
    dd = n * s_tt - s_t * s_t
    bb = n * s_ty - s_t * s_y
    aa = s_y * s_tt - s_t * s_ty
    es = [
        _tdiv2(dd * yi - aa - bb * ti, 10**9)
        for ti, yi in zip(tt, yy)
    ]
    return day["t"].to_numpy(), np.array(es, dtype=np.float64)


@audit("arch_lm_test")
def a_arch(data: Data, row) -> list[str]:
    t, es = _ols_resid_e(data)
    e2 = np.array([_tdiv2(int(e) * int(e), 10**6) for e in es],
                  dtype=np.float64)
    pos = {tv: i for i, tv in enumerate(t)}
    u, v = [], []
    for tv in t:
        if tv + 1 in pos:
            u.append(e2[pos[tv + 1]])
            v.append(e2[pos[tv]])
    u, v = np.array(u), np.array(v)
    n = len(u)
    r = math.floor(np.corrcoef(u, v)[0, 1] * 1e6)
    lm = n * r * r // 10**6
    return check(
        "arch",
        row,
        {
            "n_pairs": (n, 0),
            "lag1_sq_corr_ppm": (r, 2),
            "lm_ppm": (lm, ("rel", 1e-4)),
            "reject_no_arch": (1 if lm > 3_841_458 else 0, 0),
        },
    )


@audit("yule_walker_ar2")
def a_yw(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.float64)
    n = len(y)
    d = n * y - y.sum()
    pos = {tv: i for i, tv in enumerate(t)}
    den = float(np.sum(d * d))

    def ac(lag):
        s = 0.0
        for tv in t:
            if tv + lag in pos:
                s += d[pos[tv]] * d[pos[tv + lag]]
        return math.floor(s * 1e6 / den)

    r1, r2 = ac(1), ac(2)
    phi1 = _tdiv2(r1 * (10**6 - r2) * 10**6, 10**12 - r1 * r1)
    phi2 = _tdiv2((r2 * 10**6 - r1 * r1) * 10**6, 10**12 - r1 * r1)
    innov = 10**6 - _tdiv2(phi1 * r1, 10**6) - _tdiv2(phi2 * r2, 10**6)
    return check(
        "yw",
        row,
        {
            "r1_ppm": (r1, 1),
            "r2_ppm": (r2, 1),
            "phi1_ppm": (phi1, 3),
            "phi2_ppm": (phi2, 3),
            "innovation_ratio_ppm": (innov, 4),
        },
    )


@audit("diebold_mariano_test")
def a_dm(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.int64)
    pos = {tv: i for i, tv in enumerate(t)}
    ds = []
    for tv in t:
        if tv + 1 in pos and tv + 2 in pos:
            y0, y1, y2 = (
                int(y[pos[tv]]), int(y[pos[tv + 1]]), int(y[pos[tv + 2]])
            )
            ds.append((y2 - 2 * y1 + y0) ** 2 - (y2 - y1) ** 2)
    m = len(ds)
    sd = sum(ds)
    sdd = sum(d * d for d in ds)
    z2 = _tdiv2(sd * sd * (m - 1) * 10**6, m * sdd - sd * sd)
    return check(
        "dm",
        row,
        {
            "n_triples": (m, 0),
            "loss_diff_sum": (sd, 0),
            "z2_ppm": (z2, 0),
            "drift_loss_lower": (1 if sd < 0 else 0, 0),
        },
    )


@audit("tracking_signal_audit")
def a_tracking(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.int64)
    pos = {tv: i for i, tv in enumerate(t)}
    errs_seq = [
        (tv + 1, int(y[pos[tv + 1]]) - int(y[pos[tv]]))
        for tv in t if tv + 1 in pos
    ]
    ce = ca = 0
    n_alarm = 0
    final = None
    worst = (0, None)
    for i, (tv, e) in enumerate(sorted(errs_seq), 1):
        ce += e
        ca += abs(e)
        ts = _tdiv2(ce * i * 10**6, ca)
        final = ts
        if abs(ts) > 4_000_000:
            n_alarm += 1
        if abs(ts) > worst[0]:
            worst = (abs(ts), tv, ts)
    return check(
        "tracking",
        row,
        {
            "n_days": (len(errs_seq), 0),
            "n_alarm_days": (n_alarm, 0),
            "final_ts_ppm": (final, 0),
            "worst_day": (worst[1], 0),
            "worst_ts_ppm": (worst[2], 0),
        },
    )


@audit("permutation_entropy")
def a_perm_entropy(data: Data, row) -> list[str]:
    from collections import Counter

    y = data.day()["y"].to_numpy().astype(np.int64)
    pats = Counter()
    for i in range(len(y) - 2):
        a, b, c = int(y[i]), int(y[i + 1]), int(y[i + 2])
        pats[(b >= a) * 4 + (c >= a) * 2 + (c >= b)] += 1
    m = sum(pats.values())
    h = math.floor(1e6 * math.log(m)) - sum(
        cnt * math.floor(1e6 * math.log(cnt)) for cnt in pats.values()
    ) // m
    return check(
        "pe",
        row,
        {
            "n_triples": (m, 0),
            "n_patterns_observed": (len(pats), 0),
            "h_e6": (h, 1),
            "normalized_ppm": (h * 10**6 // 1_791_759, 1),
        },
    )


@audit("sen_slope_seasonal")
def a_sen_seasonal(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "yr": o["o_orderdate"].dt.year,
                "mo": o["o_orderdate"].dt.month,
                "c": cents,
            }
        )
        .groupby(["yr", "mo"])["c"]
        .sum()
    )
    from collections import Counter

    slopes = Counter()
    for (yr1, mo1), r1 in g.items():
        for (yr2, mo2), r2 in g.items():
            if mo2 == mo1 and yr2 > yr1:
                slopes[_tdiv2((int(r2) - int(r1)) * 10**6,
                              (yr2 - yr1) * 12)] += 1
    tot = sum(slopes.values())
    target = (tot + 1) // 2
    cum = 0
    med = None
    for s in sorted(slopes):
        cum += slopes[s]
        if cum >= target:
            med = s
            break
    return check(
        "sen_seasonal",
        row,
        {
            "n_pairs": (tot, 0),
            "sen_slope_cents_per_month_e6": (med, 0),
        },
    )


@audit("ewma_control_chart")
def a_ewma_cc(data: Data, row) -> list[str]:
    day = data.day()
    y = day["y"].to_numpy().astype(object)
    n = len(y)
    s = sum(y)
    q = sum(v * v for v in y)
    mu = _tdiv2(s * 10**6, n)
    band2 = _tdiv2(3 * (n * q - s * s) * 10**12, n * n)
    W = (64, 32, 16, 8, 4, 2, 1)
    n_mon = 0
    n_out = 0
    worst = (-1, None)
    for i in range(len(y)):
        if i - 6 < 0:
            continue
        z64 = sum(w * int(y[i - j]) for j, w in enumerate(W))
        z = _tdiv2(z64 * 10**6, 127)
        dev2 = (z - mu) ** 2
        n_mon += 1
        if dev2 > band2:
            n_out += 1
        if dev2 > worst[0]:
            worst = (dev2, int(day["t"].iloc[i]))
    return check(
        "ewma_cc",
        row,
        {
            "n_days": (n, 0),
            "n_monitored": (n_mon, 0),
            "n_out_of_control": (n_out, 0),
            "worst_day": (worst[1], 0),
            "worst_dev2_ratio_ppm": (
                _tdiv2(worst[0] * 10**6, band2), 0
            ),
        },
    )


# ===========================================================================
# audits — tier r9c: categorical / causal / agreement
# ===========================================================================


@audit("g_test_independence")
def a_gtest(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    cells = li.groupby(["l_returnflag", "l_linestatus"]).size()
    rm = cells.groupby(level=0).sum()
    cm = cells.groupby(level=1).sum()
    n = int(cells.sum())
    g = sum(
        2 * int(o) * math.floor(
            1e6 * math.log(int(o) * n / (int(rm[rf]) * int(cm[ls])))
        )
        for (rf, ls), o in cells.items()
    )
    df = (len(rm) - 1) * (len(cm) - 1)
    return check(
        "gtest",
        row,
        {
            "n_rows": (n, 0),
            "n_cells": (len(cells), 0),
            "df": (df, 0),
            "g_e6": (g, 2),
        },
    )


@audit("bayesian_shrinkage_rates")
def a_ebshrink(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    m = o.merge(
        c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
        right_on="c_custkey",
    ).merge(nt[["n_nationkey", "n_name"]], left_on="c_nationkey",
            right_on="n_nationkey")
    per = m.groupby("n_name").agg(
        n=("o_orderkey", "size"),
        a=("o_orderpriority", lambda s: int((s == "1-URGENT").sum())),
    )
    per["p"] = per["a"] * 1_000_000 // per["n"]
    k = len(per)
    m_ppm = int(per["p"].sum()) // k
    v = int(((per["p"] - m_ppm) ** 2).sum()) // (k - 1)
    kappa = max(0, m_ppm * (1_000_000 - m_ppm) * 1_000_000 // v - 1_000_000)
    errs = []
    got = {r["nation"]: r for r in rows}
    for nation, rr in per.iterrows():
        g = got.get(nation)
        if g is None:
            errs.append(f"{nation} missing")
            continue
        shrunk = (
            (m_ppm * kappa // 1_000_000 + int(rr["a"]) * 1_000_000)
            * 1_000_000
            // (kappa + int(rr["n"]) * 1_000_000)
        )
        pw = kappa * 1_000_000 // (kappa + int(rr["n"]) * 1_000_000)
        if (
            int(g["raw_ppm"]) != int(rr["p"])
            or int(g["shrunk_ppm"]) != shrunk
            or int(g["prior_weight_ppm"]) != pw
            or int(g["grand_rate_ppm"]) != m_ppm
        ):
            errs.append(f"{nation}: {dict(g)} vs ({rr['p']},{shrunk},{pw})")
    return errs


@audit("ratio_metric_delta_ci")
def a_ratio_ci(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    cust = pd.DataFrame(
        {"ck": o["o_custkey"], "c": cents}
    ).groupby("ck").agg(x=("c", "sum"), y=("c", "size"))
    cust["variant"] = cust.index % 2
    errs = []
    got = {int(r["variant"]): r for r in rows}
    for var, g in cust.groupby("variant"):
        x = g["x"].to_numpy().astype(np.float64)
        y = g["y"].to_numpy().astype(np.float64)
        n = len(g)
        ratio_c = int(g["x"].sum()) * 100 // int(g["y"].sum())
        R = x.sum() / y.sum()
        # delta method: Var(ratio) ~ S/(n*(n-1)*ybar^2) with
        # S = Sxx - 2R*Sxy + R^2*Syy (per SQL: /(n(n-1)n) then /ybar)
        cxx = n * np.sum(x * x) - x.sum() ** 2
        cyy = n * np.sum(y * y) - y.sum() ** 2
        cxy = n * np.sum(x * y) - x.sum() * y.sum()
        half = (
            1.959963
            * math.sqrt(
                max(cxx - 2 * R * cxy + R * R * cyy, 0)
                / (n * (n - 1) * n)
            )
            / (y.sum() / n)
            * 100
        )
        r = got.get(int(var))
        if r is None:
            errs.append(f"variant {var} missing")
            continue
        errs += check(
            f"ratio v{var}",
            r,
            {
                "n_customers": (n, 0),
                "revenue_per_order_c": (ratio_c, 0),
                "ci_half_c": (half, 2),
            },
        )
    return errs


@audit("evalue_sensitivity")
def a_evalue(data: Data, row) -> list[str]:
    o = data.table("orders")
    x = (o["o_orderpriority"] == "1-URGENT").to_numpy()
    y = (
        np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
        > 30_000_000
    )
    a = int((x & y).sum())
    b = int((x & ~y).sum())
    c = int((~x & y).sum())
    d = int((~x & ~y).sum())
    rr = a * (c + d) * 1_000_000 // (c * (a + b))
    rr_star = rr if rr >= 1_000_000 else 10**12 // rr
    ev = rr_star + math.floor(math.sqrt(rr_star * (rr_star - 1_000_000)))
    return check(
        "evalue",
        row,
        {
            "n_urgent_high": (a, 0),
            "n_urgent_low": (b, 0),
            "n_other_high": (c, 0),
            "n_other_low": (d, 0),
            "rr_ppm": (rr, 0),
            "evalue_ppm": (ev, 1),
        },
    )


@audit("overlap_weights_ato")
def a_ato(data: Data, row) -> list[str]:
    o = data.table("orders")
    li = data.table("lineitem")
    lat = (
        li.merge(o[["o_orderkey", "o_orderdate"]], left_on="l_orderkey",
                 right_on="o_orderkey")
        .assign(
            lat=lambda d: (d["l_shipdate"] - d["o_orderdate"]).dt.days
        )
        .groupby("l_orderkey")["lat"]
        .min()
    )
    u = o[o["o_orderkey"].isin(lat.index)].copy()
    u["lat"] = u["o_orderkey"].map(lat)
    u["bkt"] = (
        np.round(u["o_totalprice"].to_numpy() * 100).astype(np.int64)
        // 2_500_000
    )
    u["z"] = (u["o_orderpriority"] == "1-URGENT").astype(int)
    ps = (
        u.groupby("bkt")["z"].agg(["sum", "size"])
        .assign(e=lambda d: d["sum"] * 1_000_000 // d["size"])
    )
    u["e"] = u["bkt"].map(ps["e"])
    u = u[(u["e"] > 0) & (u["e"] < 1_000_000)]
    u["w"] = np.where(u["z"] == 1, 1_000_000 - u["e"], u["e"])
    t_, c_ = u[u["z"] == 1], u[u["z"] == 0]
    ato = int((t_["w"] * t_["lat"]).sum()) * 1_000_000 // int(
        t_["w"].sum()
    ) - int((c_["w"] * c_["lat"]).sum()) * 1_000_000 // int(c_["w"].sum())
    naive = int(t_["lat"].sum()) * 1_000_000 // len(t_) - int(
        c_["lat"].sum()
    ) * 1_000_000 // len(c_)
    return check(
        "ato",
        row,
        {
            "n_treated": (len(t_), 0),
            "n_control": (len(c_), 0),
            "ato_latency_days_e6": (ato, 2),
            "naive_diff_days_e6": (naive, 2),
        },
    )


@audit("kendall_w_concordance")
def a_kendall_w(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    cents = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "ym": m["o_orderdate"].dt.year * 100
                + m["o_orderdate"].dt.month,
                "seg": m["c_mktsegment"],
                "c": cents,
            }
        )
        .groupby(["ym", "seg"])["c"]
        .sum()
        .reset_index()
    )
    full = g.groupby("ym").size()
    full = set(full[full == 5].index)
    g = g[g["ym"].isin(full)]
    n = len(full)
    # rank within month by (rev, seg)
    g = g.sort_values(["ym", "c", "seg"])
    g["r"] = g.groupby("ym").cumcount() + 1
    rj = g.groupby("seg")["r"].sum()
    s2 = int(sum((2 * int(v) - n * 6) ** 2 for v in rj))
    w = 3 * s2 * 1_000_000 // (n * n * 5 * 24)
    return check(
        "kendall_w",
        row,
        {
            "n_blocks": (n, 0),
            "w_ppm": (w, 0),
            "chi2_ppm": (n * 4 * w, 0),
        },
    )


# ===========================================================================
# audits — tier r9g: AD2 / drift / Sen CI / tau-b / median polish
# ===========================================================================


@audit("anderson_darling_2sample")
def a_ad2(data: Data, row) -> list[str]:
    x, y = data.expand_two_groups()
    n, m = len(x), len(y)
    N = n + m
    zs = np.sort(np.concatenate([x, y]))
    vals = np.unique(zs)
    xs, ys2 = np.sort(x), np.sort(y)
    # staged replay: per-stratum e6 floors summed then / (n*m),
    # cross-checked below against the pure-float Pettitt form
    a2_e6 = 0
    for v in vals:
        c = int(np.searchsorted(zs, v, side="right")
                - np.searchsorted(zs, v, side="left"))
        ca = int(np.searchsorted(xs, v, side="right"))
        cb = int(np.searchsorted(ys2, v, side="right"))
        H = ca + cb
        if H < N:
            a2_e6 += c * (m * ca - n * cb) ** 2 * 1_000_000 // (H * (N - H))
    a2_e6 //= n * m
    # textbook float value for the formula-level check
    a2_float = sum(
        (int(np.searchsorted(zs, v, side="right"))
         - int(np.searchsorted(zs, v, side="left")))
        * (m * int(np.searchsorted(xs, v, side="right"))
           - n * int(np.searchsorted(ys2, v, side="right"))) ** 2
        / ((int(np.searchsorted(xs, v, side="right"))
            + int(np.searchsorted(ys2, v, side="right")))
           * (N - int(np.searchsorted(xs, v, side="right"))
              - int(np.searchsorted(ys2, v, side="right"))))
        for v in vals
        if int(np.searchsorted(xs, v, side="right"))
        + int(np.searchsorted(ys2, v, side="right")) < N
    ) / (n * m)
    errs = check(
        "ad2",
        row,
        {"n1": (n, 0), "n2": (m, 0), "a2_e6": (a2_e6, 0)},
    )
    if abs(a2_float * 1e6 - a2_e6) > 200:
        errs.append(f"staged {a2_e6} vs float {a2_float*1e6:.0f}")
    return errs


@audit("page_hinkley_drift")
def a_page_hinkley(data: Data, row) -> list[str]:
    day = data.day()
    y = day["y"].to_numpy().astype(np.int64)
    t = day["t"].to_numpy()
    lam = (int(y.sum()) * 1_000_000 // len(y)) // 10
    cy = 0
    mm = 0
    mn = 0
    n_alarm = 0
    first = -1
    maxph = None
    for i in range(len(y)):
        cy += int(y[i])
        d = int(y[i]) * 1_000_000 - cy * 1_000_000 // (i + 1)
        mm += d
        mn = min(mn, mm)
        ph = mm - mn
        maxph = ph if maxph is None else max(maxph, ph)
        if ph > lam:
            n_alarm += 1
            if first < 0:
                first = int(t[i])
    return check(
        "ph",
        row,
        {
            "n_days": (len(y), 0),
            "lambda_e6": (lam, 0),
            "n_alarm_days": (n_alarm, 0),
            "first_alarm_day": (first, 0),
            "max_ph_e6": (maxph, 0),
        },
    )


@audit("theil_sen_ci")
def a_tsci(data: Data, row) -> list[str]:
    y = _months(data).astype(np.int64)
    n = len(y)
    slopes = sorted(
        _tdiv2((int(y[j]) - int(y[i])) * 10**6, j - i)
        for i in range(n) for j in range(i + 1, n)
    )
    ns = len(slopes)
    c_alpha = math.floor(
        math.sqrt(3.841458 * n * (n - 1) * (2 * n + 5) / 18.0)
    )
    r_lo = max(1, (ns - c_alpha) // 2)
    r_hi = min(ns, (ns + c_alpha) // 2 + 1)
    r_med = (ns + 1) // 2
    return check(
        "tsci",
        row,
        {
            "n_months": (n, 0),
            "n_pairs": (ns, 0),
            "c_alpha": (c_alpha, 0),
            "sen_slope_cents_per_month_e6": (slopes[r_med - 1], 0),
            "ci_lo_e6": (slopes[r_lo - 1], 0),
            "ci_hi_e6": (slopes[r_hi - 1], 0),
        },
    )


@audit("kendall_tau_b")
def a_taub(data: Data, row) -> list[str]:
    P, Q, TY, TX = _ordinal_pq(data)
    taub = (P - Q) / math.sqrt((P + Q + TX) * (P + Q + TY))
    return check(
        "taub",
        row,
        {
            "concordant": (P, 0),
            "discordant": (Q, 0),
            "tied_disc_only": (TX, 0),
            "tied_qty_only": (TY, 0),
            "tau_b_ppm": (taub * 1e6, 2),
        },
    )


@audit("median_polish_lite")
def a_median_polish(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    cents = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "ym": m["o_orderdate"].dt.year * 100
                + m["o_orderdate"].dt.month,
                "seg": m["c_mktsegment"],
                "v": cents,
            }
        )
        .groupby(["ym", "seg"])["v"]
        .sum()
        .reset_index()
    )
    full = g.groupby("ym").size()
    g = g[g["ym"].isin(set(full[full == 5].index))]
    piv = g.pivot(index="ym", columns="seg", values="v").astype(np.int64)

    def lowmed_series(s, tie):
        order = sorted(zip(s, tie))
        return order[(len(order) + 1) // 2 - 1][0]

    # sweep 1: row medians (rank 3 of 5, ties by seg)
    re1 = {}
    for ym, rr in piv.iterrows():
        re1[ym] = sorted(zip(rr.to_numpy(), rr.index))[2][0]
    s1 = piv.sub(pd.Series(re1), axis=0)
    # col medians (lower median, ties by ym)
    ce1 = {
        seg: lowmed_series(s1[seg].to_numpy(), s1.index)
        for seg in s1.columns
    }
    s2 = s1.sub(pd.Series(ce1), axis=1)
    re2 = {}
    for ym, rr in s2.iterrows():
        re2[ym] = sorted(zip(rr.to_numpy(), rr.index))[2][0]
    s3 = s2.sub(pd.Series(re2), axis=0)
    ce2 = {
        seg: lowmed_series(s3[seg].to_numpy(), s3.index)
        for seg in s3.columns
    }
    resid = s3.sub(pd.Series(ce2), axis=1)
    errs = []
    got = {r["segment"]: r for r in rows}
    for seg in piv.columns:
        r = got.get(seg)
        eff = int(ce1[seg] + ce2[seg])
        ar = np.abs(resid[seg].to_numpy().astype(np.int64))
        if r is None:
            errs.append(f"{seg} missing")
        elif (
            int(r["segment_effect_c"]) != eff
            or int(r["max_abs_resid_c"]) != int(ar.max())
            or int(r["mean_abs_resid_c"]) != int(ar.sum()) // len(ar)
        ):
            errs.append(
                f"{seg}: {dict(r)} vs eff {eff} max {ar.max()}"
            )
    return errs


# ===========================================================================
# audits — tier r9h: modern dependence, combined tests, EVT
# ===========================================================================


@audit("chatterjee_xi")
def a_xi(data: Data, rows) -> list[str]:
    g = _granger_frame(data).reset_index()
    errs = []
    got = {r["direction"]: r for r in rows}

    def xi(xcol, ycol, label):
        d = g.sort_values([xcol, "t"]).reset_index(drop=True)
        yy = d[ycol].to_numpy()
        n = len(yy)
        r = np.array([int(np.sum(yy <= v)) for v in yy], dtype=np.int64)
        l = np.array([int(np.sum(yy >= v)) for v in yy], dtype=np.int64)
        num = int(np.abs(np.diff(r)).sum())
        den = 2 * int(np.sum(l * (n - l)))
        xi_ppm = 1_000_000 - n * num * 1_000_000 // den
        rr = got.get(label)
        if rr is None:
            errs.append(f"{label} missing")
        elif int(rr["n_days"]) != n or int(rr["xi_ppm"]) != xi_ppm:
            errs.append(f"{label}: {dict(rr)} vs ({n},{xi_ppm})")

    xi("x", "y", "y_on_x")
    xi("y", "x", "x_on_y")
    return errs


@audit("lepage_test")
def a_lepage(data: Data, row) -> list[str]:
    g = data.two_group_hist()
    n1 = int(g["c1"].sum())
    n2 = int(g["c2"].sum())
    N = n1 + n2
    lt = (g["c1"].cumsum() - g["c1"] + g["c2"].cumsum() - g["c2"]).to_numpy()
    cb = (g["c1"] + g["c2"]).to_numpy()
    r2 = 2 * lt + cb + 1
    a2 = np.minimum(r2, 2 * (N + 1) - r2)

    def z2(score):
        s1 = int((g["c1"].to_numpy() * score).sum())
        T = int((cb * score).sum())
        s2 = int((cb * score * score).sum())
        num = (N * s1 - n1 * T) ** 2 // (n1 * n2)
        return num * (N - 1) * 1_000_000 // (N * s2 - T * T)

    zw, za = z2(r2), z2(a2)
    return check(
        "lepage",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "wilcoxon_z2_ppm": (zw, 1),
            "ansari_z2_ppm": (za, 1),
            "lepage_l_ppm": (zw + za, 2),
            "reject_same_loc_scale": (
                1 if zw + za > 5_991_464 else 0, 0
            ),
        },
    )


@audit("quade_test")
def a_quade(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    cents = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "ym": m["o_orderdate"].dt.year * 100
                + m["o_orderdate"].dt.month,
                "seg": m["c_mktsegment"],
                "rev": cents,
            }
        )
        .groupby(["ym", "seg"])["rev"]
        .sum()
        .reset_index()
    )
    full = g.groupby("ym").size()
    g = g[g["ym"].isin(set(full[full == 5].index))]
    g = g.sort_values(["ym", "rev", "seg"])
    g["r"] = g.groupby("ym").cumcount() + 1
    rng = g.groupby("ym")["rev"].agg(lambda s: int(s.max() - s.min()))
    q = {
        ym: i + 1
        for i, (ym, _) in enumerate(
            sorted(rng.items(), key=lambda kv: (kv[1], kv[0]))
        )
    }
    g["s2"] = g["ym"].map(q) * (2 * g["r"] - 6)
    n = g["ym"].nunique()
    A2 = int((g["s2"] ** 2).sum())
    SB2 = int((g.groupby("seg")["s2"].sum() ** 2).sum())
    f = (n - 1) * SB2 * 1_000_000 // (n * A2 - SB2)
    return check(
        "quade",
        row,
        {
            "n_blocks": (n, 0),
            "quade_f_ppm": (f, 0),
            "reject_equal_segments": (
                1 if 4 * f > 9_487_729 else 0, 0
            ),
        },
    )


@audit("gumbel_block_maxima")
def a_gumbel(data: Data, row) -> list[str]:
    day = data.day()
    blk = day.assign(b=day["t"] // 30).groupby("b")["y"].max()
    mx = blk.to_numpy().astype(np.float64)
    n = len(mx)
    mean = mx.mean()
    var = mx.var(ddof=1)
    scale = math.sqrt(6 * var) / math.pi
    loc = mean - 0.5772156649015329 * scale
    rl = loc + 4.600149226776579 * scale
    return check(
        "gumbel",
        row,
        {
            "n_blocks": (n, 0),
            "loc_e6": (loc * 1e6, 3),
            "scale_e6": (scale * 1e6, 2),
            "return_level_100_e6": (rl * 1e6, 4),
            "observed_max_e6": (int(mx.max()) * 1_000_000, 0),
        },
    )


@audit("pot_mean_excess")
def a_pot(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(np.int64)
    n = len(y)
    # threshold: first distinct value whose cumulative count reaches
    # 90% (cum*10 >= 9*n)
    vals, counts = np.unique(y, return_counts=True)
    cum = np.cumsum(counts)
    u = int(vals[np.argmax(cum * 10 >= 9 * n)])
    e = (y[y > u] - u).astype(object)
    k = len(e)
    s = int(sum(e))
    q = int(sum(v * v for v in e))
    # exact integer staging replay
    m_e6 = s * 10**6 // k
    m2v = (s * s * 10**6) // (k * q - s * s) * (k - 1) // k
    xi_i = (10**6 - m2v) // 2
    sigma_i = m_e6 * (10**6 + m2v) // (2 * 10**6)
    # float formula cross-check
    ef = np.array([float(v) for v in e])
    mf, vf = ef.mean(), ef.var(ddof=1)
    errs = check(
        "pot",
        row,
        {
            "threshold": (u, 0),
            "n_exceedances": (k, 0),
            "mean_excess_e6": (m_e6, 0),
            "xi_ppm": (xi_i, 0),
            "sigma_e6": (sigma_i, 0),
            "heavy_tail": (1 if xi_i > 0 else 0, 0),
        },
    )
    if abs((1 - mf * mf / vf) / 2 * 1e6 - xi_i) > 5:
        errs.append(f"xi staging {xi_i} vs float {(1-mf*mf/vf)/2*1e6:.0f}")
    if abs(mf * (1 + mf * mf / vf) / 2 * 1e6 - sigma_i) > 300:
        errs.append(
            f"sigma staging {sigma_i} vs float "
            f"{mf*(1+mf*mf/vf)/2*1e6:.0f}"
        )
    return errs


# ===========================================================================
# audits — classical-test sweep 1 (r5-r8 tiers)
# ===========================================================================


@audit("welch_t_test")
def a_welch(data: Data, row) -> list[str]:
    x, y = data.expand_two_groups()  # $10 units already
    n1, n2 = len(x), len(y)
    m1, m2 = x.mean(), y.mean()
    v1, v2 = np.var(x, ddof=1), np.var(y, ddof=1)
    t2 = (m1 - m2) ** 2 / (v1 / n1 + v2 / n2)
    return check(
        "welch",
        row,
        {
            "n_a": (n1, 0),
            "n_b": (n2, 0),
            "mean_diff_e6": ((m1 - m2) * 1e6, 2),
            "t2_ppm": (t2 * 1e6, ("rel", 1e-4)),
            "significant_95": (1 if t2 * 1e6 > 3_841_600 else 0, 0),
        },
    )


@audit("anova_oneway")
def a_anova(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    v = np.round(m["o_totalprice"].to_numpy() * 100)
    seg = m["c_mktsegment"].to_numpy()
    k = len(np.unique(seg))
    n = len(v)
    grand = v.mean()
    ssb = sum(
        len(v[seg == s]) * (v[seg == s].mean() - grand) ** 2
        for s in np.unique(seg)
    )
    ssw = sum(
        np.sum((v[seg == s] - v[seg == s].mean()) ** 2)
        for s in np.unique(seg)
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    eta2 = ssb / (ssb + ssw)
    return check(
        "anova",
        row,
        {
            "n_groups": (k, 0),
            "n_rows": (n, 0),
            "f_micro": (f * 1e6, 3),
            "eta2_micro": (eta2 * 1e6, 3),
        },
    )


@audit("bartlett_test")
def a_bartlett(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    v = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    grp = m["r_name"].to_numpy()
    groups = [v[grp == g].astype(np.float64) for g in np.unique(grp)]
    k = len(groups)
    N = sum(len(g) for g in groups)
    sp2_num = sum((len(g) - 1) * np.var(g, ddof=1) for g in groups)
    dof = N - k
    # textbook (uncorrected) Bartlett numerator:
    # (N-k) ln(s_p^2) - sum (n_i-1) ln(s_i^2)
    num = dof * math.log(sp2_num / dof) - sum(
        (len(g) - 1) * math.log(np.var(g, ddof=1)) for g in groups
    )
    return check(
        "bartlett",
        row,
        {
            "n_total": (N, 0),
            "k_groups": (k, 0),
            # each of the k per-group ln terms floors once but is
            # WEIGHTED by (n_i - 1), so the staging drift bound is
            # sum(n_i - 1) = N - k units (observed ~400 at sf0.001);
            # the bug this audit caught was 8.5e9 units away.
            "bartlett_raw_e6": (num * 1e6, N - k),
        },
    )


@audit("levene_test")
def a_levene(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    v = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64) // 100
    g = li["l_returnflag"].to_numpy()
    zs = []
    for gv in np.unique(g):
        vals = np.sort(v[g == gv])
        med = vals[(len(vals) + 1) // 2 - 1]
        zs.append(np.abs(v[g == gv] - med).astype(np.float64))
    k = len(zs)
    N = sum(len(z) for z in zs)
    grand = np.concatenate(zs).mean()
    ssb = sum(len(z) * (z.mean() - grand) ** 2 for z in zs)
    ssw = sum(np.sum((z - z.mean()) ** 2) for z in zs)
    f = (ssb / (k - 1)) / (ssw / (N - k))
    return check(
        "levene",
        row,
        {
            "n_items": (N, 0),
            "n_groups": (k, 0),
            "f_ppm": (f * 1e6, ("rel", 2e-3)),
            "significant_95": (1 if f * 1e6 > 2_995_732 else 0, 0),
        },
    )


@audit("jarque_bera_test")
def a_jb(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(object)
    n = len(y)
    S = sum(y)
    # exact staged replay: deviations scaled to (n*y - S) then
    # COMPRESSED by //1000 (keeps the 4th-power sums inside
    # DECIMAL(38) at sf >= 0.1); the compression is a deterministic
    # documented quantization — it biases the moment ratios ~0.5-1%
    # at sf0.001, which the float cross-check below bounds.
    ds = [_tdiv2(n * v - S, 1000) for v in y]
    m2 = sum(d * d for d in ds)
    m3 = sum(d * d * d for d in ds)
    m4 = sum(d * d * d * d for d in ds)
    r = _tdiv2(m3 * 10**6, m2)
    skew2 = _tdiv2(_tdiv2(r * r, m2) * n, 10**6)
    exkurt = _tdiv2(m4 * n * 10**6, m2 * m2) - 3_000_000
    jb = _tdiv2(n * (skew2 + _tdiv2(_tdiv2(exkurt * exkurt, 10**6), 4)), 6)
    errs = check(
        "jb",
        row,
        {
            "n_days": (n, 0),
            "skew2_ppm": (skew2, 0),
            "exkurt_ppm": (exkurt, 0),
            "jb_ppm": (jb, 0),
            "reject_normality": (1 if jb > 5_991_464 else 0, 0),
        },
    )
    yf = np.array([float(v) for v in y])
    d = yf - yf.mean()
    s2f = float(np.mean(d**3)) ** 2 / float(np.mean(d**2)) ** 3
    ekf = float(np.mean(d**4)) / float(np.mean(d**2)) ** 2 - 3.0
    jbf = n * (s2f / 6 + ekf * ekf / 24)
    if abs(jbf * 1e6 - jb) / max(jbf * 1e6, 1) > 0.02:
        errs.append(f"staged {jb} vs float {jbf*1e6:.0f} (>2%)")
    return errs


# ===========================================================================
# audits — classical-test sweep 2
# ===========================================================================


@audit("ks_two_sample")
def a_ks2(data: Data, row) -> list[str]:
    o = data.table("orders")
    sel = o[o["o_orderstatus"].isin(["F", "O"])]
    x = np.round(sel["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (sel["o_orderstatus"] == "F").to_numpy()
    x1, x2 = np.sort(x[g]), np.sort(x[~g])
    n1, n2 = len(x1), len(x2)
    vals = np.unique(x)
    c1 = np.searchsorted(x1, vals, side="right")
    c2 = np.searchsorted(x2, vals, side="right")
    dnum = int(np.max(np.abs(c1.astype(object) * n2 - c2.astype(object) * n1)))
    # asymptotic 5%: D > 1.358*sqrt((n1+n2)/(n1 n2));
    # engine gate: dnum^2*1e6 > 1844439*n1*n2*(n1+n2)  (1.358^2*1e6)
    rej = 1 if dnum * dnum * 10**6 > 1_844_439 * n1 * n2 * (n1 + n2) else 0
    return check(
        "ks2",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "d_num": (dnum, 0),
            "d_ppm": (dnum * 10**6 // (n1 * n2), 0),
            "reject_05": (rej, 0),
        },
    )


@audit("mood_median_test")
def a_mood(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    vb = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64) // 100000
    grp = m["r_name"].to_numpy()
    sv = np.sort(vb)
    med = sv[(len(sv) + 1) // 2 - 1]
    chi2 = 0
    ca = int((vb > med).sum())
    cb = int((vb < med).sum())
    tt = ca + cb
    for gv in np.unique(grp):
        a = int(((grp == gv) & (vb > med)).sum())
        b = int(((grp == gv) & (vb < med)).sum())
        ab = a + b
        chi2 += (a * tt - ab * ca) ** 2 * 10**6 // (tt * ab * ca)
        chi2 += (b * tt - ab * cb) ** 2 * 10**6 // (tt * ab * cb)
    return check(
        "mood",
        row,
        {
            "median_bucket_c": (int(med) * 100000, 0),
            "n_classified": (tt, 0),
            "chi2_ppm": (chi2, 0),
            "reject_equal_medians": (1 if chi2 > 9_487_729 else 0, 0),
        },
    )


@audit("grubbs_outlier")
def a_grubbs(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"day": o["o_orderdate"].dt.normalize(), "c": cents}
    ).groupby("day")["c"].sum()
    rev = g.to_numpy().astype(object)
    n = len(rev)
    s = sum(rev)
    q = sum(v * v for v in rev)
    a = [v * n - s for v in rev]
    # worst day by |a| desc, day asc
    order = sorted(range(n), key=lambda i: (-abs(a[i]), g.index[i]))
    i = order[0]
    g2 = a[i] * a[i] * (n - 1) * 10**6 // (n * (n * q - s * s))
    return check(
        "grubbs",
        row,
        {
            "revenue_cents": (int(rev[i]), 0),
            "g2_ppm": (g2, 0),
            "outlier_4sigma": (
                1 if a[i] * a[i] * (n - 1) > 16 * n * (n * q - s * s)
                else 0, 0,
            ),
        },
    )


@audit("durbin_watson_test")
def a_dw(data: Data, row) -> list[str]:
    t, es = _ols_resid_e(data)
    pos = {tv: i for i, tv in enumerate(t)}
    num = 0
    npairs = 0
    for tv in t:
        if tv + 1 in pos:
            d = int(es[pos[tv + 1]]) - int(es[pos[tv]])
            num += d * d
            npairs += 1
    den = sum(int(e) * int(e) for e in es)
    dw = num * 10**6 // den
    # float cross-check of the DW definition on the same residuals
    dwf = float(num) / float(den)
    errs = check(
        "dw",
        row,
        {
            "n_days": (len(t), 0),
            "n_pairs": (npairs, 0),
            "dw_ppm": (dw, 0),
            "positive_autocorr_side": (1 if dw < 10**6 else 0, 0),
        },
    )
    if abs(dwf * 1e6 - dw) > 2:
        errs.append(f"staging {dw} vs float {dwf*1e6:.0f}")
    return errs


@audit("ljung_box_test")
def a_ljung_box(data: Data, rows) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(object)
    n = len(y)
    s = sum(y)
    d = [n * v - s for v in y]
    pos = {tv: i for i, tv in enumerate(t)}
    den = sum(v * v for v in d)
    r = {}
    pairs = {}
    for k in range(1, 11):
        num = 0
        cnt = 0
        for tv in t:
            if tv + k in pos:
                num += d[pos[tv]] * d[pos[tv + k]]
                cnt += 1
        r[k] = _tdiv2(num * 10**6, den)
        pairs[k] = cnt
    qsum = sum(_tdiv2(r[k] * r[k], n - k) for k in range(1, 11))
    q_ppm = _tdiv2(n * (n + 2) * qsum, 10**6)
    errs = []
    if len(rows) != 10:
        errs.append(f"{len(rows)} rows vs 10")
    for rr in rows:
        k = int(rr["lag"])
        if (
            int(rr["pairs"]) != pairs[k]
            or int(rr["r_ppm"]) != r[k]
            or int(rr["q_ppm"]) != q_ppm
        ):
            errs.append(
                f"lag {k}: {dict(rr)} vs (r {r[k]}, pairs {pairs[k]},"
                f" q {q_ppm})"
            )
    return errs


# ===========================================================================
# audits — classical-test sweep 3: fits, breaks, long memory
# ===========================================================================


@audit("weibull_survival_fit")
def a_weibull(data: Data, row) -> list[str]:
    o = data.table("orders")
    li = data.table("lineitem")
    m = li.merge(o[["o_orderkey", "o_orderdate"]], left_on="l_orderkey",
                 right_on="o_orderkey")
    lat = (m["l_shipdate"] - m["o_orderdate"]).dt.days.to_numpy()
    lat = lat[lat >= 1]
    vals, counts = np.unique(lat, return_counts=True)
    cum = np.cumsum(counts)
    n = int(cum[-1])
    # one point per DISTINCT latency, cumulative (highest) rank,
    # Bernard median ranks: 1-F = (10n-10i+7)/(10n+4)
    xs, ys = [], []
    for v, i in zip(vals, cum):
        xs.append(math.floor(1e6 * math.log(v)))
        ys.append(
            math.floor(
                1e6 * math.log(-math.log((10 * n - 10 * int(i) + 7)
                                         / (10 * n + 4)))
            )
        )
    m_ = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    shape = _tdiv2((m_ * sxy - sx * sy) * 10**6, m_ * sxx - sx * sx)
    inter = _tdiv2(sy - _tdiv2(shape * sx, 10**6), m_)
    return check(
        "weibull",
        row,
        {
            "n_points": (m_, 0),
            "shape_ppm": (shape, 0),
            "intercept_e6": (inter, 0),
        },
    )


def _space_tokens(data: Data):
    """heaps/zipf convention: plain space split, empties dropped, NO
    lowercasing (string_split(text, ' '))."""
    d = data.table("documents").sort_values("doc_id")
    for doc_id, text in zip(d["doc_id"], d["text"]):
        yield doc_id, [w for w in text.split(" ") if w != ""]


@audit("heaps_law_fit")
def a_heaps(data: Data, row) -> list[str]:
    seen = set()
    cum_tok = 0
    xs, ys = [], []
    cum_voc = 0
    for doc_id, toks in _space_tokens(data):
        cum_tok += len(toks)
        for w in toks:
            if w not in seen:
                seen.add(w)
                cum_voc += 1
        if cum_voc > 0:
            xs.append(math.floor(math.log(cum_tok) * 1e6))
            ys.append(math.floor(math.log(cum_voc) * 1e6))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    beta = (n * sxy - sx * sy) * 10**6 // (n * sxx - sx * sx)
    return check(
        "heaps",
        row,
        {
            "n_points": (n, 0),
            "beta_ppm": (beta, 0),
            "vocab_size": (cum_voc, 0),
            "n_tokens": (cum_tok, 0),
        },
    )


@audit("zipf_slope_audit")
def a_zipf(data: Data, row) -> list[str]:
    from collections import Counter

    freq = Counter()
    for _, toks in _space_tokens(data):
        freq.update(toks)
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    xs = [math.floor(math.log(r) * 1e6) for r in range(1, len(ranked) + 1)]
    ys = [math.floor(math.log(c) * 1e6) for _, c in ranked]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = _tdiv2((n * sxy - sx * sy) * 10**6, n * sxx - sx * sx)
    return check(
        "zipf",
        row,
        {"n_ranks": (n, 0), "slope_ppm": (slope, 0)},
    )


@audit("breusch_pagan_test")
def a_bp(data: Data, row) -> list[str]:
    t, es = _ols_resid_e(data)
    gv = np.array([_tdiv2(int(e) * int(e), 10**6) for e in es],
                  dtype=np.float64)
    tf = t.astype(np.float64)
    n = len(t)
    # staged squared correlation of g on t (floor the slope-ratio
    # first, then multiply — replay the SQL staging)
    stg = int(n * np.sum(tf * gv) - tf.sum() * gv.sum())
    stt = int(n * np.sum(tf * tf) - tf.sum() ** 2)
    sgg = int(n * np.sum(gv * gv) - gv.sum() ** 2)
    r2 = _tdiv2(_tdiv2(stg * 10**6, stt) * stg, sgg)
    return check(
        "bp",
        row,
        {
            "n_days": (n, 0),
            "r2_ppm": (r2, 1),
            "lm_ppm": (n * r2, n),
            "reject_homoskedastic": (
                1 if n * r2 > 3_841_458 else 0, 0
            ),
        },
    )


@audit("chow_break_test")
def a_chow(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "ym": o["o_orderdate"].dt.year * 100
                + o["o_orderdate"].dt.month,
                "c": cents,
            }
        )
        .groupby("ym")["c"]
        .sum()
        .sort_index()
    )
    y = (g // 100000).to_numpy().astype(np.float64)
    tt = np.arange(1, len(y) + 1, dtype=np.float64)
    ym = g.index.to_numpy()

    def sse(mask):
        x1, y1 = tt[mask], y[mask]
        n = len(x1)
        sxx = n * np.sum(x1 * x1) - x1.sum() ** 2
        sxy = n * np.sum(x1 * y1) - x1.sum() * y1.sum()
        syy = n * np.sum(y1 * y1) - y1.sum() ** 2
        return math.floor((syy - sxy * sxy / sxx) / n)

    n = len(y)
    sse_p = sse(np.ones(n, dtype=bool))
    sse_a = sse(ym < 199801)
    sse_b = sse(ym >= 199801)
    f = math.floor(
        1e6 * ((sse_p - sse_a - sse_b) / 2.0)
        / ((sse_a + sse_b) / (n - 4))
    )
    return check(
        "chow",
        row,
        {
            "n": (n, 0),
            "sse_p": (sse_p, 1),
            "sse_a": (sse_a, 1),
            "sse_b": (sse_b, 1),
            "f_e6": (f, ("rel", 1e-4)),
            "reject_05": (1 if f > 3_110_766 else 0, 0),
        },
    )


@audit("hurst_exponent")
def a_hurst(data: Data, row) -> list[str]:
    y = data.day()["y"].to_numpy().astype(object)
    xs, ys = [], []
    for w in (16, 32, 64, 128):
        rs_vals = []
        for b in range(len(y) // w):
            blk = y[b * w : (b + 1) * w]
            S = sum(blk)
            q = sum(v * v for v in blk)
            cd = 0
            mx = mn = 0
            for v in blk:
                cd += w * v - S
                mx = max(mx, cd)
                mn = min(mn, cd)
            rs_vals.append(
                math.floor(
                    1e6 * (mx - mn) / math.sqrt(float(q * w - S * S))
                )
            )
        mean_rs = sum(rs_vals) // len(rs_vals)
        xs.append(math.floor(1e6 * math.log(w)))
        ys.append(math.floor(1e6 * math.log(mean_rs / 1e6)))
    k = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    h = (k * sxy - sx * sy) * 10**6 // (k * sxx - sx * sx)
    return check(
        "hurst",
        row,
        {
            "n_window_sizes": (k, 0),
            "hurst_ppm": (h, 0),
            "persistent_memory": (1 if h > 500_000 else 0, 0),
        },
    )


# ===========================================================================
# audits — classical-test sweep 4: trend / rank / changepoint / ACF
# ===========================================================================


@audit("mk_trend_test")
def a_mk_monthly(data: Data, row) -> list[str]:
    y = _months(data).astype(np.int64)
    n = len(y)
    sgn = np.sign(y[None, :] - y[:, None])
    s = int(np.triu(sgn, 1).sum())
    _, counts = np.unique(y, return_counts=True)
    tie = int(sum(t * (t - 1) * (2 * t + 5) for t in counts if t > 1))
    var18 = n * (n - 1) * (2 * n + 5) - tie
    sig = (
        1
        if abs(s) > 1
        and 18 * (abs(s) - 1) ** 2 * 10**6 > 3_841_600 * var18
        else 0
    )
    return check(
        "mk_m",
        row,
        {
            "n_periods": (n, 0),
            "s_stat": (s, 0),
            "var_s_x18": (var18, 0),
            "trend": (int(np.sign(s)), 0),
            "significant_95": (sig, 0),
        },
    )


@audit("theil_sen_trend")
def a_theil_sen(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    base = pd.Timestamp("1992-01-01")
    g = (
        pd.DataFrame(
            {
                "yr": o["o_orderdate"].dt.year,
                "ep": (o["o_orderdate"] - base).dt.days,
                "c": cents,
            }
        )
        .groupby(["yr", "ep"])["c"]
        .sum()
        .reset_index()
    )
    errs = []
    got = {int(r["yr"]): r for r in rows}
    for yr, gy in g.groupby("yr"):
        ep = gy["ep"].to_numpy()
        x = gy["c"].to_numpy().astype(np.float64)
        slopes = []
        for i in range(len(ep)):
            for j in range(i + 1, len(ep)):
                slopes.append(
                    (
                        math.floor(1e6 * (x[j] - x[i]) / (ep[j] - ep[i])),
                        ep[i],
                        ep[j],
                    )
                )
        slopes.sort()
        np_ = len(slopes)
        med = slopes[(np_ + 1) // 2 - 1][0]
        r = got.get(int(yr))
        if r is None:
            errs.append(f"yr {yr} missing")
        elif int(r["n_pairs"]) != np_ or int(
            r["slope_micro_cents_per_day"]
        ) != med:
            errs.append(f"yr {yr}: {dict(r)} vs ({np_},{med})")
    return errs


@audit("spearman_rho")
def a_spearman(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    x = np.round(li["l_quantity"].to_numpy() * 100).astype(np.int64)
    y = np.round(li["l_discount"].to_numpy() * 100).astype(np.int64)
    rx = 2 * pd.Series(x).rank(method="average").to_numpy()
    ry = 2 * pd.Series(y).rank(method="average").to_numpy()
    n = len(x)
    sxy = float(np.sum((rx - rx.mean()) * (ry - ry.mean())))
    sxx = float(np.sum((rx - rx.mean()) ** 2))
    syy = float(np.sum((ry - ry.mean()) ** 2))
    rho = sxy / math.sqrt(sxx * syy)
    return check(
        "spearman",
        row,
        {
            "n_rows": (n, 0),
            "num_sign": (int(np.sign(sxy)), 0),
            "rho_micro": (rho * 1e6, 2),
        },
    )


@audit("runs_test")
def a_runs_median(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"day": o["o_orderdate"].dt.normalize(), "c": cents}
    ).groupby("day")["c"].sum().sort_index()
    rev = g.to_numpy().astype(np.int64)
    sv = np.sort(rev)
    med = sv[(len(sv) + 1) // 2 - 1]
    sg = (rev[rev != med] > med).astype(int)
    n = len(sg)
    n1 = int(sg.sum())
    n2 = n - n1
    r = 1 + int(np.sum(sg[1:] != sg[:-1]))
    num = r * n - (n + 2 * n1 * n2)
    sig = (
        1
        if num * num * (n - 1) * 10**6
        > 3_841_600 * (2 * n1 * n2) * (2 * n1 * n2 - n)
        else 0
    )
    return check(
        "runs",
        row,
        {
            "n_days": (n, 0),
            "n_above": (n1, 0),
            "n_below": (n2, 0),
            "n_runs": (r, 0),
            "z_sign": (int(np.sign(num)), 0),
            "significant_95": (sig, 0),
        },
    )


@audit("pettitt_changepoint")
def a_pettitt(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy()
    n = len(y)
    r2 = 2 * pd.Series(y).rank(method="average").to_numpy()
    # U_t = sum_{i<=t} 2r_i - t*(n+1)*2/2... SQL: cum(r2) - idx*(n+1)
    cum = np.cumsum(r2)
    idx = np.arange(1, n + 1)
    u = cum - idx * (n + 1)
    order = sorted(range(n), key=lambda i: (-abs(u[i]), t[i]))
    i = order[0]
    k = abs(u[i])
    rej = (
        1
        if 6 * k * k * 10**6 > 3_688_879 * (n**3 + n**2)
        else 0
    )
    return check(
        "pettitt",
        row,
        {
            "n_days": (n, 0),
            "change_day": (int(t[i]), 0),
            "k_stat": (int(k), 0),
            "level_drop_side": (1 if u[i] > 0 else 0, 0),
            "reject_no_change": (rej, 0),
        },
    )


@audit("acf_daily_revenue")
def a_acf(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame(
        {"d": o["o_orderdate"], "c": cents}
    ).groupby("d")["c"].sum().sort_index()
    y = g.to_numpy().astype(object)
    n = len(y)
    S = sum(y)
    Q = sum(v * v for v in y)
    errs = []
    got = {int(r["lag"]): r for r in rows}
    # ROW-index lags (row_number order), not calendar
    for k in (1, 7, 28):
        a = y[:-k]
        b = y[k:]
        p = sum(u * v for u, v in zip(a, b))
        sh, st_ = sum(a), sum(b)
        npairs = n - k
        r_ppm = _tdiv2(
            (n * n * p - n * S * (sh + st_) + npairs * S * S) * 10**6,
            n * n * Q - n * S * S,
        )
        r = got.get(k)
        if r is None:
            errs.append(f"lag {k} missing")
        elif int(r["n_pairs"]) != npairs or int(r["r_ppm"]) != r_ppm:
            errs.append(f"lag {k}: {dict(r)} vs ({npairs},{r_ppm})")
    return errs


@audit("pacf_durbin_levinson")
def a_pacf(data: Data, rows) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(object)
    n = len(y)
    S = sum(y)
    d = [n * v - S for v in y]
    pos = {tv: i for i, tv in enumerate(t)}
    den = sum(v * v for v in d)
    rho = []
    for k in range(1, 7):
        num = sum(
            d[pos[tv]] * d[pos[tv + k]] for tv in t if tv + k in pos
        )
        rho.append(_tdiv2(num * 10**6, den) / 1e6)
    # Durbin-Levinson on the floored rhos
    phi = [rho[0]]
    for k in range(2, 7):
        num = rho[k - 1] - sum(
            phi[j] * rho[k - 2 - j] for j in range(k - 1)
        )
        den_dl = 1.0 - sum(phi[j] * rho[j] for j in range(k - 1))
        pkk = num / den_dl
        phi = [phi[j] - pkk * phi[k - 2 - j] for j in range(k - 1)] + [pkk]
    errs = []
    got = {int(r["lag"]): r for r in rows}
    for lag in range(1, 7):
        r = got.get(lag)
        want = math.floor(1e6 * phi[lag - 1])
        if r is None:
            errs.append(f"lag {lag} missing")
        elif abs(int(r["pacf_e6"]) - want) > 1:
            errs.append(f"lag {lag}: {r['pacf_e6']} vs {want}")
    return errs


# ===========================================================================
# audits — AB/experimentation family
# ===========================================================================

import hashlib as _hl


def _md5mod(salt: str, key, mod: int) -> int:
    return (
        int(_hl.md5(f"{salt}|{key}".encode()).hexdigest()[:15], 16) % mod
    )


@audit("ab_test_ztest")
def a_ab_ztest(data: Data, row) -> list[str]:
    ev = data.table("events")
    per = ev.groupby("user_id")["event_type"].agg(
        conv=lambda s: int((s == "purchase").any())
    )
    grp = per.index % 2
    n_a, c_a = int((grp == 0).sum()), int(per[grp == 0]["conv"].sum())
    n_b, c_b = int((grp == 1).sum()), int(per[grp == 1]["conv"].sum())
    pa, pb = c_a / n_a, c_b / n_b
    pool = (c_a + c_b) / (n_a + n_b)
    want = {
        "n_a": (n_a, 0),
        "c_a": (c_a, 0),
        "n_b": (n_b, 0),
        "c_b": (c_b, 0),
        "rate_a_ppm": (pa * 1e6, 1),
        "rate_b_ppm": (pb * 1e6, 1),
    }
    if 0 < pool < 1:
        z = (pb - pa) / math.sqrt(
            pool * (1 - pool) * (1 / n_a + 1 / n_b)
        )
        want["z_e6"] = (z * 1e6, 2)
    # degenerate pool (everyone/no-one converts, possible at tiny SF):
    # the z denominator is 0 and both engines emit the same non-finite
    # sentinel — the counts above are the audit surface.
    return check("ab_z", row, want)


@audit("wilson_score_interval")
def a_wilson(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    z2 = 3.841458
    errs = []
    got = {r["region"]: r for r in rows}
    for region, g in m.groupby("r_name"):
        n = len(g)
        a = int((g["o_orderpriority"] == "1-URGENT").sum())
        center = (a + z2 / 2) / (n + z2) * 1e6
        half = math.sqrt(z2 * (a * (n - a) / n + z2 / 4)) / (n + z2) * 1e6
        r = got.get(region)
        if r is None:
            errs.append(f"{region} missing")
            continue
        errs += check(
            f"wilson {region}",
            r,
            {
                "n": (n, 0),
                "a": (a, 0),
                "p_ppm": (a * 1_000_000 // n, 0),
                "wilson_lo_ppm": (center - half, 3),
                "wilson_hi_ppm": (center + half, 3),
            },
        )
    return errs


@audit("srm_check")
def a_srm(data: Data, row) -> list[str]:
    o = data.table("orders")
    grp = np.array(
        [_md5mod("29", int(k), 2) for k in o["o_orderkey"]]
    )
    n = len(grp)
    n_a = int((grp == 0).sum())
    chi2 = (2 * n_a - n) ** 2 * 1_000_000 // n
    return check(
        "srm",
        row,
        {
            "n": (n, 0),
            "n_a": (n_a, 0),
            "n_b": (n - n_a, 0),
            "chi2_ppm": (chi2, 0),
            "srm_flag": (1 if chi2 > 10_827_566 else 0, 0),
        },
    )


@audit("ab_power_analysis")
def a_ab_power(data: Data, rows) -> list[str]:
    ev = data.table("events")
    p1 = int((ev["event_type"] == "purchase").sum()) * 1_000_000 // len(ev)
    p2 = p1 + p1 * 100_000 // 1_000_000
    errs = []
    got = {int(r["power_pct"]): r for r in rows}
    for pct, zsum in ((80, 2_801_585), (90, 3_241_515)):
        # ceil-divided n per arm from the two-proportion formula
        num = (
            zsum * zsum * (p1 * (1_000_000 - p1) + p2 * (1_000_000 - p2))
            + (p2 - p1) ** 2 * 10**12
            - 1
        )
        n_arm = num // ((p2 - p1) ** 2 * 10**12)
        r = got.get(pct)
        if r is None:
            errs.append(f"power {pct} missing")
        elif (
            int(r["p1_ppm"]) != p1
            or int(r["p2_ppm"]) != p2
            or int(r["n_per_arm"]) != n_arm
        ):
            errs.append(f"{pct}: {dict(r)} vs ({p1},{p2},{n_arm})")
        # float sanity: textbook n = (z_a+z_b)^2 (p1q1+p2q2)/delta^2
        pf1, pf2 = p1 / 1e6, p2 / 1e6
        nf = (zsum / 1e6) ** 2 * (
            pf1 * (1 - pf1) + pf2 * (1 - pf2)
        ) / (pf2 - pf1) ** 2
        if abs(nf - n_arm) > 2:
            errs.append(f"{pct}: staged {n_arm} vs float {nf:.1f}")
    return errs


@audit("cuped_variance_reduction")
def a_cuped_vr(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    yr = o["o_orderdate"].dt.year.to_numpy()
    df = pd.DataFrame(
        {
            "ck": o["o_custkey"].to_numpy(),
            "x": np.where(yr == 1997, cents, 0),
            "y": np.where(yr == 1998, cents, 0),
        }
    ).groupby("ck").sum()
    df = df // 1000
    grp = np.array([_md5mod("13", int(k), 2) for k in df.index])
    x = df["x"].to_numpy().astype(np.float64)
    y = df["y"].to_numpy().astype(np.float64)
    n = len(x)
    cxy = n * np.sum(x * y) - x.sum() * y.sum()
    cxx = n * np.sum(x * x) - x.sum() ** 2
    cyy = n * np.sum(y * y) - y.sum() ** 2
    theta = cxy / cxx
    rho2 = cxy * cxy / (cxx * cyy)
    t_, c_ = grp == 1, grp == 0
    naive = y[t_].mean() - y[c_].mean()
    # exact staged integers for the adjusted difference (theta floors
    # to ppm BEFORE multiplying the floored mean gap)
    xi = df["x"].to_numpy().astype(object)
    yi = df["y"].to_numpy().astype(object)
    nt, nc = int(t_.sum()), int(c_.sum())
    sxt, sxc = sum(xi[t_]), sum(xi[c_])
    syt, syc = sum(yi[t_]), sum(yi[c_])
    sx, sy = sum(xi), sum(yi)
    sxx = sum(v * v for v in xi)
    syy = sum(v * v for v in yi)
    sxy = sum(a * b for a, b in zip(xi, yi))
    theta_ppm = _tdiv2((n * sxy - sx * sy) * 10**6, n * sxx - sx * sx)
    naive_i = _tdiv2(syt * 10**6, nt) - _tdiv2(syc * 10**6, nc)
    cuped_i = naive_i - _tdiv2(
        theta_ppm
        * (_tdiv2(sxt * 10**6, nt) - _tdiv2(sxc * 10**6, nc)),
        10**6,
    )
    errs = check(
        "cuped_vr",
        row,
        {
            "n_units": (n, 0),
            "n_treat": (nt, 0),
            "n_control": (nc, 0),
            "theta_ppm": (theta_ppm, 0),
            "rho2_ppm": (rho2 * 1e6, 2),
            "naive_diff_e6": (naive_i, 0),
            "cuped_diff_e6": (cuped_i, 0),
        },
    )
    if abs((naive - theta * (x[t_].mean() - x[c_].mean())) * 1e6
           - cuped_i) > 5000:
        errs.append("staged cuped far from float formula")
    return errs


# ===========================================================================
# audits — categorical-test family
# ===========================================================================


@audit("chi_square_independence")
def a_chi2_ind(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    cells = m.groupby(["c_mktsegment", "o_orderpriority"]).size()
    rt = cells.groupby(level=0).sum()
    ct = cells.groupby(level=1).sum()
    n = int(cells.sum())
    errs = []
    got = {(r["seg"], r["pri"]): r for r in rows}
    for (seg, pri), obs in cells.items():
        e = int(rt[seg]) * int(ct[pri]) / n
        term = (int(obs) - e) ** 2 / e
        r = got.get((seg, pri))
        if r is None:
            errs.append(f"cell {seg},{pri} missing")
            continue
        errs += check(
            f"chi2 {seg},{pri}",
            r,
            {
                "o": (int(obs), 0),
                "expected_e2": (e * 100, 1),
                "chi2_term_e6": (term * 1e6, 2),
            },
        )
    return errs


@audit("cramers_v")
def a_cramers(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    cells = li.groupby(["l_returnflag", "l_linestatus"]).size()
    rt = cells.groupby(level=0).sum()
    ct = cells.groupby(level=1).sum()
    n = int(cells.sum())
    chi2 = sum(
        (int(obs) * n - int(rt[rf]) * int(ct[ls])) ** 2
        / (n * int(rt[rf]) * int(ct[ls]))
        for (rf, ls), obs in cells.items()
    )
    v2 = chi2 / (n * (min(len(rt), len(ct)) - 1))
    return check(
        "cramers",
        row,
        {
            "n_items": (n, 0),
            "n_rows_dim": (len(rt), 0),
            "n_cols_dim": (len(ct), 0),
            # one ppm floor per cell (6 cells)
            "chi2_ppm": (chi2 * 1e6, 6),
            "v2_ppm": (v2 * 1e6, 2),
        },
    )


@audit("fisher_exact_2x2")
def a_fisher(data: Data, row) -> list[str]:
    ev = data.table("events")
    per = ev.groupby("user_id")["event_type"].agg(
        c=lambda s: 1 if int((s == "purchase").sum()) >= 17 else 0
    )
    variant = per.index % 2
    a = int(per[variant == 1]["c"].sum())
    r1 = int((variant == 1).sum())
    r2 = int((variant == 0).sum())
    c1 = int(per["c"].sum())
    nn = r1 + r2
    kmax = min(r1, c1)
    # exact hypergeometric upper tail P(X >= a)
    denom = math.comb(nn, c1)
    ptail = sum(
        math.comb(r1, k) * math.comb(r2, c1 - k)
        for k in range(a, kmax + 1)
        if c1 - k <= r2
    ) / denom
    return check(
        "fisher",
        row,
        {
            "heavy_in_b": (a, 0),
            "n_b": (r1, 0),
            "n_a": (r2, 0),
            "heavy_total": (c1, 0),
            "p_one_sided_e6": (ptail * 1e6, 3),
            "reject_at_5pct": (1 if ptail < 0.05 else 0, 0),
        },
    )


@audit("mcnemar_test")
def a_mcnemar(data: Data, row) -> list[str]:
    o = data.table("orders")
    yr = o["o_orderdate"].dt.year
    per = pd.DataFrame(
        {"ck": o["o_custkey"], "y97": (yr == 1997).astype(int),
         "y98": (yr == 1998).astype(int)}
    ).groupby("ck").max()
    b = int(((per["y97"] == 1) & (per["y98"] == 0)).sum())
    c = int(((per["y97"] == 0) & (per["y98"] == 1)).sum())
    both = int(((per["y97"] == 1) & (per["y98"] == 1)).sum())
    neither = int(((per["y97"] == 0) & (per["y98"] == 0)).sum())
    chi2 = (
        0 if b + c == 0
        else (abs(b - c) - 1) ** 2 * 1_000_000 // (b + c)
    )
    return check(
        "mcnemar",
        row,
        {
            "n_both": (both, 0),
            "n_97_only": (b, 0),
            "n_98_only": (c, 0),
            "n_neither": (neither, 0),
            "chi2_ppm": (chi2, 0),
        },
    )


@audit("cochran_armitage_trend")
def a_cat(data: Data, row) -> list[str]:
    o = data.table("orders")
    s = (o["o_orderdate"].dt.year - 1995).to_numpy().astype(object)
    hit = (o["o_orderpriority"] == "1-URGENT").to_numpy().astype(object)
    nn = len(s)
    rr = int(sum(hit))
    sr = int(sum(si * h for si, h in zip(s, hit)))
    sn = int(sum(s))
    ssn = int(sum(si * si for si in s))
    num = nn * sr - rr * sn
    z2 = num * num * nn * 1_000_000 // (
        rr * (nn - rr) * (nn * ssn - sn * sn)
    )
    # float textbook cross-check of the CA z^2
    pbar = rr / nn
    z2f = (
        (sr - pbar * sn) ** 2
        / (pbar * (1 - pbar) * (ssn - sn * sn / nn))
    )
    errs = check(
        "ca_trend",
        row,
        {
            "n_orders": (nn, 0),
            "n_urgent": (rr, 0),
            "trend_num": (num, 0),
            "z2_ppm": (z2, 0),
            "reject_no_trend": (1 if z2 > 3_841_600 else 0, 0),
        },
    )
    if abs(z2f * 1e6 - z2) > 10:
        errs.append(f"staged {z2} vs float {z2f*1e6:.0f}")
    return errs


# ===========================================================================
# audits — causal & multi-group family
# ===========================================================================


@audit("cohens_kappa")
def a_cohens_kappa(data: Data, row) -> list[str]:
    o = data.table("orders")
    a = (
        np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
        > 15_000_000
    ).astype(int)
    b = o["o_orderpriority"].isin(["1-URGENT", "2-HIGH"]).to_numpy().astype(int)
    n = len(a)
    n11 = int(((a == 1) & (b == 1)).sum())
    n10 = int(((a == 1) & (b == 0)).sum())
    n01 = int(((a == 0) & (b == 1)).sum())
    n00 = int(((a == 0) & (b == 0)).sum())
    # staged replay (e11/e00 floor to integers BEFORE the ppm scale —
    # a deliberate convention whose drift is ~2e6/n ppm)
    po_ppm = (n11 + n00) * 1_000_000 // n
    e11 = (n11 + n10) * (n11 + n01) // n
    e00 = (n01 + n00) * (n10 + n00) // n
    pe_ppm = (e11 + e00) * 1_000_000 // n
    kappa_ppm = _tdiv2((po_ppm - pe_ppm) * 1_000_000, 1_000_000 - pe_ppm)
    errs = check(
        "kappa",
        row,
        {
            "n_orders": (n, 0),
            "n11": (n11, 0),
            "n10": (n10, 0),
            "n01": (n01, 0),
            "n00": (n00, 0),
            "po_ppm": (po_ppm, 0),
            "pe_ppm": (pe_ppm, 0),
            "kappa_ppm": (kappa_ppm, 0),
        },
    )
    pe_f = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    kf = ((n11 + n00) / n - pe_f) / (1 - pe_f)
    if abs(kf * 1e6 - kappa_ppm) > 4 * 1e6 / n + 10:
        errs.append(f"staged {kappa_ppm} vs float {kf*1e6:.0f}")
    return errs


@audit("friedman_test")
def a_friedman(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    cents = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "ym": m["o_orderdate"].dt.year * 100
                + m["o_orderdate"].dt.month,
                "seg": m["c_mktsegment"],
                "rev": cents,
            }
        )
        .groupby(["ym", "seg"])["rev"]
        .sum()
        .reset_index()
    )
    full = g.groupby("ym").size()
    g = g[g["ym"].isin(set(full[full == 5].index))]
    g = g.sort_values(["ym", "rev", "seg"])
    g["r"] = g.groupby("ym").cumcount() + 1
    n = g["ym"].nunique()
    k = 5
    sr2 = int((g.groupby("seg")["r"].sum() ** 2).sum())
    chi2 = 12 * sr2 * 1_000_000 // (n * k * (k + 1)) - 3 * n * (k + 1) * 1_000_000
    return check(
        "friedman",
        row,
        {
            "n_blocks": (n, 0),
            "n_treatments": (k, 0),
            "chi2_ppm": (chi2, 0),
            "significant_95": (1 if chi2 > 9_487_729 else 0, 0),
        },
    )


@audit("jonckheere_terpstra")
def a_jt(data: Data, row) -> list[str]:
    o = data.table("orders")
    g = o["o_orderdate"].dt.year.to_numpy()
    v = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    groups = sorted(np.unique(g))
    # JT = sum over group pairs a<b of U_ab (Mann-Whitney with 1/2 ties)
    jt2 = 0  # doubled
    for i, ga in enumerate(groups):
        va = np.sort(v[g == ga])
        for gb in groups[i + 1 :]:
            vb = v[g == gb]
            lt = np.searchsorted(va, vb, side="left").sum()
            eq = (
                np.searchsorted(va, vb, side="right").sum() - lt
            )
            jt2 += 2 * int(lt) + int(eq)
    ns = np.array([int((g == gg).sum()) for gg in groups], dtype=object)
    N = int(ns.sum())
    mean2 = (N * N - int(sum(n * n for n in ns))) // 2
    var72 = N * N * (2 * N + 3) - int(
        sum(n * n * (2 * n + 3) for n in ns)
    )
    z2 = (jt2 - mean2) ** 2 * 18_000_000 // var72
    return check(
        "jt",
        row,
        {
            "k_groups": (len(groups), 0),
            "n_total": (N, 0),
            "jt2": (jt2, 0),
            "mean2": (mean2, 0),
            "z2_ppm": (z2, 0),
            "increasing_side": (1 if jt2 > mean2 else 0, 0),
        },
    )


@audit("did_estimate")
def a_did(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(object)
    treat = (o["o_custkey"].to_numpy() % 2).astype(int)
    errs = []
    got = {r["scenario"]: r for r in rows}
    for scen, cutoff in (("actual", "1999-01-01"), ("placebo", "1997-01-01")):
        post = (o["o_orderdate"] >= pd.Timestamp(cutoff)).to_numpy()
        ms = {}
        for tv in (0, 1):
            for pv in (0, 1):
                mask = (treat == tv) & (post == pv)
                s = sum(cents[mask])
                ms[(tv, pv)] = s * 1000 // int(mask.sum())
        did = (ms[(1, 1)] - ms[(1, 0)]) - (ms[(0, 1)] - ms[(0, 0)])
        r = got.get(scen)
        if r is None:
            errs.append(f"{scen} missing")
            continue
        errs += check(
            f"did {scen}",
            r,
            {
                "m_c_pre_mc": (ms[(0, 0)], 0),
                "m_c_post_mc": (ms[(0, 1)], 0),
                "m_t_pre_mc": (ms[(1, 0)], 0),
                "m_t_post_mc": (ms[(1, 1)], 0),
                "did_mc": (did, 0),
            },
        )
    return errs


@audit("iv_wald_estimate")
def a_iv_wald(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    per = pd.Series(cents).groupby(o["o_custkey"].to_numpy()).sum()
    ck = c["c_custkey"].to_numpy()
    y = c["c_custkey"].map(per).fillna(0).astype(np.int64).to_numpy()
    z = np.array([_md5mod("ivz", int(k), 2) for k in ck])
    xr = np.array(
        [
            int(_hl.md5(f"ivx|{int(k)}".encode()).hexdigest()[:15], 16)
            % 1_000_000
            for k in ck
        ]
    )
    x = (xr < np.where(z == 1, 700_000, 300_000)).astype(int)
    n1, n0 = int((z == 1).sum()), int((z == 0).sum())
    sx1, sx0 = int(x[z == 1].sum()), int(x[z == 0].sum())
    sy1, sy0 = int(y[z == 1].sum()), int(y[z == 0].sum())
    fs = _tdiv2((sx1 * n0 - sx0 * n1) * 1_000_000, n1 * n0)
    itt = _tdiv2((sy1 * n0 - sy0 * n1) * 1_000_000, n1 * n0)
    wald = _tdiv2((sy1 * n0 - sy0 * n1) * 1_000_000, sx1 * n0 - sx0 * n1)
    return check(
        "iv",
        row,
        {
            "n": (n1 + n0, 0),
            "first_stage_ppm": (fs, 0),
            "itt_uppm_c": (itt, 0),
            "wald_effect_mc": (wald, 0),
        },
    )


# ===========================================================================
# audits — survival-analysis family
# ===========================================================================


def _surv_frame(data: Data, with_group=False):
    o = data.table("orders")
    li = data.table("lineitem")
    fs = li.groupby("l_orderkey")["l_shipdate"].min()
    m = o[o["o_orderkey"].isin(fs.index)].copy()
    m["t"] = (m["o_orderkey"].map(fs) - m["o_orderdate"]).dt.days
    cut = o["o_orderdate"].max()
    m["c"] = (cut - m["o_orderdate"]).dt.days
    m["obs_t"] = np.minimum(m["t"], m["c"])
    m["ev"] = (m["t"] <= m["c"]).astype(int)
    if with_group:
        m["grp"] = m["o_orderpriority"].isin(
            ["1-URGENT", "2-HIGH"]
        ).astype(int)
    return m


@audit("kaplan_meier")
def a_km(data: Data, rows) -> list[str]:
    m = _surv_frame(data)
    byt = m.groupby("obs_t").agg(n_sub=("ev", "size"), d=("ev", "sum"))
    byt = byt.sort_index(ascending=False)
    byt["n_risk"] = byt["n_sub"].cumsum()
    byt = byt.sort_index()
    errs = []
    got = {int(r["t_days"]): r for r in rows}
    cum = 0
    for t, rr in byt.iterrows():
        if int(rr["d"]) == 0:
            continue
        n_risk, d = int(rr["n_risk"]), int(rr["d"])
        if d < n_risk:
            cum += math.floor(1e6 * math.log(1.0 - d / n_risk))
            want_log = cum
        else:
            want_log = None
        r = got.get(int(t))
        if r is None:
            errs.append(f"t={t} missing")
            continue
        ok_null = r["log_surv_micro"] is None or (
            isinstance(r["log_surv_micro"], float)
            and math.isnan(r["log_surv_micro"])
        )
        if (
            int(r["n_at_risk"]) != n_risk
            or int(r["n_events"]) != d
            or int(r["n_censored"]) != int(rr["n_sub"]) - d
            or (want_log is None) != ok_null
            or (want_log is not None
                and int(r["log_surv_micro"]) != want_log)
        ):
            errs.append(f"t={t}: {dict(r)} vs ({n_risk},{d},{want_log})")
    return errs


@audit("nelson_aalen_hazard")
def a_na(data: Data, rows) -> list[str]:
    m = _surv_frame(data)
    byt = m.groupby("obs_t").agg(n_sub=("ev", "size"), d=("ev", "sum"))
    byt = byt.sort_index(ascending=False)
    byt["n_risk"] = byt["n_sub"].cumsum()
    byt = byt.sort_index()
    errs = []
    got = {int(r["t_days"]): r for r in rows}
    cum = 0
    for t, rr in byt.iterrows():
        if int(rr["d"]) == 0:
            continue
        n_risk, d = int(rr["n_risk"]), int(rr["d"])
        cum += d * 1_000_000 // n_risk
        r = got.get(int(t))
        if r is None:
            errs.append(f"t={t} missing")
        elif (
            int(r["n_risk"]) != n_risk
            or int(r["n_events"]) != d
            or int(r["cum_hazard_e6"]) != cum
        ):
            errs.append(f"t={t}: {dict(r)} vs ({n_risk},{d},{cum})")
    return errs


@audit("logrank_test")
def a_logrank(data: Data, row) -> list[str]:
    m = _surv_frame(data, with_group=True)
    byt = m.groupby("obs_t").agg(
        s1=("grp", "sum"),
        st=("grp", "size"),
        d1=("ev", lambda s: 0),  # placeholder, fixed below
        dt=("ev", "sum"),
    )
    d1 = m[m["grp"] == 1].groupby("obs_t")["ev"].sum()
    byt["d1"] = d1.reindex(byt.index).fillna(0).astype(int)
    byt = byt.sort_index(ascending=False)
    byt["n1"] = byt["s1"].cumsum()
    byt["nt"] = byt["st"].cumsum()
    byt = byt.sort_index()
    o1 = 0
    e1 = 0
    v = 0
    for t, rr in byt.iterrows():
        dt_, n1, nt = int(rr["dt"]), int(rr["n1"]), int(rr["nt"])
        if dt_ == 0:
            continue
        o1 += int(rr["d1"])
        e1 += math.floor(1e6 * dt_ * n1 / nt)
        if nt > 1:
            v += math.floor(
                1e12 * dt_ * n1 * (nt - n1) * (nt - dt_)
                / (nt * nt * (nt - 1))
            )
    chi2 = (o1 * 1_000_000 - e1) ** 2 * 1_000_000 // v
    return check(
        "logrank",
        row,
        {
            "o1": (o1, 0),
            "e1_e6": (e1, 2),
            "v_e12": (v, 2),
            "chi2_e6": (chi2, ("rel", 1e-5)),
            "reject_05": (
                1 if (o1 * 1_000_000 - e1) ** 2 * 1_000_000
                > 3_841_459 * v else 0, 0,
            ),
        },
    )


# ===========================================================================
# audits — forecast-evaluation family
# ===========================================================================


@audit("mase_forecast_audit")
def a_mase(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    mkey = (
        o["o_orderdate"].dt.year * 12 + o["o_orderdate"].dt.month - 1
    )
    g = pd.Series(cents).groupby(mkey.to_numpy()).sum().sort_index()
    ms = g.index.to_numpy()
    rev = g.to_numpy().astype(np.int64)
    pos = {m: i for i, m in enumerate(ms)}
    es = en = 0
    n = 0
    for i, m in enumerate(ms):
        # lag windows are ROW lags over m order; the WHERE requires the
        # row-lagged month keys to be exactly m-12 / m-1
        if i >= 12 and ms[i - 12] == m - 12 and i >= 1 and ms[i - 1] == m - 1:
            es += abs(int(rev[i]) - int(rev[i - 12]))
            en += abs(int(rev[i]) - int(rev[i - 1]))
            n += 1
    return check(
        "mase",
        row,
        {
            "n_months": (n, 0),
            "sum_abs_err_seasonal": (es, 0),
            "sum_abs_err_naive": (en, 0),
            "mase_ppm": (es * 1_000_000 // en, 0),
        },
    )


@audit("theil_u2_forecast_audit")
def a_theil_u2(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.int64)
    pos = {tv: i for i, tv in enumerate(t)}
    sd = sn = 0
    n = 0
    for tv in t:
        if tv + 1 in pos and tv + 2 in pos:
            y0, y1, y2 = (
                int(y[pos[tv]]), int(y[pos[tv + 1]]), int(y[pos[tv + 2]])
            )
            sd += (2 * y1 - y0 - y2) ** 2
            sn += (y1 - y2) ** 2
            n += 1
    return check(
        "u2",
        row,
        {
            "n_triples": (n, 0),
            "sse_drift": (sd, 0),
            "sse_naive": (sn, 0),
            "u2_sq_ppm": (sd * 1_000_000 // sn, 0),
            "drift_beats_naive": (
                1 if sd * 1_000_000 // sn < 1_000_000 else 0, 0
            ),
        },
    )


@audit("croston_intermittent")
def a_croston(data: Data, row) -> list[str]:
    li = data.table("lineitem")
    sk = li["l_suppkey"].min()
    sel = li[li["l_suppkey"] == sk]
    q100 = np.round(sel["l_quantity"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame({"d": sel["l_shipdate"].to_numpy(), "q": q100})
        .groupby("d")["q"]
        .sum()
        .sort_index()
    )
    base = pd.Timestamp("1995-01-01")
    ts = [(pd.Timestamp(d) - base).days for d in g.index]
    qs = [int(v) for v in g.to_numpy()]
    ivs = [ts[i + 1] - ts[i] for i in range(len(ts) - 1)]
    p = sum(ivs) * 1_000_000 // len(ivs)
    z = qs[0]
    for qv in qs[1:]:
        z = (100_000 * qv + 900_000 * z) // 1_000_000
    for iv in ivs:
        p = (100_000 * iv * 1_000_000 + 900_000 * p) // 1_000_000
    return check(
        "croston",
        row,
        {
            "demand_days": (len(qs), 0),
            "size_ewma_c": (z, 0),
            "interval_ewma_ppm": (p, 0),
            "demand_rate_c_per_day": (z * 1_000_000 // p, 0),
        },
    )


@audit("holt_linear_forecast")
def a_holt_linear(data: Data, rows) -> list[str]:
    y = [int(v) for v in _months(data)]
    n = len(y)
    # exact ppm integer recursion (alpha=0.3, beta=0.1)
    l, b = y[0], y[1] - y[0]
    pred = {1: None}
    for i in range(1, n):
        pred[i + 1] = l + b
        l_new = _tdiv2(300_000 * y[i] + 700_000 * (l + b), 1_000_000)
        b = _tdiv2(100_000 * (l_new - l) + 900_000 * b, 1_000_000)
        l = l_new
    for h in (1, 2, 3):
        pred[n + h] = l + h * b
    errs = []
    if len(rows) != n + 3:
        errs.append(f"{len(rows)} rows vs {n + 3}")
    for r in rows:
        tt = int(r["t"])
        want = pred.get(tt)
        got = r["pred_c"]
        isnull = got is None or (
            isinstance(got, float) and math.isnan(got)
        )
        if want is None:
            if not isnull:
                errs.append(f"t={tt}: expected NULL, got {got}")
        elif isnull or int(got) != want:
            errs.append(f"t={tt}: pred {got} vs {want}")
    return errs


# ===========================================================================
# audits — sketch & richness family
# ===========================================================================


@audit("cms_frequency_audit")
def a_cms(data: Data, rows) -> list[str]:
    from collections import Counter

    li = data.table("lineitem")
    pk = li["l_partkey"].to_numpy()
    cells = [Counter() for _ in range(3)]
    for k in pk:
        for d in range(3):
            cells[d][_md5mod(str(31 + d), int(k), 1024)] += 1
    exact = Counter(int(k) for k in pk)
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    errs = []
    got = {int(r["partkey"]): r for r in rows}
    for k, ec in top:
        est = min(
            cells[d][_md5mod(str(31 + d), k, 1024)] for d in range(3)
        )
        r = got.get(k)
        if r is None:
            errs.append(f"partkey {k} missing")
        elif int(r["exact_cnt"]) != ec or int(r["est_cnt"]) != est:
            errs.append(f"{k}: {dict(r)} vs ({ec},{est})")
        elif est < ec:
            errs.append(f"{k}: CMS underestimates ({est} < {ec})")
    return errs


@audit("capture_recapture_estimate")
def a_capture(data: Data, row) -> list[str]:
    c = data.table("customer")
    o = data.table("orders")
    active = np.unique(
        o.merge(c[["c_custkey"]], left_on="o_custkey",
                right_on="c_custkey")["c_custkey"].to_numpy()
    )
    s1 = np.array(
        [_md5mod("cr1", int(k), 1_000_000) < 400_000 for k in active]
    )
    s2 = np.array(
        [_md5mod("cr2", int(k), 1_000_000) < 400_000 for k in active]
    )
    n1, n2, m = int(s1.sum()), int(s2.sum()), int((s1 & s2).sum())
    chapman = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    return check(
        "capture",
        row,
        {
            "true_n": (len(active), 0),
            "n1": (n1, 0),
            "n2": (n2, 0),
            "m": (m, 0),
            "chapman_est": (chapman, 0),
        },
    )


@audit("chao1_unseen_vocab")
def a_chao1(data: Data, row) -> list[str]:
    from collections import Counter

    freq = Counter()
    for _, toks in _space_tokens(data):
        freq.update(toks)
    V = len(freq)
    N = sum(freq.values())
    f1 = sum(1 for v in freq.values() if v == 1)
    f2 = sum(1 for v in freq.values() if v == 2)
    chao1 = V + f1 * f1 // (2 * max(f2, 1))
    return check(
        "chao1",
        row,
        {
            "vocab_observed": (V, 0),
            "n_tokens": (N, 0),
            "f1": (f1, 0),
            "f2": (f2, 0),
            "chao1_est": (chao1, 0),
            "gt_unseen_ppm": (f1 * 1_000_000 // N, 0),
        },
    )


# ===========================================================================
# audits — drift / resampling / order-stat CI family
# ===========================================================================


@audit("benford_digit_audit")
def a_benford(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    cents = cents[o["o_totalprice"].to_numpy() > 0]
    digits = np.array([int(str(int(v))[0]) for v in cents])
    n = len(digits)
    errs = []
    got = {int(r["digit"]): r for r in rows}
    for d in range(1, 10):
        cnt = int((digits == d).sum())
        r = got.get(d)
        if r is None:
            if cnt:
                errs.append(f"digit {d} missing")
            continue
        want_b = math.floor(math.log(1 + 1 / d) / math.log(10) * 1e6)
        if (
            int(r["n"]) != cnt
            or int(r["observed_ppm"]) != cnt * 1_000_000 // n
            or int(r["benford_ppm"]) != want_b
        ):
            errs.append(f"digit {d}: {dict(r)} vs ({cnt},{want_b})")
    return errs


@audit("psi_drift_audit")
def a_psi(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    bins = np.minimum(10, cents // 5_000_000)
    pre = (o["o_orderdate"] < pd.Timestamp("1998-01-01")).to_numpy()
    bvals = sorted(set(bins.tolist()))
    nb = len(bvals)
    tp, tq = int(pre.sum()), int((~pre).sum())
    errs = []
    got = {int(r["bin"]): r for r in rows}
    total = 0
    terms = {}
    for b in bvals:
        n_pre = int((pre & (bins == b)).sum())
        n_post = int((~pre & (bins == b)).sum())
        p = (n_pre + 1) * 1_000_000 // (tp + nb)
        q = (n_post + 1) * 1_000_000 // (tq + nb)
        term = (p - q) * math.floor(1e6 * math.log(p / q))
        terms[b] = (n_pre, n_post, p, q, term)
        total += term
    for b, (n_pre, n_post, p, q, term) in terms.items():
        r = got.get(b)
        if r is None:
            errs.append(f"bin {b} missing")
        elif (
            int(r["n_pre"]) != n_pre
            or int(r["p_ppm"]) != p
            or int(r["q_ppm"]) != q
            or int(r["psi_term_e12"]) != term
            or int(r["psi_total_e12"]) != total
        ):
            errs.append(f"bin {b}: {dict(r)} vs {terms[b]} tot {total}")
    return errs


@audit("median_ci_order_stat")
def a_median_ci(data: Data, row) -> list[str]:
    o = data.table("orders")
    v = np.sort(
        np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
        // 1000
    )
    n = len(v)
    halfw = math.floor(math.sqrt(n) * 1_959_964 / 1_000_000)
    l_rank = (n - halfw) // 2
    u_rank = n + 1 - l_rank
    m_rank = (n + 1) // 2
    return check(
        "median_ci",
        row,
        {
            "n_orders": (n, 0),
            "l_rank": (l_rank, 0),
            "u_rank": (u_rank, 0),
            "median_c": (int(v[m_rank - 1]) * 1000, 0),
            "ci_lo_c": (int(v[l_rank - 1]) * 1000, 0),
            "ci_hi_c": (int(v[u_rank - 1]) * 1000, 0),
        },
    )


@audit("bootstrap_ci_revenue")
def a_bootstrap(data: Data, rows) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    prio = o["o_orderpriority"].to_numpy()
    keys = o["o_orderkey"].to_numpy()
    # Poisson(1) weights via the md5 CDF thresholds (shared literals)
    TH = [367879441, 735758882, 919698603, 980993098, 996340153]
    errs = []
    got = {r["prio"]: r for r in rows}
    for p in np.unique(prio):
        mask = prio == p
        means = []
        for b in range(32):
            sw = swx = 0
            for k, x in zip(keys[mask], cents[mask]):
                h = (
                    int(_hl.md5(f"{int(k)}|{b}".encode()).hexdigest()[:15],
                        16) % 1_000_000_000
                )
                w = next(
                    (i for i, t_ in enumerate(TH) if h < t_), 5
                )
                sw += w
                swx += w * int(x)
            means.append(swx // sw)
        means.sort()
        lo, hi = means[1], means[30]
        r = got.get(p)
        if r is None:
            errs.append(f"prio {p} missing")
        elif int(r["boot_lo_c"]) != lo:
            errs.append(f"{p}: lo {r['boot_lo_c']} vs {lo}")
    return errs


# ===========================================================================
# audits — stratified-table & repeated-binary family
# ===========================================================================


def _region_2x2(data: Data):
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    x = (m["o_orderpriority"] == "1-URGENT").to_numpy().astype(int)
    y = (
        np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
        > 30_000_000
    ).astype(int)
    out = {}
    for s in np.unique(m["r_name"]):
        mk = (m["r_name"] == s).to_numpy()
        a = int((x[mk] & y[mk]).sum())
        b = int((x[mk] & (1 - y[mk])).sum())
        cc = int(((1 - x[mk]) & y[mk]).sum())
        d = int(((1 - x[mk]) & (1 - y[mk])).sum())
        out[s] = (a, b, cc, d, a + b + cc + d)
    return out


@audit("mantel_haenszel_cmh")
def a_cmh(data: Data, row) -> list[str]:
    tabs = _region_2x2(data)
    sa_e6 = sum(t[0] for t in tabs.values()) * 10**6
    orn = sum(t[0] * t[3] * 10**6 // t[4] for t in tabs.values())
    ord_ = sum(t[1] * t[2] * 10**6 // t[4] for t in tabs.values())
    se = sum(
        (t[0] + t[1]) * (t[0] + t[2]) * 10**6 // t[4]
        for t in tabs.values()
    )
    sv = sum(
        (t[0] + t[1]) * (t[2] + t[3]) * (t[0] + t[2]) * (t[1] + t[3])
        * 10**12 // (t[4] * t[4] * (t[4] - 1))
        for t in tabs.values()
    )
    chi2 = (abs(sa_e6 - se) - 500_000) ** 2 * 10**6 // sv
    errs = check(
        "cmh",
        row,
        {
            "n_strata": (len(tabs), 0),
            "or_mh_ppm": (orn * 10**6 // ord_, 0),
            "cmh_chi2_ppm": (chi2, 0),
        },
    )
    # float textbook cross-check (continuity-corrected CMH)
    saf = sum(t[0] for t in tabs.values())
    sef = sum(
        (t[0] + t[1]) * (t[0] + t[2]) / t[4] for t in tabs.values()
    )
    svf = sum(
        (t[0] + t[1]) * (t[2] + t[3]) * (t[0] + t[2]) * (t[1] + t[3])
        / (t[4] ** 2 * (t[4] - 1))
        for t in tabs.values()
    )
    chif = (abs(saf - sef) - 0.5) ** 2 / svf
    if abs(chif * 1e6 - chi2) > 50:
        errs.append(f"staged {chi2} vs float {chif*1e6:.0f}")
    return errs


@audit("page_trend_test")
def a_page(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "yr": o["o_orderdate"].dt.year,
                "mo": o["o_orderdate"].dt.month,
                "c": cents,
            }
        )
        .groupby(["yr", "mo"])["c"]
        .sum()
        .reset_index()
    )
    full = g.groupby("yr").size()
    g = g[g["yr"].isin(set(full[full == 12].index))]
    g = g.sort_values(["yr", "c", "mo"])
    g["r"] = g.groupby("yr").cumcount() + 1
    L = int((g["mo"] * g["r"]).sum())
    b = g["yr"].nunique()
    lmean = b * 12 * 13 * 13 // 4
    z2 = (4 * L - b * 12 * 13 * 13) ** 2 * 9 * 10**6 // (
        b * 12 * 12 * 13 * (12 * 12 - 1)
    )
    return check(
        "page",
        row,
        {
            "n_years": (b, 0),
            "k_months": (12, 0),
            "l_stat": (L, 0),
            "l_mean": (lmean, 0),
            "z2_ppm": (z2, 0),
        },
    )


@audit("cochran_q_test")
def a_cochran_q(data: Data, row) -> list[str]:
    ev = data.table("events")
    x = (
        ev.groupby(["user_id", "event_type"]).size().rename("n")
        .reset_index()
    )
    x["b"] = (x["n"] >= 13).astype(int)
    cj = x.groupby("event_type")["b"].sum()
    ru = x.groupby("user_id")["b"].sum()
    k = len(cj)
    T = int(cj.sum())
    sc2 = int((cj**2).sum())
    sr2 = int((ru**2).sum())
    q = (k - 1) * (k * sc2 - T * T) * 10**6 // (k * T - sr2)
    return check(
        "cochran_q",
        row,
        {
            "k_treatments": (k, 0),
            "n_successes": (T, 0),
            "q_ppm": (q, 0),
            "reject_equal_rates": (1 if q > 9_487_729 else 0, 0),
        },
    )


# ===========================================================================
# audits — count-model / posthoc / partial-correlation family
# ===========================================================================


@audit("negative_binomial_overdispersion")
def a_nb_over(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    per = o.groupby("o_custkey").size()
    x = c["c_custkey"].map(per).fillna(0).astype(int).to_numpy(dtype=object)
    n = len(x)
    sx = int(sum(x))
    sxx = int(sum(v * v for v in x))
    disp = (n * sxx - sx * sx) * 10**6 // (n * sx)
    errs = check(
        "nb",
        row,
        {
            "n_customers": (n, 0),
            "n_orders": (sx, 0),
            "mean_ppm": (sx * 10**6 // n, 0),
            "dispersion_ppm": (disp, 0),
            "overdispersed": (1 if disp > 10**6 else 0, 0),
        },
    )
    # MoM NB fit cross-check: r = mean^2/(var - mean) in float
    xf = np.array([float(v) for v in x])
    mean, var = xf.mean(), xf.var()
    if var > mean and row["nb_r_ppm"] is not None:
        rf = mean * mean / (var - mean)
        if abs(rf * 1e6 - int(row["nb_r_ppm"])) > max(10, rf * 1e6 * 1e-4):
            errs.append(f"nb_r {row['nb_r_ppm']} vs float {rf*1e6:.0f}")
    return errs


@audit("poisson_zero_inflation_audit")
def a_zi(data: Data, row) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    sel = o[o["o_orderdate"].dt.year == 1997]
    per = sel.groupby("o_custkey").size()
    k = c["c_custkey"].map(per).fillna(0).astype(int)
    n = len(k)
    z = int((k == 0).sum())
    tot = int(k.sum())
    lam = tot * 10**6 // n
    lnp0 = math.floor(1e6 * math.log(z / n))
    return check(
        "zi",
        row,
        {
            "n_customers": (n, 0),
            "n_zero": (z, 0),
            "lambda_e6": (lam, 0),
            "ln_p0_obs_e6": (lnp0, 0),
            "zi_score_e6": (lnp0 + lam, 0),
            "excess_zeros": (1 if lnp0 + lam > 0 else 0, 0),
        },
    )


@audit("tukey_hsd")
def a_tukey(data: Data, rows) -> list[str]:
    tabs = {}
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    v = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    grp = m["r_name"].to_numpy()
    for g in np.unique(grp):
        vals = v[grp == g].astype(object)
        tabs[g] = (len(vals), int(sum(vals)), int(sum(x * x for x in vals)))
    n_tot = sum(t[0] for t in tabs.values())
    kk = len(tabs)
    ssw = sum((t[2] * t[0] - t[1] * t[1]) // t[0] for t in tabs.values())
    errs = []
    got = {(r["region_a"], r["region_b"]): r for r in rows}
    names = sorted(tabs)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            na, sa, _ = tabs[a]
            nb, sb, _ = tabs[b]
            contrast = (sa * nb - sb * na) ** 2 // ((na * nb) * (na + nb))
            sig = (
                1
                if contrast * 2 * (n_tot - kk) * 10**6 > 14_884_164 * ssw
                else 0
            )
            r = got.get((a, b))
            if r is None:
                errs.append(f"pair {a},{b} missing")
                continue
            if (
                int(r["contrast_stat"]) != contrast
                or bool(r["significant"]) != bool(sig)
            ):
                errs.append(f"{a},{b}: {dict(r)} vs ({contrast},{sig})")
    # float sanity: q^2/2 gate 14.884164 is (q_{0.05,5,inf}=3.858)^2
    if abs(3.858**2 - 14.884164) > 0.01:
        errs.append("gate constant drifted")
    return errs


@audit("dunn_posthoc")
def a_dunn(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    nt = data.table("nation")
    rg = data.table("region")
    m = (
        o.merge(c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
                right_on="c_custkey")
        .merge(nt[["n_nationkey", "n_regionkey"]], left_on="c_nationkey",
               right_on="n_nationkey")
        .merge(rg[["r_regionkey", "r_name"]], left_on="n_regionkey",
               right_on="r_regionkey")
    )
    v = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64) // 1000
    grp = m["r_name"].to_numpy()
    r2 = 2 * pd.Series(v).rank(method="average").to_numpy()
    nn = len(v)
    _, counts = np.unique(v, return_counts=True)
    ties = int(sum(int(c_) ** 3 - int(c_) for c_ in counts))
    gsum = {}
    for g in np.unique(grp):
        mk = grp == g
        gsum[g] = (int(mk.sum()), int(r2[mk].sum()))
    errs = []
    got = {(r["region_a"], r["region_b"]): r for r in rows}
    names = sorted(gsum)
    vfac = (nn * (nn + 1) * (nn - 1) - ties) // (3 * (nn - 1))
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            na, s2a = gsum[a]
            nb, s2b = gsum[b]
            rd = _tdiv2((s2a * nb - s2b * na) * 10**6, na * nb)
            var2 = vfac * (na + nb) * 10**6 // (na * nb)
            z2 = rd * rd // var2
            r = got.get((a, b))
            if r is None:
                errs.append(f"pair {a},{b} missing")
                continue
            if (
                int(r["rank_diff2_ppm"]) != rd
                or int(r["var2_ppm"]) != var2
                or int(r["z2_ppm"]) != z2
            ):
                errs.append(f"{a},{b}: {dict(r)} vs ({rd},{var2},{z2})")
    return errs


@audit("partial_correlation_triples")
def a_partial_corr(data: Data, rows) -> list[str]:
    li = data.table("lineitem")
    base = li["l_shipdate"].min()
    t = (li["l_shipdate"] - base).dt.days
    ep = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    dc = np.round(li["l_discount"].to_numpy() * 100).astype(np.int64)
    g = pd.DataFrame({"t": t, "x": 1, "epc": ep, "z": dc}).groupby("t").agg(
        x=("x", "sum"), epc=("epc", "sum"), z=("z", "sum")
    )
    g["y"] = g["epc"] // 100000
    x = g["x"].to_numpy().astype(np.float64)
    y = g["y"].to_numpy().astype(np.float64)
    z = g["z"].to_numpy().astype(np.float64)
    r_xy = math.floor(np.corrcoef(x, y)[0, 1] * 1e6)
    r_xz = math.floor(np.corrcoef(x, z)[0, 1] * 1e6)
    r_yz = math.floor(np.corrcoef(y, z)[0, 1] * 1e6)

    def arm(rm, ra, rb):
        num = _tdiv2(rm * 10**6 - ra * rb, 10**6)
        den = (
            _tdiv2(10**12 - ra * ra, 10**6)
            * _tdiv2(10**12 - rb * rb, 10**6)
        )
        p2 = _tdiv2(
            _tdiv2((rm * 10**6 - ra * rb) ** 2, den), 10**6
        )
        return num, p2

    want = {
        "orders_revenue_given_discount": (r_xy,) + arm(r_xy, r_xz, r_yz),
        "orders_discount_given_revenue": (r_xz,) + arm(r_xz, r_xy, r_yz),
        "revenue_discount_given_orders": (r_yz,) + arm(r_yz, r_xy, r_xz),
    }
    errs = []
    got = {r["pair"]: r for r in rows}
    cols = list(rows[0].keys())
    for pair, (rm, num, p2) in want.items():
        r = got.get(pair)
        if r is None:
            errs.append(f"{pair} missing")
            continue
        vals = list(r.values())
        if (
            abs(int(vals[2]) - rm) > 1
            or abs(int(vals[3]) - num) > 2
            or abs(int(vals[4]) - p2) > 4
        ):
            errs.append(f"{pair}: {vals[2:]} vs ({rm},{num},{p2})")
    return errs


# ===========================================================================
# audits — stationarity / seasonal MK / Lorenz / conformal family
# ===========================================================================


@audit("kpss_stationarity")
def a_kpss(data: Data, row) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(object)
    n = len(y)
    S = sum(y)
    d = [n * v - S for v in y]
    pos = {tv: i for i, tv in enumerate(t)}
    g0 = sum(v * v for v in d)
    # Bartlett-kernel long-run variance, bandwidth 4 (weights (5-l)/5
    # folded as 5*g0 + 2*sum (5-l) g_l, all over 5)
    ln_num = 5 * g0
    for l in range(1, 5):
        gl = sum(d[pos[tv]] * d[pos[tv + l]] for tv in t if tv + l in pos)
        ln_num += 2 * (5 - l) * gl
    cum = 0
    sc2 = 0
    for v in d:
        cum += v
        sc2 += cum * cum
    eta = sc2 * 5 * 10**6 // (n * ln_num)
    return check(
        "kpss",
        row,
        {
            "n_days": (n, 0),
            "kpss_eta_ppm": (eta, 0),
            "reject_level_stationary": (1 if eta > 463_000 else 0, 0),
        },
    )


@audit("seasonal_mk_trend")
def a_smk(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = (
        pd.DataFrame(
            {
                "yr": o["o_orderdate"].dt.year,
                "mo": o["o_orderdate"].dt.month,
                "c": cents,
            }
        )
        .groupby(["yr", "mo"])["c"]
        .sum()
        .reset_index()
    )
    s = 0
    for mo, gm in g.groupby("mo"):
        ys = gm.sort_values("yr")["c"].to_numpy()
        for i in range(len(ys)):
            for j in range(i + 1, len(ys)):
                s += int(np.sign(int(ys[j]) - int(ys[i])))
    var18 = int(
        sum(
            len(gm) * (len(gm) - 1) * (2 * len(gm) + 5)
            for _, gm in g.groupby("mo")
        )
    )
    z2 = (abs(s) - 1) ** 2 * 18 * 10**6 // var18
    return check(
        "smk",
        row,
        {
            "s_stat": (s, 0),
            "var18": (var18, 0),
            "z2_ppm": (z2, 0),
            "increasing_side": (1 if s > 0 else 0, 0),
        },
    )


@audit("gini_lorenz_audit")
def a_gini_lorenz(data: Data, rows) -> list[str]:
    v = np.sort(_cust_values(data)).astype(object)
    n = len(v)
    s = int(sum(v))
    # exact Gini via sorted prefix identity: pm = sum_{i<j}(v_j - v_i)
    pref = 0
    pm = 0
    for i, val in enumerate(v):
        pm += i * int(val) - pref
        pref += int(val)
    gini = pm * 10**6 // (n * s)
    errs = []
    got = {int(r["decile"]): r for r in rows}
    # engine decile reads are BUCKET-granular: the first distinct
    # $1000-bucket whose cumulative population reaches d/10 of n is
    # included WHOLE (cn/cs at that bucket), so pop_share can exceed
    # d/10 exactly by the boundary bucket's tail
    vals, counts = np.unique(np.asarray(v, dtype=np.int64),
                             return_counts=True)
    cn = np.cumsum(counts)
    cs = np.cumsum(vals.astype(object) * counts.astype(object))
    for d in range(1, 11):
        i = int(np.argmax(cn * 10 >= d * n))
        pop = int(cn[i])
        rev = int(cs[i])
        r = got.get(d)
        if r is None:
            errs.append(f"decile {d} missing")
            continue
        if (
            int(r["pop_share_ppm"]) != pop * 10**6 // n
            or int(r["rev_share_ppm"]) != rev * 10**6 // s
            or int(r["gini_ppm"]) != gini
        ):
            errs.append(
                f"decile {d}: {dict(r)} vs ({pop*10**6//n},"
                f"{rev*10**6//s},{gini})"
            )
    return errs


@audit("conformal_interval_audit")
def a_conformal(data: Data, rows) -> list[str]:
    o = data.table("orders")
    li = data.table("lineitem")
    fs = li.groupby("l_orderkey")["l_shipdate"].min()
    m = o[o["o_orderkey"].isin(fs.index)].copy()
    m["y"] = (m["o_orderkey"].map(fs) - m["o_orderdate"]).dt.days
    m["bucket"] = [
        _md5mod("41", int(k), 10) for k in m["o_orderkey"]
    ]
    errs = []
    got = {r["grp"]: r for r in rows}
    for grp, g in m.groupby("o_orderpriority"):
        train = g[g["bucket"] <= 5]
        pred = (int(train["y"].sum()) + 100000 * len(train)) // len(
            train
        ) - 100000
        calib = g[g["bucket"].isin([6, 7])].copy()
        calib["r"] = (calib["y"] - pred).abs()
        n_cal = len(calib)
        k = ((n_cal + 1) * 9 + 9) // 10
        ranked = calib.sort_values(["r", "o_orderkey"])
        qhat = int(ranked["r"].iloc[k - 1])
        test = g[g["bucket"] >= 8]
        ncov = int(((test["y"] - pred).abs() <= qhat).sum())
        r = got.get(grp)
        if r is None:
            errs.append(f"{grp} missing")
            continue
        if (
            int(r["n_train"]) != len(train)
            or int(r["pred_days"]) != pred
            or int(r["n_cal"]) != n_cal
            or int(r["k_order_stat"]) != k
            or int(r["qhat_days"]) != qhat
            or int(r["n_test"]) != len(test)
            or int(r["n_covered"]) != ncov
        ):
            errs.append(
                f"{grp}: {dict(r)} vs ({len(train)},{pred},{n_cal},"
                f"{k},{qhat},{len(test)},{ncov})"
            )
    return errs


# ===========================================================================
# audits — correlation matrix / drift / set-ops family
# ===========================================================================


@audit("correlation_matrix")
def a_corr_matrix(data: Data, rows) -> list[str]:
    li = data.table("lineitem")
    q = np.round(li["l_quantity"].to_numpy() * 100)
    p = np.round(li["l_extendedprice"].to_numpy() * 100)
    d = np.round(li["l_discount"].to_numpy() * 100)
    want = {
        ("qty", "price"): np.corrcoef(q, p)[0, 1],
        ("qty", "disc"): np.corrcoef(q, d)[0, 1],
        ("price", "disc"): np.corrcoef(p, d)[0, 1],
    }
    errs = []
    got = {(r["var_a"], r["var_b"]): r for r in rows}
    for pair, rho in want.items():
        r = got.get(pair)
        if r is None:
            errs.append(f"{pair} missing")
        elif abs(int(r["pearson_e6"]) - rho * 1e6) > 2:
            errs.append(f"{pair}: {r['pearson_e6']} vs {rho*1e6:.1f}")
    return errs


@audit("distribution_drift_audit")
def a_dist_drift(data: Data, rows) -> list[str]:
    ev = data.table("events")
    e = ev["ts"].astype("int64").to_numpy() // 1000  # epoch_us
    mid = (int(e.min()) + int(e.max())) // 2
    half = (e > mid).astype(int)
    et = ev["event_type"].to_numpy()
    tf = int((half == 0).sum())
    ts_ = int((half == 1).sum())
    errs = []
    got = {r["event_type"]: r for r in rows}
    for typ in np.unique(et):
        n1 = int(((et == typ) & (half == 0)).sum())
        n2 = int(((et == typ) & (half == 1)).sum())
        p1 = n1 * 10**6 // tf
        p2 = n2 * 10**6 // ts_
        r = got.get(typ)
        if r is None:
            errs.append(f"{typ} missing")
        elif (
            int(r["n_first"]) != n1
            or int(r["n_second"]) != n2
            or int(r["ppm_first"]) != p1
            or int(r["ppm_second"]) != p2
            or int(r["drift_ppm"]) != abs(p1 - p2)
        ):
            errs.append(f"{typ}: {dict(r)} vs ({n1},{n2},{p1},{p2})")
    return errs


@audit("emd_drift_audit")
def a_emd(data: Data, row) -> list[str]:
    o = data.table("orders")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    bins = np.minimum(40, cents // 2_000_000)
    pre = (o["o_orderdate"] < pd.Timestamp("1998-01-01")).to_numpy()
    bvals = sorted(set(bins.tolist()))
    n1, n2 = int(pre.sum()), int((~pre).sum())
    cum1 = cum2 = 0
    sabs = 0
    for b in bvals:
        cum1 += int((pre & (bins == b)).sum())
        cum2 += int((~pre & (bins == b)).sum())
        sabs += abs(cum1 * n2 - cum2 * n1)
    emd = sabs * 10**6 // (n1 * n2)
    return check(
        "emd",
        row,
        {
            "n1": (n1, 0),
            "n2": (n2, 0),
            "n_bins": (len(bvals), 0),
            "emd_bins_e6": (emd, 0),
        },
    )


@audit("theta_set_ops_audit")
def a_theta_ops(data: Data, row) -> list[str]:
    o = data.table("orders")
    yr = o["o_orderdate"].dt.year
    per = pd.DataFrame(
        {"ck": o["o_custkey"], "y97": (yr == 1997).astype(int),
         "y98": (yr == 1998).astype(int)}
    ).groupby("ck").max()
    return check(
        "theta_ops",
        row,
        {
            "union_exact": (
                int(((per["y97"] == 1) | (per["y98"] == 1)).sum()), 0
            ),
            "retained_exact": (
                int(((per["y97"] == 1) & (per["y98"] == 1)).sum()), 0
            ),
            "churned_exact": (
                int(((per["y97"] == 1) & (per["y98"] == 0)).sum()), 0
            ),
        },
    )


@audit("heavy_hitters_audit")
def a_heavy_hitters(data: Data, rows) -> list[str]:
    from collections import Counter

    freq = Counter()
    for _, toks in _space_tokens(data):
        freq.update(toks)
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    errs = []
    if [r["word"] for r in rows] != [w for w, _ in top]:
        errs.append(
            f"top-10 differ: {[r['word'] for r in rows]} vs "
            f"{[w for w, _ in top]}"
        )
    for r, (w, n) in zip(rows, top):
        if int(r["exact_count"]) != n:
            errs.append(f"{w}: {r['exact_count']} vs {n}")
    return errs


# ===========================================================================
# audits — causal weighting / uplift / Bayesian AB / multiplicity
# ===========================================================================


@audit("ipw_treatment_effect")
def a_ipw(data: Data, row) -> list[str]:
    ev = data.table("events")
    per = ev.groupby("user_id").agg(
        n_events=("event_type", "size"),
        t=("event_type", lambda s: int((s == "signup").any())),
    )
    y = ev[ev["event_type"] == "purchase"].copy()
    y["yc"] = np.round(y["value"].to_numpy() * 100).astype(np.int64)
    ysum = y.groupby("user_id")["yc"].sum()
    per["y"] = per.index.map(ysum).fillna(0).astype(int)
    per["band"] = np.floor(np.log2(per["n_events"].to_numpy())).astype(int)
    n_ok = 0
    bands = 0
    nt = nc = yt = yc_ = wt = wc = 0
    for b, g in per.groupby("band"):
        ntd = int(g["t"].sum())
        ncd = len(g) - ntd
        if ntd == 0 or ncd == 0:
            continue
        bands += 1
        n_ok += len(g)
        nt += ntd
        nc += ncd
        ytd = int(g[g["t"] == 1]["y"].sum())
        ycd = int(g[g["t"] == 0]["y"].sum())
        yt += ytd
        yc_ += ycd
        wt += ytd * len(g) * 1_000_000 // ntd
        wc += ycd * len(g) * 1_000_000 // ncd
    if bands == 0:
        # no band carries BOTH arms (true at sf0.001 where every user
        # signed up): the engine emits the degenerate NULL row
        errs = []
        if int(row["bands_used"]) != 0:
            errs.append(f"bands_used {row['bands_used']} vs 0")
        for col in ("n_users", "n_treated", "naive_diff_microcents",
                    "ipw_ate_microcents"):
            v = row[col]
            if v is not None and not (
                isinstance(v, float) and math.isnan(v)
            ):
                errs.append(f"{col}: expected NULL, got {v}")
        return errs
    return check(
        "ipw",
        row,
        {
            "n_users": (n_ok, 0),
            "bands_used": (bands, 0),
            "n_treated": (nt, 0),
            "naive_diff_microcents": (
                yt * 1_000_000 // nt - yc_ * 1_000_000 // nc, 0
            ),
            "ipw_ate_microcents": (wt // n_ok - wc // n_ok, 0),
        },
    )


@audit("qini_uplift")
def a_qini(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    cents = np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64)
    spend = pd.Series(cents).groupby(o["o_custkey"].to_numpy()).sum()
    ck = c["c_custkey"].to_numpy()
    t_ = np.array([_md5mod("trt", int(k), 2) for k in ck])
    neg_score = -np.round(c["c_acctbal"].to_numpy() * 100).astype(np.int64)
    y = c["c_custkey"].map(spend).fillna(0).astype(int).to_numpy()
    df = pd.DataFrame({"k": ck, "t": t_, "ns": neg_score, "y": y})
    df = df.sort_values(["ns", "k"]).reset_index(drop=True)
    n = len(df)
    # ntile(10) row allocation: first (n mod 10) tiles get ceil(n/10)
    base = n // 10
    extra = n % 10
    dec = np.concatenate(
        [
            np.full(base + (1 if i < extra else 0), i + 1, dtype=int)
            for i in range(10)
        ]
    )
    df["decile"] = dec
    errs = []
    got = {int(r["decile"]): r for r in rows}
    cum = 0
    for d in range(1, 11):
        g = df[df["decile"] == d]
        n_t = int(g["t"].sum())
        n_c = len(g) - n_t
        avg_t = int(g[g["t"] == 1]["y"].sum()) // n_t if n_t else 0
        avg_c = int(g[g["t"] == 0]["y"].sum()) // n_c if n_c else 0
        cum += avg_t - avg_c
        r = got.get(d)
        if r is None:
            errs.append(f"decile {d} missing")
            continue
        if (
            int(r["n_t"]) != n_t
            or int(r["n_c"]) != n_c
            or int(r["avg_t_c"]) != avg_t
            or int(r["avg_c_c"]) != avg_c
            or int(r["cum_uplift_c"]) != cum
        ):
            errs.append(f"decile {d}: {dict(r)} vs ({n_t},{n_c},{avg_t},{avg_c},{cum})")
    return errs


@audit("bayes_ab_prob_superiority")
def a_bayes_ab(data: Data, row) -> list[str]:
    ev = data.table("events")
    per = ev.groupby(["user_id"])["event_type"].agg(
        c=lambda s: 1 if int((s == "purchase").sum()) >= 14 else 0
    )
    variant = per.index % 2
    n_a = int((variant == 0).sum())
    c_a = int(per[variant == 0]["c"].sum())
    n_b = int((variant == 1).sum())
    c_b = int(per[variant == 1]["c"].sum())
    aa, ba = 1 + c_a, 1 + n_a - c_a
    ab, bb = 1 + c_b, 1 + n_b - c_b
    # exact P(p_b > p_a) for Beta posteriors via the standard sum
    from math import lgamma, exp

    def lbeta(x, y):
        return lgamma(x) + lgamma(y) - lgamma(x + y)

    prob = sum(
        exp(
            lbeta(aa + i, ba + bb)
            - math.log(bb + i)
            - lbeta(1 + i, bb)
            - lbeta(aa, ba)
        )
        for i in range(ab)
    )
    return check(
        "bayes_ab",
        row,
        {
            "n_a": (n_a, 0),
            "c_a": (c_a, 0),
            "n_b": (n_b, 0),
            "c_b": (c_b, 0),
            "prob_b_beats_a_e6": (prob * 1e6, 3),
            "ship_b": (1 if prob > 0.95 else 0, 0),
            "ship_a": (1 if prob < 0.05 else 0, 0),
        },
    )


def _nation_ztests(data: Data):
    """Shared per-nation two-proportion z replay (the BY/holm/BH arm
    device)."""
    o = data.table("orders")
    li = data.table("lineitem")
    c = data.table("customer")
    ret = (
        li.assign(ret=(li["l_returnflag"] == "R").astype(int))
        .groupby("l_orderkey")["ret"]
        .max()
    )
    po = o[o["o_orderkey"].isin(ret.index)][
        ["o_orderkey", "o_custkey"]
    ].copy()
    po["ret"] = po["o_orderkey"].map(ret).astype(int)
    po = po.merge(
        c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    po["arm"] = po["c_custkey"] % 2
    stats = []
    for nk, g in po.groupby("c_nationkey"):
        ga, gb = g[g["arm"] == 0], g[g["arm"] == 1]
        na, nb = len(ga), len(gb)
        ca, cb = int(ga["ret"].sum()), int(gb["ret"].sum())
        if na and nb and 0 < ca + cb < na + nb:
            pool = (ca + cb) / (na + nb)
            z = abs(
                (cb / nb - ca / na)
                / math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
            )
            stats.append((nk, math.floor(z * 1e6)))
    stats.sort(key=lambda s: (-s[1], s[0]))
    return stats


@audit("holm_bonferroni")
def a_holm(data: Data, rows) -> list[str]:
    from statistics import NormalDist

    stats = _nation_ztests(data)
    m = len(stats)
    nd = NormalDist()
    rejected = {}
    all_pass = 1
    for i, (nk, z) in enumerate(stats, 1):
        thr = math.floor(nd.inv_cdf(1 - 0.05 / (2 * (m - i + 1))) * 1e6)
        all_pass = min(all_pass, 1 if z >= thr else 0)
        rejected[nk] = all_pass
    errs = []
    got = {int(r["nationkey"]): r for r in rows}
    for nk, z in stats:
        r = got.get(nk)
        if r is None:
            errs.append(f"nation {nk} missing")
        elif abs(int(r["z_abs_e6"]) - z) > 2 or int(r["rejected"]) != rejected[nk]:
            errs.append(f"nation {nk}: {dict(r)} vs (z {z}, rej {rejected[nk]})")
    return errs


@audit("fdr_bh_audit")
def a_bh(data: Data, rows) -> list[str]:
    from statistics import NormalDist

    stats = _nation_ztests(data)
    m = len(stats)
    nd = NormalDist()
    kmax = 0
    for i, (nk, z) in enumerate(stats, 1):
        thr = math.floor(nd.inv_cdf(1 - 0.10 * i / (2 * m)) * 1e6)
        if z >= thr:
            kmax = i
    rejected = {
        nk: (1 if i <= kmax else 0) for i, (nk, z) in enumerate(stats, 1)
    }
    errs = []
    got = {int(r["nationkey"]): r for r in rows}
    for i, (nk, z) in enumerate(stats, 1):
        r = got.get(nk)
        if r is None:
            errs.append(f"nation {nk} missing")
        elif abs(int(r["z_abs_e6"]) - z) > 2 or int(r["rejected"]) != rejected[nk]:
            errs.append(f"nation {nk}: {dict(r)} vs (z {z}, rej {rejected[nk]})")
    return errs


@audit("rdd_estimate")
def a_rdd(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    per = o.groupby("o_custkey").size()
    bal = np.round(c["c_acctbal"].to_numpy() * 100).astype(np.int64)
    y = c["c_custkey"].map(per).fillna(0).astype(int).to_numpy()
    errs = []
    for r in rows:
        bw = int(r["bandwidth_cents"])
        mk = (bal >= -bw) & (bal < bw)
        left = mk & (bal < 0)
        right = mk & (bal >= 0)
        nl, nr = int(left.sum()), int(right.sum())
        ml = int(y[left].sum()) * 1_000_000 // nl
        mr = int(y[right].sum()) * 1_000_000 // nr
        if (
            int(r["n_left"]) != nl
            or int(r["n_right"]) != nr
            or int(r["mean_left_ppm"]) != ml
            or int(r["mean_right_ppm"]) != mr
            or int(r["effect_ppm"]) != mr - ml
        ):
            errs.append(f"bw {bw}: {dict(r)} vs ({nl},{nr},{ml},{mr})")
    return errs


# ===========================================================================
# audits — SPRT / Simpson / burstiness family
# ===========================================================================


@audit("sprt_boundary_crossing")
def a_sprt(data: Data, row) -> list[str]:
    o = data.table("orders")
    g = (
        pd.DataFrame(
            {
                "t": (o["o_orderdate"] - o["o_orderdate"].min()).dt.days,
                "u": (o["o_orderpriority"] == "1-URGENT").astype(int),
            }
        )
        .groupby("t")
        .agg(m=("u", "size"), a=("u", "sum"))
        .sort_index()
    )
    llr = 0
    decision = None
    dday = None
    dllr = None
    for t_, r in g.iterrows():
        llr += int(r["a"]) * 200_670 + (int(r["m"]) - int(r["a"])) * (
            -50_011
        )
        if decision is None and (llr >= 2_944_438 or llr <= -2_944_438):
            decision = "accept_h1" if llr >= 2_944_438 else "accept_h0"
            dday, dllr = int(t_), llr
    if decision is None:
        decision = "continue"
        dday, dllr = int(g.index[-1]), llr
    return check(
        "sprt",
        row,
        {
            "n_days": (len(g), 0),
            "decision_day": (dday, 0),
            "llr_e6": (dllr, 0),
        },
    ) + (
        [f"decision {row['decision']} vs {decision}"]
        if str(row["decision"]) != decision
        else []
    )


@audit("simpson_paradox_audit")
def a_simpson(data: Data, rows) -> list[str]:
    li = data.table("lineitem")
    o = data.table("orders")
    c = data.table("customer")
    m = li.merge(
        o[["o_orderkey", "o_custkey"]], left_on="l_orderkey",
        right_on="o_orderkey",
    ).merge(
        c[["c_custkey", "c_nationkey"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    x = np.round(m["l_discount"].to_numpy() * 100).astype(object)
    y = np.round(m["l_extendedprice"].to_numpy() * 100).astype(object)
    nk = m["c_nationkey"].to_numpy()

    def sign_cov(xs, ys):
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        v = n * sxy - sx * sy
        return (1 if v > 0 else -1 if v < 0 else 0)

    pooled = sign_cov(list(x), list(y))
    errs = []
    got = {int(r["nationkey"]): r for r in rows}
    for nkv in np.unique(nk):
        mk = nk == nkv
        ssign = sign_cov(list(x[mk]), list(y[mk]))
        r = got.get(int(nkv))
        if r is None:
            errs.append(f"nation {nkv} missing")
        elif (
            int(r["stratum_sign"]) != ssign
            or int(r["pooled_sign"]) != pooled
        ):
            errs.append(f"nation {nkv}: {dict(r)} vs ({ssign},{pooled})")
    return errs


@audit("word_burstiness_audit")
def a_burstiness(data: Data, rows) -> list[str]:
    from collections import Counter

    d = data.table("documents")
    nd = d["doc_id"].nunique()
    per = Counter()
    for doc_id, toks in _space_tokens(data):
        for w, cnt in Counter(toks).items():
            per[(w, doc_id)] = cnt
    stats = {}
    for (w, _), cnt in per.items():
        s0, s1, s2 = stats.get(w, (0, 0, 0))
        stats[w] = (s0 + 1, s1 + cnt, s2 + cnt * cnt)
    top = sorted(stats.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    errs = []
    if [r["word"] for r in rows] != [w for w, _ in top]:
        errs.append(f"top-20 differ")
    got = {r["word"]: r for r in rows}
    for w, (npres, s, q) in top:
        r = got.get(w)
        if r is None:
            continue
        disp = (nd * q - s * s) * 1_000_000 // (s * (nd - 1))
        if (
            int(r["n_docs_present"]) != npres
            or int(r["n_occurrences"]) != s
            or int(r["dispersion_ppm"]) != disp
        ):
            errs.append(f"{w}: {dict(r)} vs ({npres},{s},{disp})")
    return errs


# ===========================================================================
# audits — order-statistic summaries
# ===========================================================================


@audit("exact_quantiles")
def a_exact_quantiles(data: Data, rows) -> list[str]:
    li = data.table("lineitem")
    errs = []
    got = {r["returnflag"]: r for r in rows}
    for rf, g in li.groupby("l_returnflag"):
        q50 = math.floor(
            float(np.quantile(g["l_quantity"].to_numpy(), 0.5,
                              method="linear")) * 100
        )
        p90 = math.floor(
            float(np.quantile(g["l_extendedprice"].to_numpy(), 0.9,
                              method="linear")) * 100
        )
        r = got.get(rf)
        if r is None:
            errs.append(f"{rf} missing")
        elif (
            abs(int(r["median_qty_cents"]) - q50) > 1
            or abs(int(r["p90_price_cents"]) - p90) > 1
        ):
            errs.append(f"{rf}: {dict(r)} vs ({q50},{p90})")
    return errs


@audit("winsorized_mean_revenue")
def a_winsor(data: Data, rows) -> list[str]:
    o = data.table("orders")
    c = data.table("customer")
    m = o.merge(
        c[["c_custkey", "c_mktsegment"]], left_on="o_custkey",
        right_on="c_custkey",
    )
    v = np.round(m["o_totalprice"].to_numpy() * 100).astype(np.int64)
    seg = m["c_mktsegment"].to_numpy()
    errs = []
    got = {r["mktsegment"]: r for r in rows}
    for s in np.unique(seg):
        vals = np.sort(v[seg == s]).astype(object)
        n = len(vals)
        lo = int(vals[(5 * n + 99) // 100 - 1])
        hi = int(vals[(95 * n) // 100])
        wins = sum(min(max(int(x), lo), hi) for x in vals)
        r = got.get(s)
        if r is None:
            errs.append(f"{s} missing")
        elif (
            int(r["n_orders"]) != n
            or int(r["lo_cents"]) != lo
            or int(r["hi_cents"]) != hi
            or int(r["winsorized_mean_microdollars"]) != wins * 10000 // n
            or int(r["raw_mean_microdollars"])
            != int(sum(int(x) for x in vals)) * 10000 // n
        ):
            errs.append(f"{s}: {dict(r)} vs ({n},{lo},{hi})")
    return errs


# ===========================================================================
# audits — seasonality grid / spectral / score calibration
# ===========================================================================


@audit("hourly_seasonality")
def a_hourly(data: Data, rows) -> list[str]:
    ev = data.table("events")
    wd = ev["ts"].dt.dayofweek.to_numpy() + 1  # isodow
    hr = ev["ts"].dt.hour.to_numpy()
    tot = len(ev)
    from collections import Counter

    cnt = Counter(zip(wd.tolist(), hr.tolist()))
    errs = []
    got = {(int(r["weekday"]), int(r["hour_of_day"])): r for r in rows}
    if len(rows) != len(cnt):
        errs.append(f"{len(rows)} rows vs {len(cnt)} cells")
    for (w, h), n in cnt.items():
        r = got.get((w, h))
        if r is None:
            errs.append(f"cell ({w},{h}) missing")
        elif (
            int(r["n_events"]) != n
            or int(r["share_ppm"]) != n * 1_000_000 // tot
        ):
            errs.append(f"({w},{h}): {dict(r)} vs {n}")
    return errs


@audit("seasonal_periodogram_audit")
def a_periodogram(data: Data, rows) -> list[str]:
    day = data.day()
    t = day["t"].to_numpy()
    y = day["y"].to_numpy().astype(np.float64)
    n = len(y)
    d = n * y - y.sum()
    errs = []
    got = {int(r["period"]): r for r in rows}
    powers = {}
    for p in (7, 30, 91, 365):
        # engine folds LITERAL e6 trig values at r = t mod p; replay
        # with real trig (the literals are floor(1e6*cos) — relative
        # drift < 2e-6 per term, washed out by the // 1e6 compression)
        ang = 2 * math.pi * (t % p) / p
        cc = float(np.sum(d * np.cos(ang)))
        ss = float(np.sum(d * np.sin(ang)))
        powers[p] = (cc / 1e0) ** 2 + (ss / 1e0) ** 2
    mp = max(powers.values())
    for p in (7, 30, 91, 365):
        r = got.get(p)
        if r is None:
            errs.append(f"period {p} missing")
            continue
        rel = powers[p] / mp
        if abs(int(r["rel_power_ppm"]) - rel * 1e6) > 2000:
            errs.append(
                f"period {p}: rel {r['rel_power_ppm']} vs {rel*1e6:.0f}"
            )
        if bool(r["dominant"]) != (powers[p] == mp):
            errs.append(f"period {p}: dominant mismatch")
    return errs


@audit("score_calibration")
def a_score_cal(data: Data, rows) -> list[str]:
    d = data.table("documents")
    scores = {}
    for doc_id, text in zip(d["doc_id"], d["text"]):
        s = text.strip()
        if not s:
            continue
        from collections import Counter

        tf = Counter(
            int(_hl.md5(f"0|{w}".encode()).hexdigest()[:15], 16) % 16
            for w in _re.split(r"\s+", s.lower())
        )
        n = sum(tf.values())
        num = sum(
            (int(_hl.md5(f"w|{b}".encode()).hexdigest()[:8], 16) % 2001
             - 1000) * c
            for b, c in tf.items()
        )
        scores[doc_id] = math.floor(num / (1000 * n) * 1e6)
    sdf = pd.DataFrame(
        {"doc_id": list(scores), "sc": list(scores.values())}
    ).sort_values(["sc", "doc_id"]).reset_index(drop=True)
    n = len(sdf)
    base, extra = n // 10, n % 10
    sdf["bin"] = np.concatenate(
        [np.full(base + (1 if i < extra else 0), i + 1, dtype=int)
         for i in range(10)]
    )
    nchars = dict(zip(d["doc_id"], d["n_chars"]))
    errs = []
    got = {int(r["bin"]): r for r in rows}
    for b, g in sdf.groupby("bin"):
        nb = len(g)
        mean = math.floor(int(g["sc"].sum()) / nb)
        lab = sum(1 for k in g["doc_id"] if nchars[k] >= 500)
        r = got.get(int(b))
        if r is None:
            errs.append(f"bin {b} missing")
        elif (
            int(r["n_docs"]) != nb
            or abs(int(r["mean_score_e6"]) - mean) > 1
            or int(r["label_rate_ppm"]) != lab * 1_000_000 // nb
        ):
            errs.append(f"bin {b}: {dict(r)} vs ({nb},{mean},{lab})")
    return errs


if __name__ == "__main__":
    main()
