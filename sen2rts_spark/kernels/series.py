"""Per-series numpy kernels: theoretical-cadence grid, smoothing, gap filling.

These are the numeric bodies the ``grouped_apply`` operators call (one call
per url/series, vectorized inside — no per-row Python). Semantics re-create the
reference pipeline:

- ``dop_grid``      ~ s2_dop_simpl()        (/root/reference/R/s2_dop_simpl.R:21-70)
- ``smooth_series`` ~ smooth_s2ts() body    (/root/reference/R/smooth_s2ts.R:60-239)
- ``fill_series``   ~ fill_s2ts() body      (/root/reference/R/fill_s2ts.R:40-144)

Series are represented as parallel numpy arrays; dates as int epoch-days.
NaN marks missing values (R NA).
"""

from __future__ import annotations

import math

import numpy as np

from .savgol import w_savgol
from .spline_fmm import fmm_spline_coef, fmm_spline_eval
from .whittaker import whittaker_smooth

__all__ = ["dop_grid", "smooth_series", "fill_series", "rank_average", "ORBIT_DOYBASE"]

# Expected-cadence calendar: sensor "2A" passes when epoch_day % 10 == doybase(orbit),
# "2B" at (doybase + 5) % 10 (s2_dop_simpl.R:34-45). Orbit "022" has doybase 0
# (derived from the reference fixtures, FIXTURES.md §4). For graft crawl-source
# ids we define doybase = int(orbit) % 10 when numeric, else hash-based.
ORBIT_DOYBASE = {"022": 0}


def _doybase(orbit: str) -> int:
    if orbit in ORBIT_DOYBASE:
        return ORBIT_DOYBASE[orbit]
    try:
        return int(orbit) % 10
    except (TypeError, ValueError):
        return sum(ord(ch) for ch in str(orbit)) % 10


def dop_grid(orbits, sensors, day_min: int, day_max: int):
    """Theoretical days-of-passage grid.

    Returns (days, sensor, orbit) arrays sorted by (date, sensor, orbit),
    matching s2_dop_simpl's setorder(date, mission, orbit).
    """
    days_all = np.arange(day_min, day_max + 1, dtype=np.int64)
    rows = []
    bases = sorted({_doybase(o) for o in orbits})
    orb_by_base = {}
    for o in sorted(set(orbits)):
        orb_by_base.setdefault(_doybase(o), []).append(o)
    sensors = set(sensors)
    for base in bases:
        if "2A" in sensors:
            for d in days_all[(days_all % 10) == base]:
                for o in orb_by_base[base]:
                    rows.append((int(d), "2A", o))
        if "2B" in sensors:
            for d in days_all[(days_all % 10) == (base + 5) % 10]:
                for o in orb_by_base[base]:
                    rows.append((int(d), "2B", o))
    rows.sort()
    if not rows:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=object),
                np.empty(0, dtype=object))
    days = np.array([r[0] for r in rows], dtype=np.int64)
    sens = np.array([r[1] for r in rows], dtype=object)
    orbs = np.array([r[2] for r in rows], dtype=object)
    return days, sens, orbs


def rank_average(v: np.ndarray) -> np.ndarray:
    """R rank(ties.method='average') for a vector without NAs."""
    order = np.argsort(v, kind="stable")
    ranks = np.empty(len(v), dtype=np.float64)
    sv = v[order]
    i = 0
    n = len(v)
    # average rank per tie-run
    boundaries = np.flatnonzero(np.diff(sv) != 0) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    for s, e in zip(starts, ends):
        ranks[order[s:e]] = (s + e + 1) / 2.0  # mean of ranks s+1..e
    return ranks


def smooth_series(
    days: np.ndarray,
    value: np.ndarray,
    qa: np.ndarray | None,
    sensor: np.ndarray,
    orbit: np.ndarray,
    min_qa: float = 0.2,
    noise_dir: str = "low",
    spike: float = 0.25,
    spike_window: int = 5,
    sg_daywindow: int = 15,
    sg_polynom: int = 2,
    sg_n: int = 3,
    max_extrapolation: float = 0.1,
    filter_type: str = "savgol",
    whittaker_lambda: float = 100.0,
):
    """Smooth one series. Inputs are the raw observations (any order).

    ``filter_type='whittaker'`` swaps the iterated SG for a weighted
    Whittaker-Eilers smoother (north-rule addition, SURVEY §2.10) — same
    grid/interp/clamp/restore pipeline around it.

    Returns dict of output arrays aligned with the input rows (same length,
    original sort by (day, sensor, orbit)): ``value`` (smoothed, NaN where the
    point was qa-filtered/spike-removed), ``rawval`` (original value).
    """
    order = np.lexsort((orbit, sensor, days))
    days = np.asarray(days)[order]
    value = np.asarray(value, dtype=np.float64)[order]
    sensor = np.asarray(sensor, dtype=object)[order]
    orbit = np.asarray(orbit, dtype=object)[order]
    qa_arr = None if qa is None else np.asarray(qa, dtype=np.float64)[order]
    n_all = len(days)

    if sg_n < 1:
        sg_n = 1

    # relval on the full series (smooth_s2ts.R:98)
    vmin = np.nanmin(value)
    vrange = np.nanmax(value) - vmin
    relval = (value - vmin) / vrange if vrange > 0 else np.zeros_like(value)

    # qa filter (smooth_s2ts.R:102-104)
    keep = np.ones(n_all, dtype=bool) if qa_arr is None else qa_arr > min_qa
    keep &= ~np.isnan(value)  # NA values cannot survive the qa comparison in R
    if qa_arr is not None:
        keep = np.where(np.isnan(qa_arr), False, keep)

    kidx = np.flatnonzero(keep)

    # spike removal on the filtered subseries (smooth_s2ts.R:128-154)
    if spike is not None and not (isinstance(spike, float) and math.isnan(spike)):
        rv = relval[kidx]
        m = len(rv)
        shw = spike_window // 2
        is_spike = np.zeros(m, dtype=bool)
        if m >= spike_window:
            win = np.lib.stride_tricks.sliding_window_view(rv, spike_window)  # (m-2shw, w)
            center = win[:, shw]
            left = win[:, :shw]
            right = win[:, shw + 1 :]
            if noise_dir in ("undefined", "high"):
                flag = ((center[:, None] - left) > spike).any(axis=1) & \
                       ((center[:, None] - right) > spike).any(axis=1)
                is_spike[shw : m - shw] |= flag
            if noise_dir in ("undefined", "low"):
                flag = ((left - center[:, None]) > spike).any(axis=1) & \
                       ((right - center[:, None]) > spike).any(axis=1)
                is_spike[shw : m - shw] |= flag
        kidx = kidx[~is_spike]

    kdays = days[kidx]
    kvalue = value[kidx]
    kqa = None if qa_arr is None else qa_arr[kidx]
    ksensor = sensor[kidx]
    korbit = orbit[kidx]

    if len(kidx) == 0:
        return {
            "days": days, "sensor": sensor, "orbit": orbit,
            "qa": qa_arr, "rawval": value,
            "value": np.full(n_all, np.nan),
        }

    # theoretical grid (smooth_s2ts.R:164-180), full outer on (day, sensor, orbit)
    g_days, g_sens, g_orbs = dop_grid(set(korbit), set(ksensor),
                                      int(kdays.min()), int(kdays.max()))
    obs_keys = {(int(d), s, o) for d, s, o in zip(kdays, ksensor, korbit)}
    grid_keys = list(zip(g_days.tolist(), g_sens.tolist(), g_orbs.tolist()))
    inject = [k for k in grid_keys if (k[0], k[1], k[2]) not in obs_keys]

    mdays = np.concatenate([kdays, np.array([k[0] for k in inject], dtype=np.int64)])
    msens = np.concatenate([ksensor, np.array([k[1] for k in inject], dtype=object)])
    morbs = np.concatenate([korbit, np.array([k[2] for k in inject], dtype=object)])
    mvalue = np.concatenate([kvalue, np.full(len(inject), np.nan)])
    mqa0 = np.concatenate([
        kqa if kqa is not None else np.ones(len(kidx)),
        np.full(len(inject), 1e-2),
    ])
    morder = np.lexsort((morbs, msens, mdays))
    mdays, msens, morbs = mdays[morder], msens[morder], morbs[morder]
    mvalue, mqa0 = mvalue[morder], mqa0[morder]
    nm = len(mdays)

    # linear interpolation of value0 at injected dates (smooth_s2ts.R:182-193)
    valid = ~np.isnan(mvalue)
    value0 = mvalue.copy()
    vd = mdays[valid].astype(np.float64)
    vv = mvalue[valid]
    # np.interp needs strictly usable x; duplicate days (two sensors same day)
    # cannot occur on observed rows of one series, but guard by averaging
    if len(np.unique(vd)) != len(vd):
        uq, inv = np.unique(vd, return_inverse=True)
        sums = np.zeros(len(uq)); cnts = np.zeros(len(uq))
        np.add.at(sums, inv, vv); np.add.at(cnts, inv, 1)
        vd, vv = uq, sums / cnts
    in_range = (mdays >= vd[0]) & (mdays <= vd[-1])
    value0[in_range] = np.interp(mdays[in_range].astype(np.float64), vd, vv)

    # iterated weighted Savitzky-Golay (smooth_s2ts.R:196-215)
    n_orbits = len(set(morbs.tolist()))
    n_sensors = len(set(msens.tolist()))
    sg_window = math.ceil(sg_daywindow / 10 * n_orbits * n_sensors) * 2 + 1
    qa_it = mqa0.copy()
    val_fixed = value0.copy()
    value_sg = value0.copy()
    x_num = mdays.astype(np.float64)
    if filter_type == "whittaker":
        value_sg = whittaker_smooth(value0, mqa0, lam=whittaker_lambda)
    else:
        for _ in range(sg_n):
            qa_it = (rank_average(val_fixed - value_sg) - 1.0) / (nm - 1.0) * qa_it
            value_sg = w_savgol(val_fixed, x_num, qa_it,
                                window=sg_window, polynom=sg_polynom)

    # semi-join back to the filtered observed rows (smooth_s2ts.R:216-219)
    mkeys = list(zip(mdays.tolist(), msens.tolist(), morbs.tolist()))
    sel = np.array([k in obs_keys for k in mkeys], dtype=bool)

    # clamp to observed range ± max_extrapolation (smooth_s2ts.R:223-226)
    smoothed = value_sg[sel]
    if max_extrapolation < np.inf:
        omin, omax = np.nanmin(kvalue), np.nanmax(kvalue)
        orng = omax - omin
        smoothed = np.clip(smoothed, omin - orng * max_extrapolation,
                           omax + orng * max_extrapolation)

    # restore dropped rows (full outer with the original table, smooth_s2ts.R:229)
    out_value = np.full(n_all, np.nan)
    kept_keys = {k: v for k, v in zip(
        zip(mdays[sel].tolist(), msens[sel].tolist(), morbs[sel].tolist()), smoothed)}
    for i in range(n_all):
        k = (int(days[i]), sensor[i], orbit[i])
        if k in kept_keys:
            out_value[i] = kept_keys[k]

    return {
        "days": days, "sensor": sensor, "orbit": orbit,
        "qa": qa_arr, "rawval": value, "value": out_value,
    }


def fill_series(
    days: np.ndarray,
    value: np.ndarray,
    sensor: np.ndarray,
    orbit: np.ndarray,
    passthrough: dict | None = None,
    frequency: str = "daily",
    max_na_days: float = np.inf,
    max_extrapolation: float = 0.1,
):
    """Gap-fill one smoothed series to a regular grid (fill_s2ts.R:40-144).

    Returns dict of output arrays over the OUTPUT grid (merged observed +
    scaffold dates): days, value, interpolated, plus NaN/None-padded
    passthrough columns (sensor, orbit, qa, rawval...).
    """
    order = np.lexsort((orbit, sensor, days))
    days = np.asarray(days)[order]
    value = np.asarray(value, dtype=np.float64)[order]
    sensor = np.asarray(sensor, dtype=object)[order]
    orbit = np.asarray(orbit, dtype=object)[order]
    passthrough = {
        k: np.asarray(v, dtype=object)[order] for k, v in (passthrough or {}).items()
    }

    # theoretical passage dates over the full observed window (fill_s2ts.R:78-83)
    g_days, _, _ = dop_grid(
        set(orbit[orbit != None].tolist()),  # noqa: E711
        set(sensor[sensor != None].tolist()),  # noqa: E711
        int(days.min()), int(days.max()),
    )
    dop_days = np.unique(g_days)
    if len(dop_days) == 0:
        dop_days = np.unique(days)

    if frequency == "dop":
        out_days0 = dop_days
    elif frequency == "daily":
        out_days0 = np.arange(dop_days.min(), dop_days.max() + 1, dtype=np.int64)
    elif frequency == "gcd":
        diffs = np.diff(dop_days)
        g = 0
        for dd in diffs:
            g = math.gcd(g, int(dd))
        out_days0 = np.arange(dop_days.min(), dop_days.max() + 1, max(g, 1),
                              dtype=np.int64)
    else:
        raise ValueError(f"unknown frequency {frequency!r}")

    # full outer merge on date (fill_s2ts.R:102-107)
    obs_days = set(days.tolist())
    inject = np.array([d for d in out_days0 if int(d) not in obs_days], dtype=np.int64)
    mdays = np.concatenate([days, inject])
    mvalue = np.concatenate([value, np.full(len(inject), np.nan)])
    msens = np.concatenate([sensor, np.full(len(inject), None, dtype=object)])
    morbs = np.concatenate([orbit, np.full(len(inject), None, dtype=object)])
    mpass = {
        k: np.concatenate([v, np.full(len(inject), None, dtype=object)])
        for k, v in passthrough.items()
    }
    # stable sort by date only (injected dates are disjoint from observed ones;
    # observed rows keep their (sensor, orbit) order from the input sort)
    morder = np.argsort(mdays, kind="stable")
    mdays, mvalue = mdays[morder], mvalue[morder]
    msens, morbs = msens[morder], morbs[morder]
    mpass = {k: v[morder] for k, v in mpass.items()}

    interpolated = np.isnan(mvalue)

    # valid interpolation span (fill_s2ts.R:111-119): union of daily ranges
    # between consecutive valid dates closer than max_na_days
    vmask = ~np.isnan(value)
    valid_days = np.unique(days[vmask])
    valid_x = set()
    for i in range(len(valid_days) - 1):
        if valid_days[i + 1] - valid_days[i] <= max_na_days:
            valid_x.update(range(int(valid_days[i]), int(valid_days[i + 1]) + 1))

    out_value = mvalue.copy()
    if valid_x:
        # knots: observed rows with date in valid_x (NA pairs dropped by R spline)
        knot_mask = vmask & np.isin(days, np.fromiter(valid_x, dtype=np.int64))
        kx = days[knot_mask].astype(np.float64)
        ky = value[knot_mask]
        # R spline() regularize.values: average tied x (two orbits/sensors can
        # share a passage date); dx=0 knots would NaN the tridiagonal solve.
        if len(kx) and len(np.unique(kx)) != len(kx):
            uq, inv = np.unique(kx, return_inverse=True)
            sums = np.zeros(len(uq)); cnts = np.zeros(len(uq))
            np.add.at(sums, inv, ky); np.add.at(cnts, inv, 1)
            kx, ky = uq, sums / cnts
        if len(kx) >= 1:
            coefs = fmm_spline_coef(kx, ky)
            eval_mask = np.isin(mdays, np.fromiter(valid_x, dtype=np.int64))
            out_value[eval_mask] = fmm_spline_eval(coefs, mdays[eval_mask].astype(np.float64))

    # clamp (fill_s2ts.R:130-133)
    if max_extrapolation < np.inf and vmask.any():
        ymin, ymax = np.nanmin(value), np.nanmax(value)
        yrng = ymax - ymin
        lo, hi = ymin - yrng * max_extrapolation, ymax + yrng * max_extrapolation
        nn = ~np.isnan(out_value)
        out_value[nn] = np.clip(out_value[nn], lo, hi)

    return {
        "days": mdays, "value": out_value, "interpolated": interpolated,
        "sensor": msens, "orbit": morbs, **mpass,
    }
