"""Per-series numpy kernels: theoretical-cadence grid, smoothing, gap filling.

These are the numeric bodies the ``grouped_apply`` operators call (one call
per url/series). Inside a call they work on arrays only: rows are matched
by sort position (one stable ``lexsort`` of observed and grid rows, runs of
equal keys), spans by ``searchsorted``; no per-row Python, no Python set or
dict of row keys. Semantics re-create the reference pipeline:

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


def dop_grid(orbits: np.ndarray, sensors: np.ndarray, day_min: int,
             day_max: int):
    """Theoretical days-of-passage grid of the orbits and sensors seen
    (arrays, repeats allowed).

    Each (sensor, orbit) pair passes on the days of one phase mod 10; one
    mask over the day window finds every pair's days at once. Returns
    (days, sensor, orbit) arrays sorted by (date, sensor, orbit), matching
    s2_dop_simpl's setorder(date, mission, orbit).
    """
    pairs = [(s, o, (_doybase(o) + off) % 10)
             for s, off in (("2A", 0), ("2B", 5)) if s in sensors
             for o in sorted(set(orbits.tolist()))]
    days_all = np.arange(day_min, day_max + 1, dtype=np.int64)
    phase = np.array([p for _, _, p in pairs], dtype=np.int64)
    pair, day = np.nonzero(days_all % 10 == phase[:, None])
    days = days_all[day]
    sens = np.array([s for s, _, _ in pairs], dtype=object)[pair]
    orbs = np.array([o for _, o, _ in pairs], dtype=object)[pair]
    order = np.lexsort((orbs, sens, days))
    return days[order], sens[order], orbs[order]


def rank_average(v: np.ndarray) -> np.ndarray:
    """R rank(ties.method='average') for a vector without NAs."""
    order = np.argsort(v, kind="stable")
    # tie runs [start, end) of the sorted vector; each gets its mean rank
    bounds = np.flatnonzero(np.diff(v[order]) != 0) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(v)]))
    ranks = np.empty(len(v), dtype=np.float64)
    ranks[order] = np.repeat((starts + ends + 1) / 2, ends - starts)
    return ranks


def _average_ties(x: np.ndarray, y: np.ndarray):
    """Average ``y`` over tied ``x`` (R's regularize.values): two orbits or
    sensors can pass on one day, and interpolation needs distinct knots."""
    uq, inv = np.unique(x, return_inverse=True)
    if len(uq) == len(x):
        return x, y
    sums = np.zeros(len(uq)); cnts = np.zeros(len(uq))
    np.add.at(sums, inv, y); np.add.at(cnts, inv, 1)
    return uq, sums / cnts


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
    point was qa-filtered/spike-removed), ``rawval`` (original value). When
    no row survives the qa filter, or the merged series is shorter than the
    SG window, every ``value`` is NaN (the reference errors the run instead).
    """
    order = np.lexsort((orbit, sensor, days))
    days = np.asarray(days)[order]
    value = np.asarray(value, dtype=np.float64)[order]
    sensor = np.asarray(sensor, dtype=object)[order]
    orbit = np.asarray(orbit, dtype=object)[order]
    qa_arr = None if qa is None else np.asarray(qa, dtype=np.float64)[order]
    n_all = len(days)
    out = {"days": days, "sensor": sensor, "orbit": orbit,
           "qa": qa_arr, "rawval": value, "value": np.full(n_all, np.nan)}

    # qa filter (smooth_s2ts.R:102-104); NA values and NA qa cannot survive
    # the qa comparison in R
    keep = ~np.isnan(value)
    if qa_arr is not None:
        keep &= qa_arr > min_qa
    if not keep.any():
        return out

    # relval on the full series (smooth_s2ts.R:98)
    vmin = np.nanmin(value)
    vrange = np.nanmax(value) - vmin
    relval = (value - vmin) / vrange if vrange > 0 else np.zeros_like(value)

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
    n_kept = len(kidx)
    kdays, kvalue = days[kidx], value[kidx]

    # theoretical grid (smooth_s2ts.R:164-180), full outer on (day, sensor,
    # orbit): one stable sort of the kept rows then the grid puts a grid row
    # right behind the kept rows with its key; dropping it leaves the grid
    # days no observation kept. ``pos`` is each merged row's source position.
    g_days, g_sens, g_orbs = dop_grid(orbit[kidx], sensor[kidx],
                                      int(kdays.min()), int(kdays.max()))
    mdays = np.concatenate([kdays, g_days])
    msens = np.concatenate([sensor[kidx], g_sens])
    morbs = np.concatenate([orbit[kidx], g_orbs])
    pos = np.lexsort((morbs, msens, mdays))
    mdays, msens, morbs = mdays[pos], msens[pos], morbs[pos]
    repeat = np.concatenate(([False], (mdays[1:] == mdays[:-1])
                             & (msens[1:] == msens[:-1])
                             & (morbs[1:] == morbs[:-1])))
    merged = ~repeat | (pos < n_kept)
    pos, mdays = pos[merged], mdays[merged]
    msens, morbs = msens[merged], morbs[merged]
    obs = pos < n_kept
    mvalue = np.concatenate([kvalue, np.full(len(g_days), np.nan)])[pos]
    mqa0 = np.concatenate([np.ones(n_kept) if qa_arr is None else qa_arr[kidx],
                           np.full(len(g_days), 1e-2)])[pos]
    nm = len(mdays)

    # SG window from the distinct orbits and sensors; a shorter series is NULL
    n_orbits = len(set(morbs.tolist()))
    n_sensors = len(set(msens.tolist()))
    sg_window = math.ceil(sg_daywindow / 10 * n_orbits * n_sensors) * 2 + 1
    if filter_type != "whittaker" and nm < sg_window:
        return out

    # linear interpolation of value0 at injected dates (smooth_s2ts.R:182-193)
    value0 = mvalue.copy()
    vd, vv = _average_ties(mdays[obs].astype(np.float64), mvalue[obs])
    in_range = (mdays >= vd[0]) & (mdays <= vd[-1])
    value0[in_range] = np.interp(mdays[in_range].astype(np.float64), vd, vv)

    # iterated weighted Savitzky-Golay (smooth_s2ts.R:196-215)
    qa_it = mqa0.copy()
    val_fixed = value0.copy()
    value_sg = value0.copy()
    x_num = mdays.astype(np.float64)
    if filter_type == "whittaker":
        value_sg = whittaker_smooth(value0, mqa0, lam=whittaker_lambda)
    else:
        for _ in range(max(sg_n, 1)):
            qa_it = (rank_average(val_fixed - value_sg) - 1.0) / (nm - 1.0) * qa_it
            value_sg = w_savgol(val_fixed, x_num, qa_it,
                                window=sg_window, polynom=sg_polynom)

    # semi-join back to the kept rows (smooth_s2ts.R:216-219), in kidx order
    # (the stable sort keeps the kept rows' own order)
    smoothed = value_sg[obs]

    # clamp to observed range ± max_extrapolation (smooth_s2ts.R:223-226)
    if max_extrapolation < np.inf:
        omin, omax = np.nanmin(kvalue), np.nanmax(kvalue)
        orng = omax - omin
        smoothed = np.clip(smoothed, omin - orng * max_extrapolation,
                           omax + orng * max_extrapolation)

    # restore dropped rows (full outer with the original table,
    # smooth_s2ts.R:229): every input row takes the value of the last kept
    # row of its (day, sensor, orbit) run, NaN when none was kept
    run = np.cumsum(np.concatenate(([True], (days[1:] != days[:-1])
                                    | (sensor[1:] != sensor[:-1])
                                    | (orbit[1:] != orbit[:-1])))) - 1
    last = np.full(run[-1] + 1, -1)
    np.maximum.at(last, run[kidx], np.arange(n_kept))
    src = last[run]
    out["value"][src >= 0] = smoothed[src[src >= 0]]
    return out


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
    g_days, _, _ = dop_grid(orbit[orbit != None], sensor[sensor != None],  # noqa: E711
                            int(days.min()), int(days.max()))
    dop_days = np.unique(g_days) if len(g_days) else \
        np.unique(days).astype(np.int64)

    if frequency == "dop":
        out_days0 = dop_days
    elif frequency == "daily":
        out_days0 = np.arange(dop_days.min(), dop_days.max() + 1, dtype=np.int64)
    elif frequency == "gcd":
        step = max(int(np.gcd.reduce(np.diff(dop_days))), 1)
        out_days0 = np.arange(dop_days.min(), dop_days.max() + 1, step,
                              dtype=np.int64)
    else:
        raise ValueError(f"unknown frequency {frequency!r}")

    # full outer merge on date (fill_s2ts.R:102-107)
    inject = out_days0[~np.isin(out_days0, days)]
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
    # between consecutive valid dates at most max_na_days apart. span[k]
    # marks the range ending at valid_days[k]; a date lies in the union iff
    # the range ending at the first valid date >= it, or at the first one
    # > it, is marked.
    vmask = ~np.isnan(value)
    valid_days = np.unique(days[vmask])
    span = np.concatenate(([False], np.diff(valid_days) <= max_na_days, [False]))

    def in_span(x):
        return span[np.searchsorted(valid_days, x, "left")] | \
            span[np.searchsorted(valid_days, x, "right")]

    out_value = mvalue.copy()
    if span.any():
        # knots: observed rows in the span (NA pairs dropped by R spline)
        knot_mask = vmask & in_span(days)
        kx, ky = _average_ties(days[knot_mask].astype(np.float64), value[knot_mask])
        eval_mask = in_span(mdays)
        out_value[eval_mask] = fmm_spline_eval(fmm_spline_coef(kx, ky),
                                               mdays[eval_mask].astype(np.float64))

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
