"""Cycle segmentation for one daily-filled series.

Re-creates ``cut_cycles()`` (/root/reference/R/cut_cycles.R:81-361) and its
internal ``clean_maxmin_ts()`` (:365-413) as a per-series numpy scan. The
detection is inherently sequential (alternation cleaning, prominence checks),
so it runs as a ``grouped_apply`` kernel per url; the surrounding relval
normalisation / year ranking are also computed here since they are
per-id / per-(id, year) — one shuffle on url covers the whole operator.

Semantics notes (replicated exactly — see SURVEY.md §7 risk register):
- peak candidates use NA-propagating lag/lead diffs (series endpoints can
  never be peaks, cut_cycles.R:141-143); cut candidates use ±Inf sentinels
  (endpoints CAN be cuts, :155-157).
- plateau runs resolve to the type-1 quantile midpoint of the run (:149,163).
- clean_maxmin keeps the highest peak between two cuts; in unbounded regions
  (before first / after last cut) peaks are removed entirely — EXCEPT regions
  never flagged for checking (fewer than 2 candidates since the previous
  delimiter, :385,400). Cuts keep the lowest including in boundary regions
  (:406-407 removes all but the first even when unbounded).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["cut_cycles_series", "rank_average", "ground_mask"]

from .series import rank_average


def _quantile_type1_mid(lo: int, hi: int) -> int:
    """R quantile(seq(lo, hi), 0.5, type=1) for integer sequences (0-based ok)."""
    n = hi - lo + 1
    # type 1: inverse CDF; ceil(p*n) with p=0.5 -> element ceil(n/2)
    k = max(int(math.ceil(0.5 * n)), 1)
    return lo + k - 1


def _detect_candidates(relval: np.ndarray, kind: str) -> np.ndarray:
    """Local max ('peak') or min ('cut') candidate flags with plateau handling."""
    n = len(relval)
    d = np.diff(relval)  # d[i] = v[i+1]-v[i]
    nan = np.nan
    lag = np.concatenate(([(-np.inf if kind == "cut" else nan)], d))
    lead = np.concatenate((d, [(np.inf if kind == "cut" else nan)]))

    with np.errstate(invalid="ignore"):
        if kind == "peak":
            f_l = (lag > 0) & (lead <= 0)
            f_r = (lag >= 0) & (lead < 0)
            f_p = (lag >= 0) & (lead <= 0)
        else:
            f_l = (lag < 0) & (lead >= 0)
            f_r = (lag <= 0) & (lead > 0)
            f_p = (lag <= 0) & (lead >= 0)
    # NaN comparisons are already False in numpy (R: NA rows never selected)
    flag = f_l & f_r
    # plateau: for each l-candidate that is not r, find first r-candidate at or
    # after it; if the whole run is p-flagged, mark the midpoint
    nan_mask = np.isnan(relval)
    l_only = np.flatnonzero(f_l & ~f_r)
    r_idx = np.flatnonzero(f_r)
    for li in l_only:
        rs = r_idx[r_idx >= li]
        if len(rs) == 0:
            continue
        ri = rs[0]
        seg = slice(li, ri + 1)
        if nan_mask[seg].any():
            continue  # R would error on NA here; treat as not-a-plateau
        if f_p[seg].all():
            flag[_quantile_type1_mid(li, ri)] = True
    return flag


def _clean_maxmin(relval: np.ndarray, peak: np.ndarray, cut: np.ndarray,
                  check_peaks: bool = True, check_cuts: bool = True) -> None:
    """In-place alternation cleaning (cut_cycles.R:365-413)."""
    if check_peaks:
        cand = np.flatnonzero(peak | cut)
        is_cut = cut[cand]
        cut_pos = np.flatnonzero(is_cut)  # positions within cand
        # flag cuts with >2 spacing from previous cut (>=2 peaks in between)
        prev = np.concatenate(([-1], cut_pos[:-1]))  # R: diff(c(0, pos)) with 1-based
        flagged = cut_pos[(cut_pos - prev) > 2]
        cuts_uid = cand[cut_pos]
        tocheck = list(cand[flagged]) + [None]  # None = +Inf region
        all_cuts = list(cuts_uid)
        for cut_r in tocheck:
            if cut_r is None:
                cut_l = all_cuts[-1] if all_cuts else None
                lo = cut_l if cut_l is not None else -1
                hi = len(relval) - 1
                bounded = False
            else:
                j = all_cuts.index(cut_r)
                cut_l = all_cuts[j - 1] if j >= 1 else None
                lo = cut_l if cut_l is not None else -1
                hi = cut_r
                bounded = cut_l is not None
            region = np.arange(max(lo, 0), hi + 1)
            # R: uid >= cut_l & uid <= cut_r; with cut_l=-Inf all up to cut_r
            if cut_r is None and cut_l is None:
                region = np.arange(0, len(relval))
            peaks_in = region[peak[region]]
            if len(peaks_in) == 0:
                continue
            order = peaks_in[np.argsort(-relval[peaks_in], kind="stable")]
            torm = order[1:] if bounded else order  # unbounded: remove all
            peak[torm] = False
    if check_cuts:
        cand = np.flatnonzero(peak | cut)
        is_peak = peak[cand]
        peak_pos = np.flatnonzero(is_peak)
        prev = np.concatenate(([-1], peak_pos[:-1]))
        flagged = peak_pos[(peak_pos - prev) > 2]
        peaks_uid = cand[peak_pos]
        tocheck = list(cand[flagged]) + [None]
        all_peaks = list(peaks_uid)
        for peak_r in tocheck:
            if peak_r is None:
                peak_l = all_peaks[-1] if all_peaks else None
                lo = peak_l if peak_l is not None else -1
                hi = len(relval) - 1
            else:
                j = all_peaks.index(peak_r)
                peak_l = all_peaks[j - 1] if j >= 1 else None
                lo = peak_l if peak_l is not None else -1
                hi = peak_r
            if peak_r is None and peak_l is None:
                region = np.arange(0, len(relval))
            else:
                region = np.arange(max(lo, 0), hi + 1)
            cuts_in = region[cut[region]]
            if len(cuts_in) == 0:
                continue
            order = cuts_in[np.argsort(relval[cuts_in], kind="stable")]
            cut[order[1:]] = False  # keep lowest even in boundary regions


def cut_cycles_series(
    days: np.ndarray,
    value: np.ndarray,
    n_cycles: float = np.inf,
    min_win: int = 60,
    min_peakvalue: float = 0.1,
    max_dropvalue: float = 0.6,
    max_groundvalue: float = 0.2,
    ground_buffer: int = 10,
    value_type: str = "relative",
    min_relh: float = 0.15,
    relevance: float = 0.0,
    newyearday: str = "01-01",
    weight_metric: str = "integral",
):
    """Detect cycles in one sorted daily series.

    Returns list of dicts: {year, cycle, begin, end, maxval, weight} with
    begin/end/maxval as epoch-days.
    """
    order = np.argsort(days, kind="stable")
    days = np.asarray(days, dtype=np.int64)[order]
    value = np.asarray(value, dtype=np.float64)[order]
    n = len(days)
    if n == 0:
        return []

    if value_type == "relative":
        if not np.isfinite(value).any():
            # nothing to rescale: fill's all-NaN output for a series
            # shorter than its SG window, and nanmin would warn
            return []
        vmin = np.nanmin(value)
        vrng = np.nanmax(value) - vmin
        relval = (value - vmin) / vrng if vrng > 0 else np.zeros_like(value)
    else:
        relval = value.copy()

    peak = _detect_candidates(relval, "peak")
    cut = _detect_candidates(relval, "cut")

    # NOTE: the reference computes a 'ground'/'cutground' mask with buffer
    # erosion (cut_cycles.R:170-188) but never uses it downstream; see
    # ground_mask() below for the parity implementation.

    # peak1/cut1: clean peaks among cuts only (cut_cycles.R:191)
    _clean_maxmin(relval, peak, cut, check_peaks=True, check_cuts=False)

    # peak2/cut2: threshold filters then full clean (cut_cycles.R:195-199)
    with np.errstate(invalid="ignore"):
        peak[peak & (relval < min_peakvalue)] = False
        cut[cut & (relval > max_dropvalue)] = False
    _clean_maxmin(relval, peak, cut, check_peaks=True, check_cuts=True)

    # relevance criterion (cut_cycles.R:202-239), default 0 = off
    if relevance > 0:
        for i in np.flatnonzero(cut):
            pk = np.flatnonzero(peak)
            left = pk[pk < i]
            right = pk[pk > i]
            if len(left) == 0 or len(right) == 0:
                continue
            u1, u2 = left.max(), right.min()
            dmask = (days >= days[u1]) & (days <= days[u2])
            area_den = relval[dmask].sum()
            d1, d2, di = days[u1], days[u2], days[i]
            r1, r2, ri = relval[u1], relval[u2], relval[i]
            area_num = (
                (r1 + r2) / 2 * (d2 - d1)
                - (r1 + ri) / 2 * (di - d1)
                - (r2 + ri) / 2 * (d2 - di)
            )
            if area_num / area_den < relevance:
                cut[i] = False
                lowest = u1 if relval[u1] <= relval[u2] else u2
                peak[np.array([u for u in (u1, u2)
                               if relval[u] == min(relval[u1], relval[u2])])] = False
        _clean_maxmin(relval, peak, cut, check_peaks=True, check_cuts=False)

    # min_relh prominence (cut_cycles.R:242-272)
    if min_relh > 0:
        peak3 = np.zeros(n, dtype=bool)
        cut3 = np.zeros(n, dtype=bool)
        cand_peaks = np.flatnonzero(peak)
        # descending relval order
        cand_peaks = cand_peaks[np.argsort(-relval[cand_peaks], kind="stable")]
        for i in cand_peaks:
            conf = np.flatnonzero(peak3)
            left_conf = conf[conf < i]
            right_conf = conf[conf > i]
            lo = left_conf.max() if len(left_conf) else None
            hi = right_conf.min() if len(right_conf) else None
            # minima within (lo, i) and (i, hi) — over ALL rows
            lrange = np.arange((lo + 1) if lo is not None else 0, i)
            rrange = np.arange(i + 1, hi if hi is not None else n)
            if len(lrange) == 0 or len(rrange) == 0:
                continue
            lvals = relval[lrange]
            rvals = relval[rrange]
            if np.all(np.isnan(lvals)) or np.all(np.isnan(rvals)):
                continue
            lmin = np.nanmin(lvals)
            rmin = np.nanmin(rvals)
            lmin_uid = lrange[np.flatnonzero(lvals == lmin).max()]
            rmin_uid = rrange[np.flatnonzero(rvals == rmin).min()]
            if (relval[i] - lmin >= min_relh and relval[i] - rmin >= min_relh
                    and lmin <= max_dropvalue and rmin <= max_dropvalue):
                peak3[i] = True
                cut3[lmin_uid] = True
                cut3[rmin_uid] = True
        _clean_maxmin(relval, peak3, cut3, check_peaks=True, check_cuts=True)
        peak, cut = peak3, cut3

    # assemble cycles: k-th cut = begin, (k+1)-th cut = end, k-th peak = max
    cut_idx = np.flatnonzero(cut)
    peak_idx = np.flatnonzero(peak)
    m = min(len(cut_idx) - 1, len(peak_idx))
    if m <= 0:
        return []
    rows = []
    for k in range(m):
        begin_d = int(days[cut_idx[k]])
        end_d = int(days[cut_idx[k + 1]])
        max_d = int(days[peak_idx[k]])
        rows.append({"begin": begin_d, "end": end_d, "maxval": max_d})

    # year assignment (cut_cycles.R:306-313)
    import datetime as dt
    ny_m, ny_d = (int(x) for x in newyearday.split("-"))
    for r in rows:
        maxval_date = dt.date(1970, 1, 1) + dt.timedelta(days=r["maxval"])
        y1 = maxval_date.year
        newyear = dt.date(y1, ny_m, ny_d)
        if ny_m >= 7:
            r["year"] = y1 + 1 if maxval_date > newyear else y1
        else:
            r["year"] = y1 if maxval_date > newyear else y1 - 1

    # weight metric (cut_cycles.R:318-342)
    for r in rows:
        sel = (days >= r["begin"]) & (days < r["end"])
        if weight_metric == "integral":
            r["weight"] = float(relval[sel].sum())
        elif weight_metric == "length":
            r["weight"] = float(r["end"] - r["begin"])
        elif weight_metric == "maxval":
            r["weight"] = float(relval[sel].max()) if sel.any() else float("nan")
        else:
            r["weight"] = float("nan")

    # top-k per year by weight rank (cut_cycles.R:345-347); rows stay in
    # s1 (begin) order like the reference, cycle numbers per year in that order
    kept_ids = set()
    for y in {r["year"] for r in rows}:
        group = [k for k, r in enumerate(rows) if r["year"] == y]
        w = np.array([rows[k]["weight"] for k in group])
        rk = 1 + len(group) - rank_average(w)
        kept_ids.update(k for k, rr in zip(group, rk) if rr <= n_cycles)
    out = []
    counters: dict = {}
    for k, r in enumerate(rows):
        if k not in kept_ids:
            continue
        counters[r["year"]] = counters.get(r["year"], 0) + 1
        r["cycle"] = counters[r["year"]]
        out.append(r)
    return out


def ground_mask(days: np.ndarray, relval: np.ndarray,
                max_groundvalue: float = 0.2,
                ground_buffer: int = 10):
    """Ground ("bare baseline") mask with buffer erosion — W8.

    Replicates cut_cycles.R:170-188: rows with relval <= max_groundvalue form
    ground runs; each run is eroded by ``ground_buffer`` days at both ends
    (the eroded days belong to the previous/next season). Returns
    (ground bool array, cutground int array with -1/+1 at eroded run edges).

    NOTE: the reference computes this mask but never consumes it downstream
    (verified — no later reference to `ground`/`cutground` in cut_cycles.R),
    so cut_cycles_series() does not apply it; it is provided for parity and
    for callers that want the baseline segmentation.
    """
    days = np.asarray(days, dtype=np.int64)
    n = len(days)
    with np.errstate(invalid="ignore"):
        ground = relval <= max_groundvalue
    ground = np.where(np.isnan(relval), False, ground)
    cutground = np.zeros(n, dtype=np.int64)
    g = ground.astype(np.int64)
    cutground[1:] = np.diff(g)
    # falling edges: erode ground_buffer days BEFORE the edge
    for u in np.flatnonzero(cutground < 0):
        date_r = days[u]
        left = np.flatnonzero(days <= date_r - ground_buffer)
        if len(left) == 0:
            # R max(empty) = -Inf (cut_cycles.R:176-177): erode the whole
            # leading ground run; no row carries the -1 marker.
            ground[days < date_r] = False
            cutground[u] = 0
            continue
        date_l = days[left].max()
        sel = (days >= date_l) & (days < date_r)
        ground[sel] = False
        cutground[days == date_l] = -1
        cutground[u] = 0
    # rising edges: erode ground_buffer days AFTER the edge
    for u in np.flatnonzero(cutground > 0):
        date_l = days[u]
        right = np.flatnonzero(days >= date_l + ground_buffer - 1)
        if len(right) == 0:
            # R min(empty) = +Inf: erode through the series end, no marker.
            ground[days >= date_l] = False
            cutground[u] = 0
            continue
        date_r = days[right].min()
        sel = (days >= date_l) & (days <= date_r)
        ground[sel] = False
        cutground[u] = 0
        cutground[days == date_r] = 1
    return ground, cutground
