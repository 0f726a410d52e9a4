"""The series kernels' outputs are pinned: smooth_series, fill_series and
cut_cycles_series on a fixed seeded corpus hash to literals.

The corpus holds a multi-orbit, two-sensor series with same-day passages,
a duplicated (date, sensor, orbit) row (one copy kept, one qa-filtered),
a NaN value and a NaN qa; a one-orbit series; and a series shorter than
its SG window. Each is smoothed with Savitzky-Golay and with Whittaker,
filled at daily, dop and gcd frequency and with a finite ``max_na_days``,
and cut into cycles. Dates, sensor/orbit keys, NULL placement and the
bits of every finite value go into the hash; every NaN hashes as one
token. A change that moves any of them fails here and must say why.
"""

import hashlib
import math

import numpy as np

from sen2rts_spark.kernels.cycles import cut_cycles_series
from sen2rts_spark.kernels.series import fill_series, smooth_series


def _corpus():
    rng = np.random.default_rng(22)
    d0 = 17897  # 2019-01-01
    rows = {"multi": [], "single": [], "short": []}
    for day in range(d0, d0 + 730):
        # 2A/022 and 2B/065 pass on the same days, as do 2B/022 and 2A/065
        for orbit, base in (("022", 0), ("065", 5)):
            for sensor, off in (("2A", 0), ("2B", 5)):
                if day % 10 == (base + off) % 10 and rng.random() < 0.8:
                    rows["multi"].append((day, sensor, orbit))
        if day % 10 == 0:
            rows["single"].append((day, "2A", "022"))
    rows["short"] = [(d0 + 3 + 10 * k, "2A", "022") for k in range(3)]
    out = {}
    for id_, r in rows.items():
        days = np.array([x[0] for x in r], dtype=np.int64)
        doy = (days - d0) % 365
        value = np.round(0.1 + 0.6 / (1 + np.exp(-(doy - 120) / 10))
                         - 0.6 / (1 + np.exp(-(doy - 260) / 15))
                         + rng.normal(0, 0.01, len(r)), 6)
        qa = np.where(rng.random(len(r)) < 0.12, 0.1, 1.0)
        value = np.where(qa < 0.2, value * 0.3, value)
        sensor = np.array([x[1] for x in r], dtype=object)
        orbit = np.array([x[2] for x in r], dtype=object)
        if id_ == "multi":
            value[7], qa[11] = math.nan, math.nan
            dup = [40, 40, 90]  # row 40 twice more, row 90 once
            days, sensor, orbit = (np.append(a, a[dup]) for a in
                                   (days, sensor, orbit))
            value = np.append(value, [value[40] + 0.01, value[40] - 0.02,
                                      value[90]])
            qa = np.append(qa, [1.0, 0.1, 1.0])
        perm = rng.permutation(len(days))
        out[id_] = (days[perm], value[perm], qa[perm], sensor[perm],
                    orbit[perm])
    return out


def _tok(x):
    if x is None:
        return "None"
    if isinstance(x, (bool, np.bool_)):
        return str(bool(x))
    if isinstance(x, (int, np.integer)):
        return str(int(x))
    if isinstance(x, (float, np.floating)):
        return "NaN" if math.isnan(x) else float(x).hex()
    return repr(x)


def _update(h, obj):
    if isinstance(obj, dict):
        for k in sorted(obj):
            h.update(f"|{k}:".encode())
            _update(h, obj[k])
    elif isinstance(obj, (list, np.ndarray)):
        for x in obj:
            _update(h, x)
            h.update(b",")
    else:
        h.update(_tok(obj).encode())


def _outputs():
    smoothed, filled, cycles = {}, {}, {}
    for id_, (days, value, qa, sensor, orbit) in _corpus().items():
        for ft in ("savgol", "whittaker"):
            s = smooth_series(days, value, qa, sensor, orbit, filter_type=ft)
            smoothed[id_, ft] = s
            for freq, max_na in (("daily", np.inf), ("dop", np.inf),
                                 ("gcd", np.inf), ("daily", 15.0)):
                f = fill_series(s["days"], s["value"], s["sensor"],
                                s["orbit"],
                                passthrough={"qa": s["qa"],
                                             "rawval": s["rawval"]},
                                frequency=freq, max_na_days=max_na)
                filled[id_, ft, freq, max_na] = f
                if freq == "daily":
                    cycles[id_, ft, max_na] = cut_cycles_series(f["days"],
                                                                f["value"])
    return smoothed, filled, cycles


def _digest(outs):
    h = hashlib.sha256()
    for key in sorted(outs, key=repr):
        h.update(repr(key).encode())
        _update(h, outs[key])
    return h.hexdigest()


def test_series_kernels_pinned():
    smoothed, filled, cycles = _outputs()
    assert all(np.isnan(s["value"]).all() == (k == ("short", "savgol"))
               for k, s in smoothed.items())
    assert all(cycles[k] for k in cycles if k[0] != "short")
    assert _digest(smoothed) == \
        "508a8bdcc4ec14e431ec56e09fd191190f2f6d795e90131551053c5aece9df0a"
    assert _digest(filled) == \
        "e8a3edabd9bf5bc3ba95f636ace69eddaac938a077d9e168aeba7c4ee086c199"
    assert _digest(cycles) == \
        "d81222e7cda25c4fcf5e6e9f73b11182962ed9ab6d6af8fa8cddf3b14716ea36"
