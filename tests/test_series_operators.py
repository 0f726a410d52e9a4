"""The Spark series operators equal their kernels.

smooth → fill → cut_cycles → extract_pheno (trs, gu, klosterman) and
fit_curves run through Spark on a small synthetic obs table; each id's
output rows must equal what the numpy kernels return on the driver for that
id's input rows: values, NULL placement, dates and row order. The table
holds a multi-orbit, multi-sensor series with same-day passages, a
one-orbit series, a series shorter than its SG window (the NULL-smooth
path), cloudy rows, null ``qa`` and a null value, over two seasons.
"""

import datetime
import math
import warnings

import numpy as np
import pytest

from sen2rts_spark.kernels.cycles import cut_cycles_series
from sen2rts_spark.kernels.dlog import fit_with_fallback
from sen2rts_spark.kernels.pheno import pheno_gu, pheno_kl, pheno_trs
from sen2rts_spark.kernels.series import (fill_series, rank_average,
                                          smooth_series)
from sen2rts_spark.operators import pheno_tools, timeseries
from sen2rts_spark.operators.extract import OBS_SCHEMA

EPOCH = datetime.date(1970, 1, 1)
FIT = ("gu", "klosterman")


def _day(d):
    return (d - EPOCH).days


def _date(n):
    return EPOCH + datetime.timedelta(days=int(n))


def _nan(v):
    """A Spark NULL as the kernels read it."""
    return math.nan if v is None else v


def _null(v):
    """A kernel NaN as Spark writes it."""
    return None if isinstance(v, float) and math.isnan(v) else v


def _obs_rows():
    rng = np.random.default_rng(3)
    d0 = _day(datetime.date(2019, 1, 1))

    def row(id_, day, orbit, sensor):
        doy = (day - d0) % 365
        v = (0.1 + 0.6 / (1 + math.exp(-(doy - 120) / 10))
             - 0.6 / (1 + math.exp(-(doy - 260) / 15))
             + float(rng.normal(0, 0.01)))
        r = rng.random()
        qa = 0.1 if r < 0.12 else None if r < 0.17 else 1.0
        if r < 0.12:  # cloudy: low qa, value pulled down
            v *= 0.3
        return (id_, _date(day), orbit, sensor, round(v, 6), qa)

    rows = []
    for day in range(d0, d0 + 730):
        # orbit 022 has doybase 0, 065 doybase 5: 2A/022 and 2B/065 pass on
        # the same days, as do 2B/022 and 2A/065
        for orbit, base in (("022", 0), ("065", 5)):
            for sensor, off in (("2A", 0), ("2B", 5)):
                if day % 10 == (base + off) % 10 and rng.random() < 0.8:
                    rows.append(row("multi", day, orbit, sensor))
        if day % 10 == 0:
            rows.append(row("single", day, "022", "2A"))
    rows[5] = rows[5][:4] + (None, rows[5][5])
    # three passages on the 2A/022 cadence (day % 10 == 0): window 5
    rows += [row("short", d0 + 3 + 10 * k, "022", "2A") for k in range(3)]
    return rows


def _by_id(rows, key=None):
    out = {}
    for r in rows:
        out.setdefault(r["id"], []).append(r)
    if key:
        out = {k: sorted(v, key=key) for k, v in out.items()}
    return out


def _smooth_want(rows):
    days = np.array([_day(r["date"]) for r in rows])
    value = np.array([_nan(r["value"]) for r in rows])
    qa = np.array([_nan(r["qa"]) for r in rows])
    sensor = np.array([r["sensor"] for r in rows], dtype=object)
    orbit = np.array([r["orbit"] for r in rows], dtype=object)
    out = smooth_series(days, value, qa, sensor, orbit)
    return [(_date(d), o, s, _null(float(v)), _null(float(q)),
             _null(float(rv)))
            for d, o, s, v, q, rv in zip(out["days"], out["orbit"],
                                         out["sensor"], out["value"],
                                         out["qa"], out["rawval"])]


def _fill_want(rows):
    out = fill_series(
        np.array([_day(r["date"]) for r in rows]),
        np.array([_nan(r["value"]) for r in rows]),
        np.array([r["sensor"] for r in rows], dtype=object),
        np.array([r["orbit"] for r in rows], dtype=object),
        passthrough={c: np.array([_nan(r[c]) for r in rows], dtype=object)
                     for c in ("qa", "rawval")})
    return [(_date(d), o, s, _null(float(v)),
             _null(None if q is None else float(q)),
             _null(None if rv is None else float(rv)), bool(i))
            for d, o, s, v, q, rv, i in zip(
                out["days"], out["orbit"], out["sensor"], out["value"],
                out["qa"], out["rawval"], out["interpolated"])]


def _cycles_want(rows):
    got = cut_cycles_series(np.array([_day(r["date"]) for r in rows]),
                            np.array([_nan(r["value"]) for r in rows]))
    return [(c["year"], c["cycle"], _date(c["begin"]), _date(c["end"]),
             _date(c["maxval"]), c["weight"]) for c in got]


_PHENO = {  # method: (extractor, date, value, raw, int metrics)
    "trs": (pheno_trs, ("sos", "eos", "pop"), ("mgs", "peak", "msp", "mau"),
            ("rsp", "rau"), ("los",)),
    "gu": (pheno_gu, ("UD", "SD", "DD", "RD"), ("maxline", "baseline"),
           ("prr", "psr", "plateau_slope"), ()),
    "klosterman": (pheno_kl, ("Greenup", "Maturity", "Senescence",
                              "Dormancy"), (), (), ()),
}


def _pheno_want(method, cyc, dates, fitted, g0, gr):
    extract, date_m, value_m, raw_m, int_m = _PHENO[method]
    m = extract(fitted["predicted"]) if fitted is not None else {
        k: math.nan for k in (*date_m, *value_m, *raw_m, *int_m)}
    row = {"id": cyc["id"], "year": cyc["year"], "cycle": cyc["cycle"],
           "begin": dates[0], "end": dates[-1], "maxval": cyc["maxval"],
           "weight": cyc["weight"]}
    for k in date_m:
        row[k] = None if math.isnan(m[k]) else \
            dates[0] + datetime.timedelta(days=int(round(m[k])) - 1)
    for k in value_m:
        row[k] = _null(g0 + m[k] * gr)
    for k in raw_m:
        row[k] = _null(float(m[k]))
    for k in int_m:
        row[k] = None if math.isnan(m[k]) else int(m[k])
    return row


@pytest.fixture(scope="module")
def stages(spark):
    obs = spark.createDataFrame(_obs_rows(), OBS_SCHEMA)
    smoothed = timeseries.smooth(obs)
    filled = timeseries.fill(smoothed)
    cycles = timeseries.cut_cycles(filled)
    return {name: (df, df.collect()) for name, df in (
        ("obs", obs), ("smoothed", smoothed), ("filled", filled),
        ("cycles", cycles))}


def _rows(rows, cols):
    return [tuple(r[c] for c in cols) for r in rows]


def test_smooth_fill_cut_cycles_equal_kernels(stages):
    obs = _by_id(stages["obs"][1])
    smoothed = _by_id(stages["smoothed"][1])
    filled = _by_id(stages["filled"][1])
    cycles = _by_id(stages["cycles"][1])
    assert set(smoothed) == set(filled) == {"multi", "single", "short"}
    cols = ("date", "orbit", "sensor", "value", "qa", "rawval")
    for id_ in obs:
        assert _rows(smoothed[id_], cols) == _smooth_want(obs[id_]), id_
        assert _rows(filled[id_], cols + ("interpolated",)) == \
            _fill_want(smoothed[id_]), id_
        assert _rows(cycles.get(id_, []), (
            "year", "cycle", "begin", "end", "maxval", "weight")) == \
            _cycles_want(filled[id_]), id_
    # the series shorter than its window keeps its rows with a NULL value
    assert len(smoothed["short"]) == 3
    assert all(r["value"] is None for r in smoothed["short"])
    assert any(r["qa"] is None for r in smoothed["multi"])
    assert {"multi", "single"} <= set(cycles)


def test_cut_cycles_of_all_nan_series_is_silent():
    """A series shorter than its SG window smooths to NULL, fills to an
    all-NaN series, and cuts to no cycles without a RuntimeWarning."""
    days = np.arange(3) * 10
    filled = fill_series(days, np.full(3, math.nan),
                         np.array(["2A"] * 3, dtype=object),
                         np.array(["022"] * 3, dtype=object))
    assert np.isnan(filled["value"]).all()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert cut_cycles_series(filled["days"], filled["value"]) == []


def test_smooth_of_all_nan_series_is_silent():
    """A series with no value smooths to all-NaN without a RuntimeWarning
    (the relval rescale's nanmin would warn on it)."""
    days = np.arange(6) * 10
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = smooth_series(days, np.full(6, math.nan), np.ones(6),
                            np.array(["2A"] * 6, dtype=object),
                            np.array(["022"] * 6, dtype=object))
    assert np.isnan(out["value"]).all() and len(out["value"]) == 6


@pytest.mark.parametrize("levels", [1, 3, 20, 1000])
def test_rank_average_is_mean_of_tied_ranks(levels):
    """rank_average gives each value the mean of the 1-based ranks its tie
    run covers (R's ties.method='average'), on tie-heavy vectors."""
    rng = np.random.default_rng(levels)
    for n in (0, 1, 2, 7, 160):
        v = rng.integers(0, levels, n).astype(np.float64)
        rank = np.argsort(np.argsort(v, kind="stable")) + 1.0
        want = np.array([rank[v == x].mean() for x in v])
        np.testing.assert_array_equal(rank_average(v), want)


def test_extract_pheno_and_fit_curves_equal_kernels(stages):
    filled_df, filled_rows = stages["filled"]
    cycles_df, cycle_rows = stages["cycles"]
    values = [r["value"] for r in filled_rows if r["value"] is not None]
    g0, gr = min(values), max(values) - min(values)
    filled = _by_id(filled_rows, key=lambda r: r["date"])
    fits = {}
    for c in cycle_rows:
        rows = [r for r in filled[c["id"]] if c["begin"] <= r["date"] < c["end"]]
        vals = np.array([_nan(r["value"]) for r in rows])
        fits[(c["id"], c["year"], c["cycle"])] = (
            c, [r["date"] for r in rows],
            fit_with_fallback((vals - g0) / gr, FIT))
    assert fits

    for method in _PHENO:
        got = timeseries.extract_pheno(filled_df, cycles_df, fit=FIT,
                                       method=method).collect()
        want = [_pheno_want(method, c, dates, fitted, g0, gr)
                for c, dates, fitted in fits.values()]
        assert all(r[_PHENO[method][1][0]] is not None for r in want)
        key = lambda r: (r["id"], r["year"], r["cycle"])  # noqa: E731
        assert sorted((r.asDict() for r in got), key=key) == \
            sorted(want, key=key), method

    got = pheno_tools.fit_curves(filled_df, cycles_df, fit=FIT).collect()
    want = [(*k, d, _null(float(g0 + p * gr)), fitted["method"])
            for k, (_, dates, fitted) in fits.items() if fitted is not None
            for d, p in zip(dates, fitted["predicted"])]
    assert sorted(map(tuple, got)) == sorted(want)
