"""Golden tests: numpy kernels vs the reference's shipped fixtures.

Decodes /root/reference/data/*.rda (see FIXTURES.md) and asserts our
smooth/fill kernels reproduce ts_smoothed / ts_filled to 1e-9.
"""

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(__file__))
from rda_reader import rda_table, require_fixtures  # noqa: E402

from sen2rts_spark.kernels.series import fill_series, smooth_series  # noqa: E402

DATA = "/root/reference/data"
EPOCH = np.datetime64("1970-01-01")


def _load(name):
    require_fixtures(DATA)
    return rda_table(f"{DATA}/{name}.rda", name)


def _days(dates):
    return np.array([(d - __import__("datetime").date(1970, 1, 1)).days for d in dates],
                    dtype=np.int64)


def _by_id(tbl, sel):
    idx = [i for i, v in enumerate(tbl["id"]) if v == sel]
    return {k: [tbl[k][i] for i in idx] for k in tbl}


@pytest.fixture(scope="module")
def ts_raw():
    return _load("ts_raw")


@pytest.fixture(scope="module")
def ts_smoothed():
    return _load("ts_smoothed")


@pytest.fixture(scope="module")
def ts_filled():
    return _load("ts_filled")


def test_smooth_matches_fixture(ts_raw, ts_smoothed):
    for sel in ("1", "2"):
        raw = _by_id(ts_raw, sel)
        gold = _by_id(ts_smoothed, sel)
        out = smooth_series(
            _days(raw["date"]),
            np.array(raw["value"], dtype=np.float64),
            np.array(raw["qa"], dtype=np.float64),
            np.array(raw["sensor"], dtype=object),
            np.array(raw["orbit"], dtype=object),
        )
        assert len(out["days"]) == len(gold["date"])
        gold_days = _days(gold["date"])
        assert np.array_equal(out["days"], gold_days)
        gv = np.array(gold["value"], dtype=np.float64)
        ov = out["value"]
        assert np.array_equal(np.isnan(gv), np.isnan(ov)), (
            f"NA pattern mismatch id={sel}: "
            f"{[(int(d), g, o) for d, g, o in zip(gold_days, gv, ov) if np.isnan(g) != np.isnan(o)][:10]}"
        )
        np.testing.assert_allclose(ov[~np.isnan(gv)], gv[~np.isnan(gv)],
                                   rtol=0, atol=1e-9)
        np.testing.assert_allclose(out["rawval"], np.array(gold["rawval"]),
                                   rtol=0, atol=0)


def test_fill_matches_fixture(ts_smoothed, ts_filled):
    for sel in ("1", "2"):
        sm = _by_id(ts_smoothed, sel)
        gold = _by_id(ts_filled, sel)
        out = fill_series(
            _days(sm["date"]),
            np.array(sm["value"], dtype=np.float64),
            np.array(sm["sensor"], dtype=object),
            np.array(sm["orbit"], dtype=object),
        )
        gold_days = _days(gold["date"])
        assert np.array_equal(out["days"], gold_days), (
            f"day grid mismatch id={sel}: {len(out['days'])} vs {len(gold_days)}"
        )
        gv = np.array(gold["value"], dtype=np.float64)
        ov = out["value"]
        assert np.array_equal(np.isnan(gv), np.isnan(ov))
        np.testing.assert_allclose(ov[~np.isnan(gv)], gv[~np.isnan(gv)],
                                   rtol=0, atol=1e-9)
        g_interp = np.array(gold["interpolated"], dtype=bool)
        assert np.array_equal(np.array(out["interpolated"], dtype=bool), g_interp)


def test_fill_summary_values(ts_filled):
    # FIXTURES.md §3.3 anchors
    f1 = _by_id(ts_filled, "1")
    vals = np.array(f1["value"], dtype=np.float64)
    assert len(vals) == 301
    assert np.isnan(vals).sum() == 10
    assert math.isclose(np.nansum(vals), 98.5510962546, rel_tol=0, abs_tol=1e-9)
