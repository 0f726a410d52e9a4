"""Golden tests: cut_cycles, Gu fit, pheno extraction vs reference fixtures."""

import datetime
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(__file__))
from rda_reader import load_rda, rda_table, require_fixtures  # noqa: E402

from sen2rts_spark.kernels.cycles import cut_cycles_series  # noqa: E402
from sen2rts_spark.kernels.dlog import fit_gu  # noqa: E402
from sen2rts_spark.kernels.pheno import pheno_trs  # noqa: E402

DATA = "/root/reference/data"
EPOCH = datetime.date(1970, 1, 1)
RESCALE = (0.046667686703721734, 0.8669273771881469)


def _days(dates):
    return np.array([(d - EPOCH).days for d in dates], dtype=np.int64)


def _named(o):
    names = [n for n in (o.attrs["names"].value if "names" in o.attrs else [])]
    return dict(zip(names, o.value))


@pytest.fixture(scope="module")
def ts_filled():
    require_fixtures(DATA)
    return rda_table(f"{DATA}/ts_filled.rda", "ts_filled")


@pytest.fixture(scope="module")
def dt_cycles():
    require_fixtures(DATA)
    return rda_table(f"{DATA}/dt_cycles.rda", "dt_cycles")


@pytest.fixture(scope="module")
def dt_pheno():
    require_fixtures(DATA)
    return rda_table(f"{DATA}/dt_pheno.rda", "dt_pheno")


@pytest.fixture(scope="module")
def cf_fits():
    require_fixtures(DATA)
    cfd = _named(load_rda(f"{DATA}/cf.rda")["cf"])
    out = {}
    for sid in cfd:
        for yr in _named(cfd[sid]):
            for cyc, node in _named(_named(cfd[sid])[yr]).items():
                nd = _named(node)
                out[(sid, yr, cyc)] = np.array(_named(nd["fit"])["predicted"].value)
    return out


def test_cut_cycles_exact(ts_filled, dt_cycles):
    got = []
    for sel in ("1", "2"):
        idx = [i for i, v in enumerate(ts_filled["id"]) if v == sel]
        days = _days([ts_filled["date"][i] for i in idx])
        vals = np.array([ts_filled["value"][i] for i in idx], dtype=np.float64)
        for r in cut_cycles_series(days, vals):
            got.append((sel, r["year"], r["cycle"],
                        EPOCH + datetime.timedelta(days=r["begin"]),
                        EPOCH + datetime.timedelta(days=r["end"]),
                        EPOCH + datetime.timedelta(days=r["maxval"]),
                        r["weight"]))
    gold = list(zip(dt_cycles["id"], dt_cycles["year"], dt_cycles["cycle"],
                    dt_cycles["begin"], dt_cycles["end"], dt_cycles["maxval"],
                    dt_cycles["weight"]))
    assert len(got) == len(gold) == 3
    for g, o in zip(gold, got):
        assert g[:6] == o[:6]
        assert abs(g[6] - o[6]) < 1e-9


def test_pheno_trs_exact_from_reference_curves(cf_fits, dt_pheno):
    """Extractor isolation: reference fitted curves -> exact dt_pheno."""
    for ci, key in enumerate([("1", "2020", "1"), ("2", "2020", "1"),
                              ("2", "2020", "2")]):
        pred = cf_fits[key]
        m = pheno_trs(pred, 0.5)
        begin = dt_pheno["begin"][ci]
        assert begin + datetime.timedelta(days=int(m["sos"]) - 1) == dt_pheno["sos"][ci]
        assert begin + datetime.timedelta(days=int(m["eos"]) - 1) == dt_pheno["eos"][ci]
        assert begin + datetime.timedelta(days=int(m["pop"]) - 1) == dt_pheno["pop"][ci]
        assert int(m["los"]) == dt_pheno["los"][ci]
        for k in ("mgs", "peak", "msp", "mau"):
            ours = RESCALE[0] + m[k] * RESCALE[1]
            assert abs(ours - dt_pheno[k][ci]) < 1e-12, (key, k)
        assert np.isnan(m["rsp"]) and np.isnan(m["rau"])


def test_gu_fit_end_to_end_dates(ts_filled, dt_cycles, dt_pheno):
    """Our optimizer: SSE <= reference fit, sos/eos/los dates exact.

    ``pop`` (argmax of the fitted curve) is allowed ±1 day: our multistart
    finds an equal-or-DEEPER SSE minimum than R optim's maxit-limited BFGS
    (e.g. 0.02785 vs 0.028027 on cycle 2/2), and on a flat peak the argmax of
    two equally-good fits can differ by one day. The extractor itself is
    bit-exact given the reference curve (test_pheno_trs_exact_...).
    """
    ref_sse = {("1", 1): 0.0330363, ("2", 1): 0.1148495, ("2", 2): 0.0280271}
    for ci in range(3):
        sid = dt_cycles["id"][ci]
        cyc = dt_cycles["cycle"][ci]
        idx = [i for i, v in enumerate(ts_filled["id"]) if v == sid]
        days = _days([ts_filled["date"][i] for i in idx])
        vals = np.array([ts_filled["value"][i] for i in idx], dtype=np.float64)
        relval = (vals - RESCALE[0]) / RESCALE[1]
        b = (dt_cycles["begin"][ci] - EPOCH).days
        e = (dt_cycles["end"][ci] - EPOCH).days
        sel = (days >= b) & (days < e)
        fit = fit_gu(relval[sel])
        assert fit is not None
        assert fit["sse"] <= ref_sse[(sid, cyc)] + 1e-4
        m = pheno_trs(fit["predicted"], 0.5)
        begin = dt_pheno["begin"][ci]
        assert begin + datetime.timedelta(days=int(m["sos"]) - 1) == dt_pheno["sos"][ci]
        assert begin + datetime.timedelta(days=int(m["eos"]) - 1) == dt_pheno["eos"][ci]
        pop_date = begin + datetime.timedelta(days=int(m["pop"]) - 1)
        assert abs((pop_date - dt_pheno["pop"][ci]).days) <= 1
        assert int(m["los"]) == dt_pheno["los"][ci]


def test_ground_mask_buffer_erosion():
    """W8 parity: ground runs eroded by ground_buffer days at both ends
    (cut_cycles.R:170-188)."""
    from sen2rts_spark.kernels.cycles import ground_mask
    days = np.arange(100)
    rv = np.concatenate([np.full(30, 0.1), np.full(40, 0.8), np.full(30, 0.1)])
    g, cg = ground_mask(days, rv, max_groundvalue=0.2, ground_buffer=10)
    assert g[:20].all()          # leading ground, eroded tail
    assert not g[20:30].any()    # 10 days before the rising edge eroded
    assert not g[30:70].any()    # the cycle itself
    assert not g[70:80].any()    # [date_l, date_r] inclusive erosion (R :184)
    assert g[80:].all()
    assert list(np.flatnonzero(cg)) == [20, 79]
    assert cg[20] == -1 and cg[79] == 1


def test_ground_mask_empty_lookback_erodes_whole_run():
    """R max/min-of-empty = ±Inf (cut_cycles.R:176-177): when no row exists
    ground_buffer days before a falling edge (resp. after a rising edge),
    the whole leading (trailing) ground run is eroded."""
    from sen2rts_spark.kernels.cycles import ground_mask
    days = np.arange(60)
    # leading ground run of 5 days (< buffer 10), then a cycle, then 5 days
    rv = np.concatenate([np.full(5, 0.1), np.full(50, 0.8), np.full(5, 0.1)])
    g, cg = ground_mask(days, rv, max_groundvalue=0.2, ground_buffer=10)
    assert not g[:5].any()    # leading run fully eroded (no -10d row exists)
    assert not g[55:].any()   # trailing run fully eroded (no +10d row exists)
    assert not cg.any()       # no markers survive for the eroded short runs


def test_fill_series_duplicate_knot_days():
    """Two observations on the same day (two orbits sharing a passage date)
    must not NaN the spline: duplicate knots collapse to their mean like R
    spline() regularize.values."""
    from sen2rts_spark.kernels.series import fill_series
    days = np.array([0, 5, 5, 10, 15, 20], dtype=np.int64)
    vals = np.array([0.1, 0.2, 0.4, 0.5, 0.55, 0.3])
    out = fill_series(days, vals,
                      np.array(["2A"] * 6, dtype=object),
                      np.array(["000", "000", "011", "000", "000", "000"],
                               dtype=object))
    assert np.isfinite(out["value"]).all()
    # the duplicated day keeps rows for both orbits, both on the mean knot
    dup = out["value"][out["days"] == 5]
    assert len(dup) == 2 and np.allclose(dup, 0.3)


def test_alt_fits_sse_no_worse_on_fixture(ts_filled, dt_cycles):
    """fit_curve.R:116-129 methods: Beck/Elmore/Klosterman fits reach a
    deterministic, finite SSE in the same ballpark as the Gu fit on the
    reference fixture cycles (no golden .rda exists for these methods)."""
    from sen2rts_spark.kernels.dlog import (fit_beck, fit_elmore,
                                            fit_klosterman)
    ref_sse = {("1", 1): 0.0330363, ("2", 1): 0.1148495, ("2", 2): 0.0280271}
    ci = 0  # first cycle is the cleanest single-season shape
    sid, cyc = dt_cycles["id"][ci], dt_cycles["cycle"][ci]
    idx = [i for i, v in enumerate(ts_filled["id"]) if v == sid]
    days = _days([ts_filled["date"][i] for i in idx])
    vals = np.array([ts_filled["value"][i] for i in idx], dtype=np.float64)
    relval = (vals - RESCALE[0]) / RESCALE[1]
    b = (dt_cycles["begin"][ci] - EPOCH).days
    e = (dt_cycles["end"][ci] - EPOCH).days
    x = relval[(days >= b) & (days < e)]
    # ceilings vs the 9-param Gu optimum: Beck is a 6-param SYMMETRIC family
    # whose true optimum on this cycle is 0.1229 (verified with a 200-start
    # brute-force — the default fit reaches it to 1e-14); the richer
    # Elmore/Klosterman families must land much closer to Gu.
    ceil = {"fit_beck": 4.0, "fit_elmore": 3.0, "fit_klosterman": 3.0}
    for fn in (fit_beck, fit_elmore, fit_klosterman):
        fit = fn(x)
        assert fit is not None, fn.__name__
        assert np.isfinite(fit["predicted"]).all()
        assert fit["sse"] <= ceil[fn.__name__] * ref_sse[(sid, cyc)] + 1e-3, \
            (fn.__name__, fit["sse"])


def test_fit_fallback_chain():
    """fit_curve.R:149-156: first failing method falls through; the
    successful method is reported."""
    from sen2rts_spark.kernels.dlog import FIT_FUNS, fit_with_fallback
    x = np.linspace(0.1, 0.9, 40)

    def boom(_x):
        raise RuntimeError("synthetic failure")

    FIT_FUNS["_boom"] = boom
    try:
        out = fit_with_fallback(x, ("_boom", "no"))
        assert out is not None and out["method"] == "no"
    finally:
        del FIT_FUNS["_boom"]
    assert fit_with_fallback(x, ("no",))["method"] == "no"


def test_pheno_gu_kl_on_reference_curve(cf_fits, dt_cycles):
    """PhenoGu / PhenoKl structure on the reference fitted curve: the Gu
    tangent dates and the Zhang curvature dates are ordered and in range
    (extract_pheno.R:166-181; no reference fixture exists for these
    methods)."""
    from sen2rts_spark.kernels.pheno import pheno_gu, pheno_kl
    pred = cf_fits[("1", "2020", "1")]
    n = len(pred)
    g = pheno_gu(pred)
    assert g["baseline"] == pytest.approx(float(np.min(pred)))
    assert g["maxline"] == pytest.approx(float(np.max(pred)))
    assert g["prr"] > 0 > g["psr"]
    assert g["UD"] < g["SD"] < g["DD"] < g["RD"]
    assert -n <= g["UD"] and g["RD"] <= 2 * n  # tangent crossings may overshoot
    k = pheno_kl(pred)
    assert k["Greenup"] < k["Maturity"] <= k["Senescence"] < k["Dormancy"]
    assert 1 <= k["Greenup"] and k["Dormancy"] <= n
