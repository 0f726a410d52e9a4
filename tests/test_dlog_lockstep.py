"""Lockstep multistart fits vs the scalar reference harness.

``sen2rts_spark.kernels.dlog`` advances all Nelder-Mead starts of a stage
in lockstep. Each start's arithmetic is the same as in the one-at-a-time
loop kept in ``dlog_reference``, so params, predicted, sse and method must
be bit-identical, for every family and for ``fit_with_fallback``.

The inputs are seeded synthetic cycles (no reference fixtures needed), plus
two degenerate slices whose outcome is pinned explicitly:

- a slice with one NaN: Gu keeps the NaN SSE, so none of its refined
  chains wins and the fit fails; the other families count the NaN SSE as
  99999, so all chains tie and the first one is kept; the fallback chain
  therefore lands on klosterman.
- a constant slice (5 %/95 % quantile span 0, normalized by 1 instead).
"""

import functools

import numpy as np
import pytest
from dlog_reference import scalar_fit

from sen2rts_spark.kernels import dlog

FAMILIES = ("gu", "klosterman", "beck", "elmore")


def _cycle(n: int, seed: int) -> np.ndarray:
    """A noisy double-logistic season of ``n`` days (relval scale)."""
    rng = np.random.default_rng(seed)
    t = np.arange(1, n + 1)
    up, down = rng.uniform(0.2, 0.4) * n, rng.uniform(0.6, 0.8) * n
    amp = rng.uniform(0.4, 0.8)
    y = (rng.uniform(0.0, 0.2)
         + amp / (1 + np.exp(-(t - up) / (rng.uniform(0.03, 0.08) * n)))
         - amp / (1 + np.exp(-(t - down) / (rng.uniform(0.03, 0.08) * n))))
    return y + rng.normal(0, 0.03, n)


def _slices() -> dict:
    mid = int(np.random.default_rng(7).integers(31, 400))
    out = {f"n{n}": _cycle(n, n) for n in (30, mid, 400)}
    nan = _cycle(60, 60)
    nan[17] = np.nan
    out["nan"] = nan
    out["flat"] = np.full(40, 0.37)
    return out


SLICES = _slices()


def _starts(fit, x) -> list:
    """The starts ``fit`` hands to the shared harness."""
    seen = {}
    real = dlog._fit_generic

    def spy(x, curve, starts, method, **_):
        seen["starts"] = starts

    dlog._fit_generic = spy
    try:
        fit(x)
    finally:
        dlog._fit_generic = real
    return seen["starts"]


@functools.lru_cache(maxsize=None)
def _reference(name: str, method: str):
    x = SLICES[name]
    curve = getattr(dlog, f"{method}_curve")
    return scalar_fit(x, curve, _starts(dlog.FIT_FUNS[method], x), method)


def _assert_same(got, want):
    if want is None:
        assert got is None
        return
    assert got is not None
    assert got["method"] == want["method"]
    assert got["sf"] == want["sf"]
    np.testing.assert_array_equal(got["params"], want["params"])
    np.testing.assert_array_equal(got["predicted"], want["predicted"])
    assert got["sse"] == want["sse"]


@pytest.mark.parametrize("method", FAMILIES)
@pytest.mark.parametrize("name", list(SLICES))
def test_lockstep_fit_bit_identical(name, method):
    _assert_same(dlog.FIT_FUNS[method](SLICES[name]), _reference(name, method))


@pytest.mark.parametrize("name", list(SLICES))
def test_fallback_bit_identical(name):
    want = next((r for r in (_reference(name, "gu"), _reference(name, "klosterman"))
                 if r is not None and not np.all(np.isnan(r["predicted"]))), None)
    _assert_same(dlog.fit_with_fallback(SLICES[name]), want)


def test_degenerate_slice_outcomes():
    assert dlog.fit_gu(SLICES["nan"]) is None
    for method in ("klosterman", "beck", "elmore"):
        assert dlog.FIT_FUNS[method](SLICES["nan"])["sse"] == 99999.0
    assert dlog.fit_with_fallback(SLICES["nan"])["method"] == "klosterman"
    flat = dlog.fit_gu(SLICES["flat"])
    assert flat["sf"] == (0.37, 0.37)
    np.testing.assert_allclose(flat["predicted"], 0.37, atol=1e-12)
