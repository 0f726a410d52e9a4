"""Double-logistic curve fitting (scipy-free numpy port).

Re-creates the fit used by the reference's ``fit_curve()``
(``R/fit_curve.R:70-183``, delegating to ``phenopix::GuFit``):

    y(t) = y0 + a1/(1+exp(-(t-t01)/b1))^c1 - a2/(1+exp(-(t-t02)/b2))^c2

and the Beck, Elmore and Klosterman families. The cycle series
(global-relval scale) is normalized with sf = quantile(x, c(0.05, 0.95))
(type 7) — convention verified bit-exact against the reference's cf fixture
(tests/test_pheno_golden.py). The SSE is minimized by deterministic
multistart Nelder-Mead (R optim BFGS is the reference's engine; dates
extracted downstream are robust to the residual parameter difference).

All families share ``_fit_generic``, whose Nelder-Mead runs every start of
a stage in lockstep (one SSE call per step for all of them), bit-identical
to running the starts one by one (tests/test_dlog_lockstep.py).
"""

from __future__ import annotations

import numpy as np

__all__ = ["gu_curve", "beck_curve", "elmore_curve", "klosterman_curve",
           "quantile7", "fit_gu", "fit_beck", "fit_elmore", "fit_klosterman",
           "fake_fit", "fit_with_fallback", "FIT_FUNS"]


def gu_curve(par: np.ndarray, t: np.ndarray) -> np.ndarray:
    y0, a1, a2, t01, t02, b1, b2, c1, c2 = par
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        return (y0
                + a1 / (1.0 + np.exp(-(t - t01) / b1)) ** c1
                - a2 / (1.0 + np.exp(-(t - t02) / b2)) ** c2)


def quantile7(v: np.ndarray, p: float) -> float:
    """R default quantile (type 7)."""
    v = np.sort(np.asarray(v, dtype=np.float64))
    h = (len(v) - 1) * p
    lo = int(np.floor(h))
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (h - lo) * (v[hi] - v[lo]))


def _nelder_mead(sse, x0, maxiter, xatol=1e-9, fatol=1e-12):
    """Deterministic Nelder-Mead (standard coefficients, pinned initial
    simplex) started from every row of ``x0`` and advanced in lockstep.

    ``sse`` maps an (m, p) block of points to their m costs. Each step makes
    at most three ``sse`` calls for all live starts together: reflections,
    then expansions and contractions, then shrunk simplices. A start leaves
    the block once it converges. Every start takes exactly the path it would
    take alone. Returns the best vertex and its cost per start.
    """
    m, p = x0.shape
    alpha, gamma, rho, sigma = 1.0, 2.0, 0.5, 0.5
    sim = np.repeat(x0[:, None, :], p + 1, axis=1)
    k = np.arange(p)
    sim[:, k + 1, k] = np.where(x0 != 0, x0 + 0.05 * x0, x0 + 0.00025)
    fsim = sse(sim.reshape(-1, p)).reshape(m, p + 1)
    best_x, best_f = np.empty((m, p)), np.empty(m)
    live = np.arange(m)
    rows = live[:, None]
    for it in range(maxiter + 1):
        order = fsim.argsort(axis=1, kind="stable")
        sim, fsim = sim[rows, order], fsim[rows, order]
        # sorted ascending, NaN last: max |f_i - f_0| is f_last - f_0
        done = fsim[:, -1] - fsim[:, 0] <= fatol
        if done.any():
            done &= np.abs(sim[:, 1:] - sim[:, :1]).max(axis=(1, 2)) <= xatol
        done |= it == maxiter
        if done.any():
            best_x[live[done]], best_f[live[done]] = sim[done, 0], fsim[done, 0]
            if done.all():
                break
            live, sim, fsim = live[~done], sim[~done], fsim[~done]
            rows = rows[:len(live)]
        # sum / p is what mean() computes, without its Python overhead
        centroid = sim[:, :-1].sum(axis=1) / p
        worst = sim[:, -1]
        step = centroid - worst
        xr = centroid + alpha * step
        fr = sse(xr)
        expand = fr < fsim[:, 0]
        accept = fr < fsim[:, -2]
        if accept.all() and not expand.any():
            sim[:, -1], fsim[:, -1] = xr, fr
            continue
        # expansion where the reflection is a new best, contraction where it
        # does not beat the second worst
        probe = expand | ~accept
        xp = np.where(expand[:, None], centroid + gamma * step,
                      centroid + rho * (worst - centroid))
        fp = np.full(len(live), np.nan)
        fp[probe] = sse(xp[probe])
        take = np.where(expand, fp < fr, fp < fsim[:, -1])
        xnew, fnew = np.where(take[:, None], xp, xr), np.where(take, fp, fr)
        shrink = ~(expand | accept | take)
        if not shrink.any():
            sim[:, -1], fsim[:, -1] = xnew, fnew
            continue
        keep = ~shrink
        sim[keep, -1], fsim[keep, -1] = xnew[keep], fnew[keep]
        s = sim[shrink]
        s[:, 1:] = s[:, :1] + sigma * (s[:, 1:] - s[:, :1])
        sim[shrink] = s
        fsim[shrink, 1:] = sse(s[:, 1:].reshape(-1, p)).reshape(-1, p)
    return best_x, best_f


def fit_gu(x: np.ndarray):
    """Fit the 9-param Gu double-logistic to one cycle series.

    ``x`` is the cycle's values (relval scale), t = 1..n implicitly.
    Returns dict(params, predicted, sf, sse) with ``predicted`` back-scaled to
    the input scale (phenopix GuFit convention: sf = 5%/95% quantiles).
    A NaN in ``x`` makes the SSE NaN, which is kept: the fit is None unless
    some refine chain still reaches a finite cost.
    """
    n = len(x)
    t = np.arange(1, n + 1, dtype=np.float64)
    d25 = quantile7(t, 0.25)
    d75 = quantile7(t, 0.75)
    # deterministic multistart: the 4 phenopix-style priors plus a seeded
    # latin-ish random sample (fixed seed — reproducible across runs/executors)
    starts = []
    for tp in ((d25, d75), (d75, d25)):
        for cc in (1.0, 3.0):
            starts.append(np.array([0.0, 1.0, 1.0, tp[0], tp[1], 0.5, 0.5, cc, cc]))
    rng = np.random.default_rng(42)
    for _ in range(36):
        starts.append(np.array([
            rng.uniform(-0.2, 0.3), rng.uniform(0.5, 2.0), rng.uniform(0.5, 2.0),
            rng.uniform(1, n), rng.uniform(1, n),
            np.exp(rng.uniform(np.log(0.3), np.log(8))),
            np.exp(rng.uniform(np.log(0.3), np.log(8))),
            np.exp(rng.uniform(np.log(0.1), np.log(8))),
            np.exp(rng.uniform(np.log(0.1), np.log(8))),
        ]))
    return _fit_generic(x, gu_curve, starts, "gu", refine_iter=3000,
                        refine_rounds=2, finite_sse=False)


def fake_fit(x: np.ndarray):
    """fit = "no" (fit_curve.R:14-24): identity predicted."""
    x = np.asarray(x, dtype=np.float64)
    return {"params": None, "predicted": x.copy(), "sf": (0.0, 1.0),
            "sse": 0.0, "method": "no"}


# ---------------------------------------------------------------------------
# Alternative double-logistic families (fit_curve.R:116-129 dispatches to
# phenopix::BeckFit / ElmoreFit / KlostermanFit; the formulas below are the
# published ones — Beck et al. 2006, Elmore et al. 2012, Klosterman et al.
# 2014 / Richards-generalized sigmoids — fitted with the same deterministic
# multistart Nelder-Mead harness as the Gu fit).
# ---------------------------------------------------------------------------

def beck_curve(par: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Beck et al. 2006: mn + (mx-mn) * (S_up(t) + S_down(t) - 1)."""
    mn, mx, sos, rsp, eos, rau = par
    with np.errstate(over="ignore", invalid="ignore"):
        return mn + (mx - mn) * (1.0 / (1.0 + np.exp(-rsp * (t - sos)))
                                 + 1.0 / (1.0 + np.exp(rau * (t - eos)))
                                 - 1.0)


def elmore_curve(par: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Elmore et al. 2012 (7-param, linear 'greendown' slope m7)."""
    m1, m2, m3, m4, m5, m6, m7 = par
    with np.errstate(over="ignore", invalid="ignore", divide="ignore"):
        return m1 + (m2 - m7 * t) * (1.0 / (1.0 + np.exp((m3 - t) / m4))
                                     - 1.0 / (1.0 + np.exp((m5 - t) / m6)))


def klosterman_curve(par: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Richards-generalized double sigmoid with linear greendown
    (Klosterman et al. 2014 family): the curvature exponents v1/v2 let each
    shoulder bend asymmetrically."""
    y0, a, d, n1, h1, v1, n2, h2, v2 = par
    with np.errstate(over="ignore", invalid="ignore"):
        s1 = (1.0 + np.exp(-h1 * (t - n1))) ** (-v1)
        s2 = (1.0 + np.exp(-h2 * (t - n2))) ** (-v2)
        return y0 + (a - d * t) * (s1 - s2)


def _fit_generic(x: np.ndarray, curve, starts, method: str,
                 coarse_iter: int = 300, refine_iter: int = 2000,
                 refine_rounds: int = 1, finite_sse: bool = True):
    """Shared multistart harness: normalize by sf quantiles, coarse NM on all
    starts, refine the best three (``refine_rounds`` restarts each), back-scale
    the first chain with the strictly lowest cost. A non-finite parameter or
    prediction costs 99999; so does any non-finite SSE if ``finite_sse``."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    t = np.arange(1, n + 1, dtype=np.float64)
    sf = (quantile7(x, 0.05), quantile7(x, 0.95))
    span = sf[1] - sf[0]
    if span == 0:
        span = 1.0
    xn = (x - sf[0]) / span

    def sse(par):
        cost = np.add.reduce((curve(par.T[:, :, None], t) - xn) ** 2, axis=1)
        # a finite total proves every cost and parameter finite
        if np.isfinite(np.add.reduce(cost) + np.add.reduce(par, axis=None)):
            return cost
        # a non-finite prediction always gives a non-finite SSE
        miss = ~np.isfinite(cost)
        if miss.any() and not finite_sse:
            pred = curve(par[miss].T[:, :, None], t)
            miss[miss] = ~np.isfinite(pred).all(axis=1)
        cost[miss | ~np.isfinite(par).all(axis=1)] = 99999.0
        return cost

    with np.errstate(all="ignore"):
        par, cost = _nelder_mead(sse, np.array(starts, dtype=np.float64),
                                 coarse_iter)
        # Python's stable sort, so NaN costs order as they always have
        top = sorted(range(len(cost)), key=cost.tolist().__getitem__)[:3]
        par = par[top]
        for _ in range(refine_rounds):
            par, cost = _nelder_mead(sse, par, refine_iter)
    best, best_cost = None, np.inf
    for i, c in enumerate(cost):
        if c < best_cost:
            best, best_cost = i, c
    if best is None:
        return None
    predicted = curve(par[best], t) * span + sf[0]
    if not np.all(np.isfinite(predicted)):
        return None
    return {"params": par[best], "predicted": predicted, "sf": sf,
            "sse": best_cost, "method": method}


def fit_beck(x: np.ndarray):
    n = len(x)
    t25, t75 = 0.25 * n, 0.75 * n
    starts = [
        np.array([0.0, 1.0, t25, 0.5, t75, 0.5]),
        np.array([0.0, 1.0, t25, 0.1, t75, 0.1]),
        np.array([0.1, 0.9, 0.4 * n, 1.0, 0.6 * n, 1.0]),
    ]
    rng = np.random.default_rng(7)
    for _ in range(13):
        starts.append(np.array([
            rng.uniform(-0.2, 0.3), rng.uniform(0.5, 1.5),
            rng.uniform(1, n / 2), np.exp(rng.uniform(np.log(0.02), np.log(2))),
            rng.uniform(n / 2, n), np.exp(rng.uniform(np.log(0.02), np.log(2))),
        ]))
    return _fit_generic(x, beck_curve, starts, "beck")


def fit_elmore(x: np.ndarray):
    n = len(x)
    starts = [
        np.array([0.0, 1.0, 0.25 * n, 3.0, 0.75 * n, 3.0, 0.0]),
        np.array([0.1, 0.9, 0.3 * n, 8.0, 0.7 * n, 8.0, 0.001]),
    ]
    rng = np.random.default_rng(11)
    for _ in range(14):
        starts.append(np.array([
            rng.uniform(-0.2, 0.3), rng.uniform(0.5, 1.5),
            rng.uniform(1, n / 2), np.exp(rng.uniform(np.log(0.5), np.log(20))),
            rng.uniform(n / 2, n), np.exp(rng.uniform(np.log(0.5), np.log(20))),
            rng.uniform(-0.002, 0.002),
        ]))
    return _fit_generic(x, elmore_curve, starts, "elmore")


def fit_klosterman(x: np.ndarray):
    n = len(x)
    starts = [
        np.array([0.0, 1.0, 0.0, 0.25 * n, 0.5, 1.0, 0.75 * n, 0.5, 1.0]),
        np.array([0.1, 0.9, 0.0, 0.3 * n, 0.2, 2.0, 0.7 * n, 0.2, 2.0]),
    ]
    rng = np.random.default_rng(13)
    for _ in range(14):
        starts.append(np.array([
            rng.uniform(-0.2, 0.3), rng.uniform(0.5, 1.5),
            rng.uniform(-0.002, 0.002),
            rng.uniform(1, n / 2), np.exp(rng.uniform(np.log(0.05), np.log(2))),
            np.exp(rng.uniform(np.log(0.3), np.log(4))),
            rng.uniform(n / 2, n), np.exp(rng.uniform(np.log(0.05), np.log(2))),
            np.exp(rng.uniform(np.log(0.3), np.log(4))),
        ]))
    return _fit_generic(x, klosterman_curve, starts, "klosterman")


FIT_FUNS = {
    "gu": fit_gu,
    "klosterman": fit_klosterman,
    "beck": fit_beck,
    "elmore": fit_elmore,
    "no": fake_fit,
}


def fit_with_fallback(x, methods=("gu", "klosterman")):
    """Reference retry chain (fit_curve.R:149-156): try each method in order;
    success = fit did not error AND predicted is not all-NA."""
    if isinstance(methods, str):
        methods = (methods,)
    for m in methods:
        try:
            out = FIT_FUNS[m](x)
        except Exception:  # noqa: BLE001 — mirror R try(silent=TRUE)
            out = None
        if out is not None and not np.all(np.isnan(out["predicted"])):
            return out
    return None
