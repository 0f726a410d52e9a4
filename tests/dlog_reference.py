"""Scalar reference for the double-logistic multistart fit.

This is the one-start-at-a-time Nelder-Mead and multistart harness that
``sen2rts_spark.kernels.dlog`` ran before its lockstep rewrite. It is kept
here as the oracle the lockstep kernel must match bit for bit
(``tests/test_dlog_lockstep.py``).
"""

import numpy as np

from sen2rts_spark.kernels.dlog import quantile7

# per-family harness settings of the scalar code: (refine steps, refine
# rounds per chain, non-finite SSE counted as a miss)
SETTINGS = {
    "gu": (3000, 2, False),
    "beck": (2000, 1, True),
    "elmore": (2000, 1, True),
    "klosterman": (2000, 1, True),
}


def nelder_mead(f, x0, maxiter=2000, xatol=1e-9, fatol=1e-12):
    """Deterministic Nelder-Mead (standard coefficients, pinned init simplex)."""
    n = len(x0)
    alpha, gamma, rho, sigma = 1.0, 2.0, 0.5, 0.5
    sim = np.empty((n + 1, n))
    sim[0] = x0
    for k in range(n):
        y = np.array(x0, dtype=float)
        y[k] = y[k] + (0.05 * y[k] if y[k] != 0 else 0.00025)
        sim[k + 1] = y
    fsim = np.array([f(s) for s in sim])
    for _ in range(maxiter):
        order = np.argsort(fsim, kind="stable")
        sim, fsim = sim[order], fsim[order]
        if (np.max(np.abs(sim[1:] - sim[0])) <= xatol
                and np.max(np.abs(fsim[1:] - fsim[0])) <= fatol):
            break
        centroid = sim[:-1].mean(axis=0)
        xr = centroid + alpha * (centroid - sim[-1])
        fr = f(xr)
        if fr < fsim[0]:
            xe = centroid + gamma * (centroid - sim[-1])
            fe = f(xe)
            if fe < fr:
                sim[-1], fsim[-1] = xe, fe
            else:
                sim[-1], fsim[-1] = xr, fr
        elif fr < fsim[-2]:
            sim[-1], fsim[-1] = xr, fr
        else:
            xc = centroid + rho * (sim[-1] - centroid)
            fc = f(xc)
            if fc < fsim[-1]:
                sim[-1], fsim[-1] = xc, fc
            else:
                sim[1:] = sim[0] + sigma * (sim[1:] - sim[0])
                fsim[1:] = [f(s) for s in sim[1:]]
    order = np.argsort(fsim, kind="stable")
    return sim[order][0], fsim[order][0]


def scalar_fit(x, curve, starts, method):
    """Coarse NM from each start in turn, refine the best three one after
    another, keep the first chain with the strictly lowest cost. Returns None
    where the scalar code failed (no chain won, or a non-finite curve)."""
    refine_iter, refine_rounds, finite_sse = SETTINGS[method]
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    t = np.arange(1, n + 1, dtype=np.float64)
    sf = (quantile7(x, 0.05), quantile7(x, 0.95))
    span = sf[1] - sf[0]
    if span == 0:
        span = 1.0
    xn = (x - sf[0]) / span

    def f(par):
        if not np.all(np.isfinite(par)):
            return 99999.0
        pred = curve(par, t)
        if not np.all(np.isfinite(pred)):
            return 99999.0
        sse = float(np.sum((pred - xn) ** 2))
        return sse if np.isfinite(sse) or not finite_sse else 99999.0

    coarse = []
    for p0 in starts:
        par, cost = nelder_mead(f, np.asarray(p0, dtype=np.float64), maxiter=300)
        coarse.append((cost, par))
    coarse.sort(key=lambda r: r[0])
    best_par, best_cost = None, np.inf
    for cost, par in coarse[:3]:
        for _ in range(refine_rounds):
            par, cost = nelder_mead(f, par, maxiter=refine_iter)
        if cost < best_cost:
            best_par, best_cost = par, cost
    if best_par is None:
        return None
    predicted = curve(best_par, t) * span + sf[0]
    if not np.all(np.isfinite(predicted)):
        return None
    return {"params": best_par, "predicted": predicted, "sf": sf,
            "sse": best_cost, "method": method}
