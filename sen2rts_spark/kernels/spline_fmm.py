"""Forsythe-Malcolm-Moler cubic spline, matching R ``stats::spline(method="fmm")``.

Re-implements the classic FMM end conditions (third derivatives at the ends
estimated from the exact cubic through the first/last four points), as used by
the reference's gap filler (/root/reference/R/fill_s2ts.R:120-125). R's
``spline`` drops NA pairs (regularize.values) — callers must pass valid knots.

Pure numpy; runs inside grouped_apply kernels, one call per series.
"""

from __future__ import annotations

import numpy as np

__all__ = ["fmm_spline_coef", "fmm_spline_eval", "spline_fmm"]


def fmm_spline_coef(x: np.ndarray, y: np.ndarray):
    """Compute piecewise-cubic coefficients (y, b, c, d) per knot.

    Evaluation: s(u) = y[i] + dx*(b[i] + dx*(c[i] + dx*d[i])), dx = u - x[i],
    i = right-most knot with x[i] <= u (clamped to [0, n-2] for extrapolation,
    matching R's fmm evaluation which extrapolates with the end cubics).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(x)
    if n < 2:
        return x, y, np.zeros(n), np.zeros(n), np.zeros(n)
    if n == 2:
        b = np.full(2, (y[1] - y[0]) / (x[1] - x[0]))
        return x, y, b, np.zeros(2), np.zeros(2)

    nm1 = n - 1
    b = np.zeros(n)
    c = np.zeros(n)
    d = np.zeros(n)

    # tridiagonal setup (FMM SPLINE subroutine)
    dx = np.diff(x)                     # d[i] = x[i+1]-x[i], i=0..n-2
    dvd = np.diff(y) / dx               # first divided differences
    # interior: b[i] = 2*(dx[i-1]+dx[i]); c[i] = dvd[i]-dvd[i-1]
    b[1:nm1] = 2.0 * (dx[:-1] + dx[1:])
    c[1:nm1] = dvd[1:] - dvd[:-1]

    # end conditions
    b[0] = -dx[0]
    b[nm1] = -dx[nm1 - 1]
    c[0] = 0.0
    c[nm1] = 0.0
    if n != 3:
        c[0] = c[2] / (x[3] - x[1]) - c[1] / (x[2] - x[0])
        c[nm1] = c[nm1 - 1] / (x[nm1] - x[nm1 - 3 + 1]) - c[nm1 - 2] / (x[nm1 - 1] - x[nm1 - 4 + 1])
        # (indices spelled out: c[n-2]/(x[n-1]-x[n-3]) - c[n-3]/(x[n-2]-x[n-4]))
        c[0] = c[0] * dx[0] ** 2 / (x[3] - x[0])
        c[nm1] = -c[nm1] * dx[nm1 - 1] ** 2 / (x[nm1] - x[nm1 - 3])

    # forward elimination
    for i in range(1, n):
        t = dx[i - 1] / b[i - 1]
        b[i] = b[i] - t * dx[i - 1]
        c[i] = c[i] - t * c[i - 1]

    # back substitution
    c[nm1] = c[nm1] / b[nm1]
    for i in range(n - 2, -1, -1):
        c[i] = (c[i] - dx[i] * c[i + 1]) / b[i]

    # compute polynomial coefficients
    b[nm1] = (y[nm1] - y[nm1 - 1]) / dx[nm1 - 1] + dx[nm1 - 1] * (c[nm1 - 1] + 2.0 * c[nm1])
    b[:nm1] = dvd - dx * (c[1:] + 2.0 * c[:nm1])
    d[:nm1] = (c[1:] - c[:nm1]) / dx
    c[:nm1] = 3.0 * c[:nm1]
    c[nm1] = 3.0 * c[nm1]
    d[nm1] = d[nm1 - 1]
    return x, y, b, c, d


def fmm_spline_eval(coefs, u: np.ndarray) -> np.ndarray:
    x, y, b, c, d = coefs
    u = np.asarray(u, dtype=np.float64)
    i = np.searchsorted(x, u, side="right") - 1
    i = np.clip(i, 0, len(x) - 1)
    dxu = u - x[i]
    return y[i] + dxu * (b[i] + dxu * (c[i] + dxu * d[i]))


def spline_fmm(x: np.ndarray, y: np.ndarray, xout: np.ndarray) -> np.ndarray:
    """Convenience: fit + evaluate, NA-dropping like R regularize.values."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    keep = ~(np.isnan(x) | np.isnan(y))
    x, y = x[keep], y[keep]
    order = np.argsort(x, kind="stable")
    return fmm_spline_eval(fmm_spline_coef(x[order], y[order]), xout)
