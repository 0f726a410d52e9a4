"""Weighted Whittaker-Eilers smoother (Eilers 2003, "A perfect smoother").

Solves (W + λ D'D) z = W y with D the 2nd-difference operator. The system
is pentadiagonal SPD, so one scipy-free banded Cholesky solves it in O(n)
for every length; its recurrences run on Python floats (ARCHITECTURE item
16). Complements the reference's SG filter per the north rule (SURVEY
§2.10 — not present in the reference, public-knowledge implementation).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["whittaker_smooth"]


def _build_banded(w: np.ndarray, lam: float) -> np.ndarray:
    """Lower-banded W + lam * D2'D2 (rows: diagonal, 1st and 2nd
    sub-diagonal, zero-padded at the end) for n >= 3.

    D2'D2 sums r'r over the n - 2 rows r = [1, -2, 1] of D2: each adds
    [1, 4, 1] to the diagonal, [-2, -2] to the first sub-diagonal and 1 to
    the second.
    """
    ones = np.ones(len(w) - 2)
    ab = np.zeros((3, len(w)))
    ab[0] = w + lam * np.convolve(ones, [1.0, 4.0, 1.0])
    ab[1, :-1] = lam * np.convolve(ones, [-2.0, -2.0])
    ab[2, :-2] = lam * ones
    return ab


def _cholesky_banded_solve(ab: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Solve A x = b for SPD A given lower-banded (bandwidth 2) as ``ab``.

    A = L L' with L's diagonal ``d`` and sub-diagonals ``e``, ``f``. The
    factor and forward substitution (L y = b) share one pass, then one
    back substitution (L' x = y). All three recurrences run on Python
    floats: indexing numpy arrays per element costs several times the
    arithmetic. ``** 2`` is C ``pow``, as on numpy scalars, where ``x * x``
    can round differently. A non-positive pivot (A singular, e.g. fewer
    than two positive weights) raises instead of returning inf/NaN.
    """
    d, e, f, y = [], [], [], []
    # e[j-1], f[j-1], f[j-2], y[j-1], y[j-2]; zero before the first row
    e1 = f1 = f2 = y1 = y2 = 0.0
    for a0, a1, a2, bj in zip(*ab.tolist(), b.tolist()):
        s = a0 - e1 ** 2 - f2 ** 2
        if s <= 0.0:
            raise ValueError("Whittaker system is not positive definite")
        dj = math.sqrt(s)
        yj = (bj - e1 * y1 - f2 * y2) / dj
        ej = (a1 - e1 * f1) / dj
        f2, f1, e1 = f1, a2 / dj, ej
        y2, y1 = y1, yj
        d.append(dj)
        e.append(ej)
        f.append(f1)
        y.append(yj)
    x = []
    x1 = x2 = 0.0                       # x[i+1], x[i+2]
    for dj, ej, fj, yj in zip(reversed(d), reversed(e), reversed(f),
                              reversed(y)):
        x2, x1 = x1, (yj - ej * x1 - fj * x2) / dj
        x.append(x1)
    return np.array(x[::-1])


def whittaker_smooth(y: np.ndarray, w: np.ndarray | None = None,
                     lam: float = 100.0) -> np.ndarray:
    """Smooth y with weights w (0 = missing) and roughness penalty lam."""
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    if n == 0:
        return y.copy()
    if w is None:
        w = np.ones(n)
    w = np.asarray(w, dtype=np.float64).copy()
    nan = np.isnan(y)
    w[nan] = 0.0
    y = np.where(nan, 0.0, y)
    if n < 3 or not np.any(w > 0):
        return np.where(nan, np.nan, y)
    return _cholesky_banded_solve(_build_banded(w, lam), w * y)
