"""Weighted Savitzky-Golay filter for irregularly-spaced data.

Vectorized (numpy-batched across windows) re-implementation of the
reference's ``w_savgol()`` (/root/reference/R/w_savgol.R:23-182): per output
point, a weighted least-squares polynomial is fitted over a window of
``window`` points centered on it; the smoothed value is the constant
coefficient. Series borders are extrapolated with the polynomial of the
first / penultimate full window (the penultimate-window choice for the right
border replicates w_savgol.R:149 exactly, where ``last_coeffs`` is stored at
``i == length(x) - half_window - 1`` while combining the last ``window`` y
values).

This runs inside the ``smooth_series`` kernel (one call per series) — no
per-row Python. A series shorter than its window never reaches it:
``smooth_series`` returns it all-NaN first, so ``n < window`` here is a
caller error like the others.
"""

from __future__ import annotations

import numpy as np

__all__ = ["w_savgol"]


def w_savgol(y: np.ndarray, x: np.ndarray, q: np.ndarray | None = None,
             window: int = 7, polynom: int = 3) -> np.ndarray:
    """Smooth ``y`` sampled at ``x`` with per-point weights ``q``.

    Parameters mirror w_savgol.R; ``window`` must be odd and ``<= len(x)``,
    ``polynom < window``.
    """
    y = np.asarray(y, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    n = len(y)
    if q is None:
        q = np.ones(n)
    q = np.asarray(q, dtype=np.float64)
    if window % 2 == 0:
        raise ValueError("window must be odd")
    if n < window:
        raise ValueError("data size must be >= window size")
    if polynom >= window:
        raise ValueError("polynom must be < window")

    h = window // 2
    p = polynom + 1  # number of coefficients
    m = n - 2 * h    # number of interior (full-window) points

    # Stack windows: rows i = interior center index (h .. n-h-1)
    idx = np.arange(window)[None, :] + np.arange(m)[:, None]   # (m, w)
    T = x[idx] - x[h : n - h][:, None]                          # (m, w) local x
    W = q[idx]                                                  # (m, w) weights
    W = W * window / W.sum(axis=1, keepdims=True)               # normalise (w_savgol.R:98)
    Y = y[idx]                                                  # (m, w)

    # Vandermonde basis per window: V[m, w, p]
    V = T[:, :, None] ** np.arange(p)[None, None, :]

    # Normal equations AA = A^T W A (m,p,p); rhs for c0 only needs full solve
    AA = np.einsum("mwp,mw,mwq->mpq", V, W, V)
    # B = A^T W  applied to y: b[m,p] = sum_w V[m,w,p] * W[m,w] * Y[m,w]
    b = np.einsum("mwp,mw,mw->mp", V, W, Y)

    coeffs = _solve_batched(AA, b)  # (m, p) polynomial coefficients per window

    out = np.empty(n, dtype=np.float64)
    out[h : n - h] = coeffs[:, 0]

    # Left border: polynomial of the FIRST window, fitted to y[0:window]
    # (w_savgol.R:142-147 — at i == half_window+1 the window IS y[1..w]).
    first_coeffs = coeffs[0]
    t_left = x[:h] - x[h]
    out[:h] = _polyval_asc(first_coeffs, t_left)

    # Right border quirk (w_savgol.R:149-156): coefficients come from the
    # window centered at index n-h-2 (the PENULTIMATE interior point), but are
    # combined with the LAST ``window`` y values y[n-w:n].
    if m >= 2:
        c_idx = m - 2  # center n-h-2
        # Rebuild the projection matrix for that window and apply to y[n-w:]
        AAc = AA[c_idx]
        Vc = V[c_idx]          # (w, p)
        Wc = W[c_idx]          # (w,)
        proj = _solve_mat(AAc, (Vc * Wc[:, None]).T)  # (p, w) = AA^-1 A^T W
        last_coeffs = proj @ y[n - window :]
    else:
        last_coeffs = coeffs[-1]
    t_right = x[n - h :] - x[n - h - 1]
    out[n - h :] = _polyval_asc(last_coeffs, t_right)
    return out


def _polyval_asc(c: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Evaluate polynomial with ascending coefficients c0 + c1 t + ..."""
    out = np.zeros_like(t, dtype=np.float64)
    ti = np.ones_like(t, dtype=np.float64)
    for ck in c:
        out += ck * ti
        ti = ti * t
    return out


def _solve_batched(AA: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batched solve with per-window pseudo-inverse fallback (MASS::ginv
    equivalent, w_savgol.R:115-129)."""
    try:
        return np.linalg.solve(AA, b[..., None])[..., 0]
    except np.linalg.LinAlgError:
        out = np.empty(b.shape, dtype=np.float64)
        for i in range(AA.shape[0]):
            try:
                out[i] = np.linalg.solve(AA[i], b[i])
            except np.linalg.LinAlgError:
                out[i] = np.linalg.pinv(AA[i]) @ b[i]
        return out


def _solve_mat(AA: np.ndarray, B: np.ndarray) -> np.ndarray:
    try:
        return np.linalg.solve(AA, B)
    except np.linalg.LinAlgError:
        return np.linalg.pinv(AA) @ B
