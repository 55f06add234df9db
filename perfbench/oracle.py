"""numpy reference solutions for the estimator checks.

Conventions follow ``hdfe_spark.operators.estimate``'s documented
variance menu: homoskedastic ``s² (X'X)⁻¹`` with dof ``n - k_total``;
HC1 with ``n / (n - k_total)``; one-way cluster sandwich with no
small-sample factor; two-way CGM ``M_a + M_b - M_ab``. For FE plans
the slopes come from the demeaned design and ``k_total`` counts the
absorbed levels: ``L`` for one FE, ``L1 + L2 - 1`` for two.
"""

from __future__ import annotations

import numpy as np


def _codes(keys) -> tuple[np.ndarray, int]:
    """Dense group codes for one key array or a tuple of key arrays."""
    if isinstance(keys, tuple):
        stacked = np.stack(keys, axis=1)
        _, codes = np.unique(stacked, axis=0, return_inverse=True)
    else:
        _, codes = np.unique(keys, return_inverse=True)
    codes = codes.reshape(-1)
    return codes, int(codes.max()) + 1


def group_means(M: np.ndarray, codes: np.ndarray, n_groups: int) -> np.ndarray:
    counts = np.bincount(codes, minlength=n_groups)
    sums = np.stack(
        [np.bincount(codes, weights=M[:, j], minlength=n_groups) for j in range(M.shape[1])],
        axis=1,
    )
    return (sums / counts[:, None])[codes]


AP_TOL = 1e-13  # relative update at which alternating projections stop
AP_MAX_ITER = 5000


def absorb(M: np.ndarray, fes: list) -> np.ndarray:
    """Remove the FEs in ``fes`` from every column of ``M``: one FE is
    exact demeaning, two alternate until the update is below ``AP_TOL``."""
    coded = [_codes(f) for f in fes]
    out = M - group_means(M, *coded[0])
    if len(coded) == 1:
        return out
    for _ in range(AP_MAX_ITER):
        prev = out
        for c in coded:
            out = out - group_means(out, *c)
        if np.max(np.abs(out - prev)) < AP_TOL * max(1.0, np.max(np.abs(out))):
            return out
    raise RuntimeError("alternating projections did not converge")


def _meat(X: np.ndarray, e: np.ndarray, keys) -> np.ndarray:
    codes, g = _codes(keys)
    U = np.stack(
        [np.bincount(codes, weights=X[:, j] * e, minlength=g) for j in range(X.shape[1])],
        axis=1,
    )
    return U.T @ U


def fit(
    y: np.ndarray,
    X: np.ndarray,
    fes: list | None = None,
    variance: str | None = None,
    cluster: list | None = None,
) -> dict:
    """Slopes (and their covariance) of ``y`` on ``X`` after absorbing
    ``fes``. ``variance`` is None, ``"homosked"``, ``"hc1"`` or
    ``"cluster"`` (one or two arrays in ``cluster``)."""
    n, k = X.shape
    fes = fes or []
    if fes:
        Z = absorb(np.column_stack([y, X]), fes)
        y_t, X_t = Z[:, 0], Z[:, 1:]
        levels = [_codes(f)[1] for f in fes]
        k_abs = levels[0] + sum(L - 1 for L in levels[1:])
    else:
        y_t, X_t, k_abs = y, X, 0
    S = X_t.T @ X_t
    b = np.linalg.solve(S, X_t.T @ y_t)
    e = y_t - X_t @ b
    out = {"slopes": b, "rss": float(e @ e), "n": n}
    if variance is None:
        return out
    S_inv = np.linalg.inv(S)
    k_total = k + k_abs
    if variance == "homosked":
        V = S_inv * (out["rss"] / (n - k_total))
    elif variance == "hc1":
        V = S_inv @ (X_t.T @ (X_t * (e**2)[:, None])) @ S_inv * (n / (n - k_total))
    elif len(cluster) == 1:
        V = S_inv @ _meat(X_t, e, cluster[0]) @ S_inv
    else:
        a, c = cluster
        M = _meat(X_t, e, a) + _meat(X_t, e, c) - _meat(X_t, e, (a, c))
        V = S_inv @ M @ S_inv
    out["V"] = V
    return out
