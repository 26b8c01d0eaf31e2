"""Independent references the benchmark checks the package against.

Fold arithmetic and the closed-form fits are re-derived here with numpy
from their definitions; none of it calls the package. For estimators
without a closed form (the UDF path), the reference fits the package's
estimator class on driver-side pandas slices of each fold, so the check
covers the distributed fan-out, shuffle and reassembly, not the solver.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd


# relative tolerance of prediction and score checks
TOL = 1e-6


class Mismatch(Exception):
    """An output differs from its reference."""


def expanding_folds(periods: Sequence, n_splits: int, gap: int = 0,
                    test_size: int = 1,
                    first_train_in_test: bool = False
                    ) -> List[Tuple[set, set]]:
    """Expanding-window ``(train, test)`` period sets over sorted unique
    periods: the last ``n_splits * test_size`` periods form consecutive
    test blocks; each train window is every earlier period except the
    ``gap`` just before the test block."""
    p = sorted(set(periods))
    first = len(p) - n_splits * test_size
    folds = []
    for i in range(n_splits):
        lo = first + i * test_size
        train = set(p[: lo - gap])
        test = set(p[lo: lo + test_size])
        if i == 0 and first_train_in_test:
            test |= train
        folds.append((train, test))
    return folds


def fit_linear(X: np.ndarray, y: np.ndarray, alpha: float = 0.0
               ) -> Callable[[np.ndarray], np.ndarray]:
    """Least squares (``alpha`` = 0) or ridge with an unpenalized
    intercept; returns the predictor."""
    Xd = np.hstack([np.ones((len(X), 1)), X])
    if alpha == 0.0:
        beta = np.linalg.lstsq(Xd, y, rcond=None)[0]
    else:
        pen = alpha * np.eye(Xd.shape[1])
        pen[0, 0] = 0.0
        beta = np.linalg.solve(Xd.T @ Xd + pen, Xd.T @ y)
    return lambda Z: np.hstack([np.ones((len(Z), 1)), Z]) @ beta


def fit_mean(X: np.ndarray, y: np.ndarray):
    m = float(np.mean(y))
    return lambda Z: np.full(len(Z), m)


def oof(df: pd.DataFrame, feats: List[str], folds, fit) -> pd.DataFrame:
    """Out-of-fold predictions ``(fold_id, row_id, pred)``: ``fit(X, y)``
    on each fold's train rows, applied to its test rows."""
    parts = []
    for k, (train, test) in enumerate(folds):
        tr = df[df.period.isin(train)]
        te = df[df.period.isin(test)]
        pred = fit(tr[feats].to_numpy(), tr.y.to_numpy())(te[feats].to_numpy())
        parts.append(pd.DataFrame({
            "fold_id": k, "row_id": te.row_id.to_numpy(), "pred": list(pred),
        }))
    return pd.concat(parts, ignore_index=True)


def scaled_ridge_oof(df: pd.DataFrame, feats: List[str], folds_scale,
                     folds_ridge, alpha: float) -> pd.DataFrame:
    """Two chained CV steps: a per-fold standard scaler (population std,
    zero std treated as 1) emits its out-of-fold rows, then per-fold
    ridge on the scaled rows."""
    parts = []
    for train, test in folds_scale:
        tr = df[df.period.isin(train)][feats].to_numpy()
        mu, sd = tr.mean(axis=0), tr.std(axis=0)
        sd[sd == 0.0] = 1.0
        te = df[df.period.isin(test)]
        z = pd.DataFrame((te[feats].to_numpy() - mu) / sd, columns=feats)
        z["row_id"], z["period"], z["y"] = (
            te.row_id.to_numpy(), te.period.to_numpy(), te.y.to_numpy()
        )
        parts.append(z)
    scaled = pd.concat(parts, ignore_index=True)
    return oof(scaled, feats, folds_ridge,
               lambda X, y: fit_linear(X, y, alpha))


def fold_mse(ref: pd.DataFrame, df: pd.DataFrame) -> Dict[int, float]:
    m = ref.merge(df[["row_id", "y"]], on="row_id")
    return {
        int(k): float(np.mean((g.y - g.pred) ** 2))
        for k, g in m.groupby("fold_id")
    }


def fold_log_loss(ref: pd.DataFrame, df: pd.DataFrame) -> Dict[int, float]:
    """Binary log loss per fold from ``pred`` = [P(0), P(1)] rows."""
    m = ref.merge(df[["row_id", "y"]], on="row_id")
    out = {}
    for k, g in m.groupby("fold_id"):
        p = np.clip(np.array([r[1] for r in g.pred]), 1e-15, 1 - 1e-15)
        yb = (g.y.to_numpy() == g.y.max()).astype(float)
        out[int(k)] = float(-np.mean(yb * np.log(p) + (1 - yb) * np.log(1 - p)))
    return out


def compare_preds(got: pd.DataFrame, ref: pd.DataFrame, what: str) -> None:
    """``got`` has ``fold_id``, ``row_id``, ``prediction``; it must hold
    exactly the reference's (fold, row) pairs with predictions within
    ``TOL`` (absolute, scaled by the reference's magnitude)."""
    g = got.sort_values(["fold_id", "row_id"]).reset_index(drop=True)
    r = ref.sort_values(["fold_id", "row_id"]).reset_index(drop=True)
    if len(g) != len(r) or not (
        (g.fold_id.to_numpy() == r.fold_id.to_numpy()).all()
        and (g.row_id.to_numpy() == r.row_id.to_numpy()).all()
    ):
        raise Mismatch(f"{what}: {len(g)} (fold, row) pairs, expected {len(r)}")
    gp = np.array([np.ravel(v) for v in g.prediction], dtype=float)
    rp = np.array([np.ravel(v) for v in r.pred], dtype=float)
    if gp.shape != rp.shape:
        raise Mismatch(f"{what}: prediction shape {gp.shape} != {rp.shape}")
    err = np.max(np.abs(gp - rp)) if len(rp) else 0.0
    if not err <= TOL * max(1.0, float(np.max(np.abs(rp), initial=0.0))):
        raise Mismatch(f"{what}: max prediction error {err:.3g}")


def compare_scores(got: Dict[int, float], ref: Dict[int, float],
                   what: str) -> None:
    if sorted(got) != sorted(ref):
        raise Mismatch(f"{what}: folds {sorted(got)} != {sorted(ref)}")
    for k, v in ref.items():
        if not abs(got[k] - v) <= TOL * max(1.0, abs(v)):
            raise Mismatch(f"{what}: fold {k} score {got[k]!r} != {v!r}")


# ----------------------------------------------------------------------
# near-duplicate detection
# ----------------------------------------------------------------------


# words per shingle, as ``doc_shingles`` builds them by default
SHINGLE_N = 3


def shingles(text: str) -> frozenset:
    """Distinct word ``SHINGLE_N``-grams of a lowercased,
    single-space-split text."""
    t = text.lower().split(" ")
    n = SHINGLE_N
    return frozenset(" ".join(t[i: i + n]) for i in range(len(t) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def min_labels(pairs: Sequence[Tuple[int, int]]) -> Dict[int, int]:
    """Each node of the pair graph mapped to its component's min id."""
    parent: Dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
