"""Estimator protocol + a pure-numpy estimator zoo.

The reference's UDF surface is the sklearn estimator protocol: objects with
``get_params/set_params/fit/predict/predict_proba/transform/score``
(/root/reference/panelsplit/pipeline.py:370-376, utils/_response.py:13-73).
sklearn itself is an *optional* dependency of this engine — any object
honouring the protocol works (sklearn estimators do, when installed). The
estimators below are small, deterministic, picklable numpy implementations
used by the engine's own tests and examples; they run *inside executor
tasks* on Arrow-delivered pandas batches, so they must be cheap to pickle
and free of SparkSession references.
"""

from __future__ import annotations

import inspect
from typing import Any, Dict, Optional

import numpy as np

__all__ = [
    "clone",
    "supports_sample_weight",
    "BaseEstimator",
    "MeanRegressor",
    "LinearRegression",
    "Ridge",
    "LogisticRegression",
    "PriorClassifier",
    "StandardScaler",
    "IdentityTransformer",
    "FirstColumnRegressor",
]


try:  # sklearn is optional; resolved once, not per clone() call
    from sklearn.base import BaseEstimator as _SkEstimator, clone as _sk_clone
except ImportError:
    _SkEstimator = _sk_clone = None


def clone(estimator: Any) -> Any:
    """Fresh unfitted copy with the same hyper-parameters.

    Mirrors ``sklearn.base.clone`` semantics (used by the reference at
    application.py:85): construct a new instance from ``get_params()``.
    sklearn ``BaseEstimator``s go to sklearn's own clone when sklearn is
    installed, and its errors propagate.
    """
    if _SkEstimator is not None and isinstance(estimator, _SkEstimator):
        return _sk_clone(estimator)
    if hasattr(estimator, "get_params"):
        params = estimator.get_params()
        return type(estimator)(**params)
    raise TypeError(
        f"Cannot clone object of type {type(estimator)}: it does not "
        "implement get_params()."
    )


def supports_sample_weight(estimator: Any) -> bool:
    """Signature-sniff for ``sample_weight`` support (reference
    utils/validation.py:115-154)."""
    try:
        sig = inspect.signature(estimator.fit)
    except (TypeError, ValueError):
        return False
    return "sample_weight" in sig.parameters


class BaseEstimator:
    """get_params/set_params via __init__ signature introspection —
    the minimal sklearn-protocol base."""

    def get_params(self, deep: bool = True) -> Dict[str, Any]:
        out = {}
        for name in inspect.signature(type(self).__init__).parameters:
            if name in ("self", "args", "kwargs"):
                continue
            out[name] = getattr(self, name)
        return out

    def set_params(self, **params):
        valid = self.get_params()
        for k, v in params.items():
            if k not in valid:
                raise ValueError(
                    f"Invalid parameter {k!r} for estimator {self}."
                )
            setattr(self, k, v)
        return self

    def __repr__(self) -> str:
        params = ", ".join(f"{k}={v!r}" for k, v in self.get_params().items())
        return f"{type(self).__name__}({params})"


def _as_2d(X) -> np.ndarray:
    a = np.asarray(X, dtype=np.float64)
    if a.ndim == 1:
        a = a.reshape(-1, 1)
    return a


def _as_1d(y) -> np.ndarray:
    return np.asarray(y, dtype=np.float64).reshape(-1)


def _check_finite_X(X: np.ndarray) -> None:
    """sklearn's rule for linear fits: a NaN or ±Inf feature value is an
    input error, not an untyped ``LinAlgError`` from the solver."""
    if not np.isfinite(X).all():
        raise ValueError("Input X contains NaN or infinity.")


class MeanRegressor(BaseEstimator):
    """Predicts the train-set mean of y. SQL-expressible closed form —
    the engine's primary differential-oracle estimator."""

    def __init__(self):
        self.mean_: Optional[float] = None

    def fit(self, X, y, sample_weight=None):
        y = _as_1d(y)
        if sample_weight is not None:
            w = _as_1d(sample_weight)
            self.mean_ = float(np.sum(w * y) / np.sum(w))
        else:
            self.mean_ = float(np.sum(y) / len(y))
        return self

    def predict(self, X):
        n = len(X)
        return np.full(n, self.mean_, dtype=np.float64)


class LinearRegression(BaseEstimator):
    """OLS via normal equations / lstsq. With a single feature the closed
    form matches SQL ``regr_slope``/``regr_intercept`` — oracle-able."""

    def __init__(self, fit_intercept: bool = True):
        self.fit_intercept = fit_intercept
        self.coef_: Optional[np.ndarray] = None
        self.intercept_: float = 0.0

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        _check_finite_X(X)
        y = _as_1d(y)
        if self.fit_intercept:
            X = np.hstack([np.ones((len(X), 1)), X])
        if sample_weight is not None:
            w = np.sqrt(_as_1d(sample_weight))
            X = X * w[:, None]
            y = y * w
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        if self.fit_intercept:
            self.intercept_ = float(beta[0])
            self.coef_ = beta[1:]
        else:
            self.intercept_ = 0.0
            self.coef_ = beta
        return self

    def predict(self, X):
        X = _as_2d(X)
        return X @ self.coef_ + self.intercept_


class Ridge(LinearRegression):
    def __init__(self, alpha: float = 1.0, fit_intercept: bool = True):
        super().__init__(fit_intercept=fit_intercept)
        self.alpha = alpha

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        _check_finite_X(X)
        y = _as_1d(y)
        if sample_weight is not None:
            w = np.sqrt(_as_1d(sample_weight))
            X = X * w[:, None]
            y = y * w
        if self.fit_intercept:
            Xd = np.hstack([np.ones((len(X), 1)), X])
        else:
            Xd = X
        d = Xd.shape[1]
        pen = self.alpha * np.eye(d)
        if self.fit_intercept:
            pen[0, 0] = 0.0  # don't penalize the intercept
        beta = np.linalg.solve(Xd.T @ Xd + pen, Xd.T @ y)
        if self.fit_intercept:
            self.intercept_ = float(beta[0])
            self.coef_ = beta[1:]
        else:
            self.intercept_ = 0.0
            self.coef_ = beta
        return self


class LogisticRegression(BaseEstimator):
    """Deterministic full-batch Newton-ish logistic regression.

    Binary targets use one IRLS solve; >2 classes fit one-vs-rest (one
    binary solve per class, probabilities row-normalized), keeping the
    sklearn ``classes_`` / ``predict_proba`` / ``decision_function``
    contract (reference handles multiclass through sklearn)."""

    def __init__(self, max_iter: int = 100, tol: float = 1e-8,
                 l2: float = 1e-6):
        self.max_iter = max_iter
        self.tol = tol
        self.l2 = l2
        self.coef_: Optional[np.ndarray] = None
        self.intercept_: Any = 0.0
        self.classes_: Optional[np.ndarray] = None

    def _solve_binary(self, Xd, yb, w):
        beta = np.zeros(Xd.shape[1])
        for _ in range(self.max_iter):
            z = Xd @ beta
            p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
            g = Xd.T @ (w * (p - yb)) + self.l2 * beta
            s = np.maximum(w * p * (1 - p), 1e-10)
            H = (Xd * s[:, None]).T @ Xd + self.l2 * np.eye(Xd.shape[1])
            step = np.linalg.solve(H, g)
            beta -= step
            if np.max(np.abs(step)) < self.tol:
                break
        return beta

    def fit(self, X, y, sample_weight=None):
        X = _as_2d(X)
        yraw = np.asarray(y)
        self.classes_ = np.unique(yraw)
        if len(self.classes_) < 2:
            raise ValueError(
                "LogisticRegression needs at least 2 classes in y"
            )
        w = (
            _as_1d(sample_weight)
            if sample_weight is not None
            else np.ones(len(yraw))
        )
        Xd = np.hstack([np.ones((len(X), 1)), X])
        if len(self.classes_) == 2:
            yb = (yraw == self.classes_[1]).astype(np.float64)
            beta = self._solve_binary(Xd, yb, w)
            self.intercept_ = float(beta[0])
            self.coef_ = beta[1:]
        else:  # one-vs-rest: one binary solve per class
            betas = np.stack(
                [
                    self._solve_binary(
                        Xd, (yraw == c).astype(np.float64), w
                    )
                    for c in self.classes_
                ]
            )
            self.intercept_ = betas[:, 0]
            self.coef_ = betas[:, 1:]
        return self

    def decision_function(self, X):
        """Binary: 1-D logit of the greater class; multiclass: (n, C)
        per-class OvR logits."""
        X = _as_2d(X)
        if len(self.classes_) == 2:
            return X @ self.coef_ + self.intercept_
        return X @ np.asarray(self.coef_).T + np.asarray(self.intercept_)

    def predict_proba(self, X):
        z = self.decision_function(X)
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        if len(self.classes_) == 2:
            return np.column_stack([1 - p, p])
        denom = p.sum(axis=1, keepdims=True)
        denom[denom == 0.0] = 1.0
        return p / denom

    def predict_log_proba(self, X):
        return np.log(self.predict_proba(X))

    def predict(self, X):
        proba = self.predict_proba(X)
        return self.classes_[np.argmax(proba, axis=1)]


class PriorClassifier(BaseEstimator):
    """Predicts the train-set majority class (min label on ties);
    ``predict_proba`` = train class rates. Closed-form and
    SQL-expressible — the engine's classification differential-oracle
    estimator (the categorical analog of MeanRegressor)."""

    def __init__(self):
        self.classes_: Optional[np.ndarray] = None
        self.rates_: Optional[np.ndarray] = None
        self.majority_: Any = None

    def fit(self, X, y, sample_weight=None):
        yraw = np.asarray(y)
        self.classes_, counts = np.unique(yraw, return_counts=True)
        if sample_weight is not None:
            w = _as_1d(sample_weight)
            counts = np.array(
                [w[yraw == c].sum() for c in self.classes_]
            )
        self.rates_ = counts / counts.sum()
        # np.argmax takes the FIRST max -> min label on ties (classes_
        # is sorted), reproducible in SQL as (count DESC, class ASC)
        self.majority_ = self.classes_[int(np.argmax(counts))]
        return self

    def predict(self, X):
        return np.full(len(X), self.majority_)

    def predict_proba(self, X):
        return np.tile(self.rates_, (len(X), 1))


class StandardScaler(BaseEstimator):
    """(x - mean) / std transformer; population std like sklearn."""

    def __init__(self, with_mean: bool = True, with_std: bool = True):
        self.with_mean = with_mean
        self.with_std = with_std
        self.mean_: Optional[np.ndarray] = None
        self.scale_: Optional[np.ndarray] = None

    def fit(self, X, y=None):
        X = _as_2d(X)
        self.mean_ = X.mean(axis=0) if self.with_mean else np.zeros(X.shape[1])
        if self.with_std:
            s = X.std(axis=0)
            s[s == 0.0] = 1.0
            self.scale_ = s
        else:
            self.scale_ = np.ones(X.shape[1])
        return self

    def transform(self, X):
        X = _as_2d(X)
        return (X - self.mean_) / self.scale_

    def fit_transform(self, X, y=None):
        return self.fit(X, y).transform(X)


class IdentityTransformer(BaseEstimator):
    def fit(self, X, y=None):
        return self

    def transform(self, X):
        return _as_2d(X)


class FirstColumnRegressor(BaseEstimator):
    """predict(X) = X[:, 0]; pins order-restoration invariants
    (reference tests/test_pipeline.py:224-256)."""

    def fit(self, X, y=None, sample_weight=None):
        return self

    def predict(self, X):
        return _as_2d(X)[:, 0]
