"""Sufficient-statistics fast path for closed-form estimators.

The generic per-fold fit ships every train row of a fold into one
``applyInPandas`` task (reference semantics, application.py:54-139) —
correct, but a single task must hold a whole fold, which is the
documented skew ceiling at scale (SURVEY §4.2). For estimators whose fit
is a function of second-order moments — OLS / ridge / mean / scaler —
the fold fit collapses to ONE distributed aggregation over the raw rows,
grouped by period instead of by fold:

    groupBy(period[, snapshot]).agg(Σw, Σwy, Σwy², Σwxᵢ, Σwxᵢy, Σwxᵢxⱼ, flags)

Fold moments are sums of period moments, so the driver gets every
fold's moments from one numpy product — a fold × period 0/1 train
membership matrix times that per-period cube, with a NaN or ±Inf period
moment kept out of the folds that do not train on it — followed by an
O(d³) solve. No row is fanned out to its folds before aggregating, and
the cube serves every splitter, estimator and null rule on the same
frame and columns; only a splitter's scan range or snapshot values,
which bound the rows it aggregates, make it a separate cube.
Prediction needs no Python either: per-fold coefficients are a literal
array indexed by ``fold_id``, so the whole OOF pass stays inside
whole-stage codegen.

Every wide expression here is SQL text parsed JVM-side in one call
(see ``functions/sql.py``): the same trees and plans as the Column API,
without its py4j round trip per node.

A CV StandardScaler step is affine within each fold, so the moments of
the frame it outputs follow from the moments of its input: a cube can
be read through a view (a chain of :class:`AffineStep`), which gives
each cube row one affine map per scaler fold whose OOF group holds its
period. A scaler → linear pipeline therefore fits every step from the
raw frame's one cube, without building the scaler's OOF frame (see
``docs/SCALE_NOTES.md``, "Moment propagation").

The same cube scores the fits: each fold's test rows have moments
from the test-membership matrix, and a closed-form predictor's squared
error over them is a quadratic form in those moments. mse, rmse and r2
of a candidate grid, or of a prediction frame this module built, come
without a pass over the rows (see ``docs/SCALE_NOTES.md``, "Scores from
moments").

The produced models are ordinary estimator objects (coef_/intercept_/
mean_ set), indistinguishable from pandas-path fits to downstream code.
"""

from __future__ import annotations

import json
import math
import threading
import weakref
from dataclasses import dataclass
from typing import Any, Dict, List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..estimators import (
    LinearRegression,
    MeanRegressor,
    Ridge,
    StandardScaler,
    clone,
)
from ..functions.sql import sql_ident, sql_literal
from ..plans.fold_spec import FoldSpec

__all__ = [
    "AffineStep", "scaler_view_step", "suffstats_fit",
    "linear_predict_frame", "predicted_fold_scores", "sweep_scores",
    "FoldFitError", "logistic_irls", "glm_irls", "huber_irls",
]

# Per-period moment cubes are a function of (data, columns, period and
# snapshot column, and the splitter's train scope: its raw scan range
# and snapshot values, when set) — NOT of the folds, the estimator's
# null rule or its hyper-parameters. OLS, a ridge grid and a scaler
# on several splitters of one frame therefore need exactly ONE distributed
# aggregate: every fit resolves from the cached cube with a numpy
# product and an O(d³) driver solve. Weak keying on the frame scopes
# cache lifetime to it; the lock makes concurrent candidate threads
# (BaseSearch n_jobs) compute the aggregate once and share it. The same
# memo holds each frame's distinct periods (``cross_validation.
# distinct_periods``), so ``release_all_pinned`` clears both at once.
_MOMENT_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_CACHE_LOCK = threading.Lock()


def _memo(df: DataFrame, key: Any, compute) -> Any:
    """``compute()`` once per frame and ``key``, under the lock."""
    with _CACHE_LOCK:
        per_df = _MOMENT_CACHE.setdefault(df, {})
        if key not in per_df:
            per_df[key] = compute()
        return per_df[key]


def _recall(df: DataFrame, key: Any) -> Any:
    """What :func:`_memo` holds for ``df`` and ``key``, else ``None``."""
    with _CACHE_LOCK:
        return _MOMENT_CACHE.get(df, {}).get(key)


#: fast path covers at most this many features (d² aggregate columns)
_MAX_FEATURES = 16


def _eligible_fit(estimator: Any) -> bool:
    return type(estimator) in (
        MeanRegressor,
        LinearRegression,
        Ridge,
        StandardScaler,
    )


def _null_rule(estimator: Any) -> str:
    """Which columns' NULLs poison this estimator's numpy fit:
    MeanRegressor only looks at y; linear models at X and y; the scaler
    only at X. A NULL weight poisons every fit."""
    t = type(estimator)
    if t is MeanRegressor:
        return "y"
    if t is StandardScaler:
        return "x"
    return "xy"


@dataclass
class _MomentCube:
    """Collected per-(period[, snapshot]) moments: ``sums[r, k]`` is
    moment ``cols[k]`` over the rows of group ``r``; ``nulls[r]`` holds
    0/1 any-NULL flags for (x, y, weight)."""

    periods: List[Any]
    snapshots: Optional[List[Any]]
    cols: List[str]
    sums: np.ndarray
    nulls: np.ndarray


def _fold_moments(
    df: DataFrame,
    period_col: str,
    snapshot_col: Optional[str],
    feats: List[str],
    y_col: str,
    sample_weight_col: Optional[str],
    drop_na_in_y: bool,
    where: Optional[Column] = None,
) -> _MomentCube:
    """One grouped aggregate over the raw rows that pass ``where``: per
    (period[, snapshot]) Σw, Σwy, Σwy², Σwxᵢ, Σwxᵢy, Σwxᵢxⱼ plus separate
    any-NULL flags for x, y and the weight, collected to a driver-small
    cube."""
    src = df if where is None else df.where(where)
    if drop_na_in_y:
        src = src.where(f"{sql_ident(y_col)} IS NOT NULL")
    w, w_null = "1.0D", "false"
    if sample_weight_col is not None:
        sw = sql_ident(sample_weight_col)
        w, w_null = f"CAST({sw} AS DOUBLE)", f"{sw} IS NULL"
    y = f"CAST({sql_ident(y_col)} AS DOUBLE)"
    xs = [f"CAST({sql_ident(c)} AS DOUBLE)" for c in feats]
    # The pandas path converts Spark NULLs to NaN, which poisons numpy
    # sums; Spark aggregates SKIP nulls, so the cube carries explicit
    # any-null flags and each fit reproduces the poisoning for the
    # columns its estimator looks at. The OR chain is parenthesised
    # left-deep: the SQL parser would balance a bare chain.
    x_null = "false"
    for c in feats:
        x_null = f"({x_null} OR {sql_ident(c)} IS NULL)"
    sums = {"n": w, "sy": f"{w} * {y}"}
    for i, xi in enumerate(xs):
        sums[f"sx_{i}"] = f"{w} * {xi}"
        sums[f"sxy_{i}"] = f"{w} * {xi} * {y}"
        for j in range(i, len(xs)):
            sums[f"sxx_{i}_{j}"] = f"{w} * {xi} * {xs[j]}"
    sums["syy"] = f"{w} * {y} * {y}"
    cols = list(sums)
    flags = ["__null_x", "__null_y", "__null_w"]
    aggs = [f"sum({t}) AS {c}" for c, t in sums.items()] + [
        f"max(CASE WHEN {cond} THEN 1.0D ELSE 0.0D END) AS {name}"
        for name, cond in zip(flags, (x_null, f"{y} IS NULL", w_null))
    ]
    keys = [F.col(period_col).alias("__p")]
    if snapshot_col is not None:
        keys.append(F.col(snapshot_col).alias("__s"))
    rows = src.groupBy(*keys).agg(*map(F.expr, aggs)).collect()
    # an all-NULL sum comes back NULL; its flag poisons the fits that
    # read it, so 0 is the right additive identity (a NaN sum stays NaN)
    grid = np.array(
        [[0.0 if r[c] is None else r[c] for c in cols + flags]
         for r in rows],
        dtype=float,
    ).reshape(len(rows), len(cols) + len(flags))
    return _MomentCube(
        periods=[r["__p"] for r in rows],
        snapshots=(
            [r["__s"] for r in rows] if snapshot_col is not None else None
        ),
        cols=cols,
        sums=grid[:, : len(cols)],
        nulls=grid[:, len(cols):],
    )


@dataclass(frozen=True)
class AffineStep:
    """A fitted CV StandardScaler step as the frame it outputs sees its
    input: each row of a period in fold ``k``'s ``role`` group appears
    once per such fold, mapped to ``(x − mean[k]) / scale[k]``."""

    spec: FoldSpec
    period_col: str
    role: str
    mean: np.ndarray  # fold × feature
    scale: np.ndarray  # fold × feature


def _plain_splitter(cv) -> bool:
    """Fold membership is a function of the period alone: no snapshot
    column and no scan mapping."""
    return cv.snapshot_col is None and not (cv.scan_col and cv.period_bounds)


def scaler_view_step(
    models: List[Any], cv, role: str
) -> Optional[AffineStep]:
    """The :class:`AffineStep` of CV scaler ``models`` fitted under
    ``cv`` whose ``role`` group flows on, or ``None`` when a view cannot
    stand for their OOF frame (another model type, or a splitter whose
    membership is not a function of the period)."""
    if not _plain_splitter(cv) or any(
        type(m) is not StandardScaler or m.mean_ is None for m in models
    ):
        return None
    return AffineStep(
        spec=cv.spec,
        period_col=cv.period_col,
        role=role,
        mean=np.array([np.asarray(m.mean_, float) for m in models]),
        scale=np.array([np.asarray(m.scale_, float) for m in models]),
    )


def _affine_cube(
    cube: _MomentCube, view: Sequence[AffineStep], d: int
) -> Optional[_MomentCube]:
    """The cube of the frame the scaler chain ``view`` outputs, from the
    cube of its input. Each cube row carries a list of affine maps
    ``x ↦ (x − μ) / s``, starting at the identity; a step replaces every
    map by its composition with each fold whose group holds the row's
    period (``μ + s·μₖ``, ``s·sₖ``), so a period in no group drops out,
    flags included. Per map, with n and Σy unchanged:

        Σz   = (Σx − n·μ) / s
        Σzy  = (Σxy − μ·Σy) / s
        Σzzᵀ = (Σxxᵀ − Σx μᵀ − μ Σxᵀ + n μμᵀ) / (s sᵀ)

    and a row's moments are the sum over its maps. A period with a NULL
    x keeps its flag, which poisons every fit that reads its x sums.
    ``None`` when a moment or a scaler parameter the maps read is not
    finite: Inf − Inf here differs from summing the scaled rows."""
    rows = np.arange(len(cube.periods))
    mu, s = np.zeros((len(rows), d)), np.ones((len(rows), d))
    for step in view:
        member = step.spec.member_matrix(cube.periods, role=step.role)
        fold, pair = np.nonzero(member[:, rows])
        rows = rows[pair]
        mu = mu[pair] + s[pair] * step.mean[fold]
        s = s[pair] * step.scale[fold]
    base = cube.sums[rows]
    if not (np.isfinite(base).all() and np.isfinite(mu).all()
            and np.isfinite(s).all()):
        return None
    at = {c: k for k, c in enumerate(cube.cols)}
    iu, ju = np.triu_indices(d)
    x_at = [at[f"sx_{i}"] for i in range(d)]
    xy_at = [at[f"sxy_{i}"] for i in range(d)]
    xx_at = [at[f"sxx_{i}_{j}"] for i, j in zip(iu, ju)]
    n, sy, sx = base[:, [at["n"]]], base[:, [at["sy"]]], base[:, x_at]
    out = base.copy()
    out[:, x_at] = (sx - n * mu) / s
    out[:, xy_at] = (base[:, xy_at] - mu * sy) / s
    out[:, xx_at] = (
        base[:, xx_at] - sx[:, iu] * mu[:, ju] - mu[:, iu] * sx[:, ju]
        + n * mu[:, iu] * mu[:, ju]
    ) / (s[:, iu] * s[:, ju])
    if not np.isfinite(out).all():
        return None
    sums = np.zeros_like(cube.sums)
    np.add.at(sums, rows, out)
    keep = np.unique(rows)
    return _MomentCube(
        periods=[cube.periods[r] for r in keep],
        snapshots=None,
        cols=cube.cols,
        sums=sums[keep],
        nulls=cube.nulls[keep],
    )


def _masked_sum(member: np.ndarray, values: np.ndarray) -> np.ndarray:
    """``member @ values`` for a 0/1 ``member`` matrix, except that a 0
    leaves the row out instead of multiplying it by 0 (0·NaN and 0·Inf
    are NaN): a NaN or ±Inf moment reaches only the folds whose train
    set holds its row, with IEEE sum semantics there."""
    finite = np.isfinite(values)
    out = member @ np.where(finite, values, 0.0)
    if finite.all():
        return out
    pos = member @ (values == np.inf).astype(float) > 0
    neg = member @ (values == -np.inf).astype(float) > 0
    nan = member @ np.isnan(values).astype(float) > 0
    out[pos] = np.inf
    out[neg] = -np.inf
    out[nan | (pos & neg)] = np.nan
    return out


def _moment_rows(
    df: DataFrame,
    cv,
    feats: List[str],
    y_col: str,
    sample_weight_col: Optional[str],
    drop_na_in_y: bool,
    null_rule: str,
    view: Sequence[AffineStep] = (),
    role: str = "train",
    warm_only: bool = False,
) -> Optional[dict]:
    """Per-fold moment rows for ``cv``'s ``role`` sets, from the frame's
    memoised cube: ``{fold_id: {"n", "sy", "sx_i", ..., "has_null"}}``,
    folds without rows in that role left out. The cube covers only the
    rows inside the splitter's train scope (scan range, snapshot
    values), which is part of the memo key, so the test sets of a
    splitter that is not plain are not in it. A non-empty ``view``
    reads the cube through that scaler chain first; ``None`` when it
    cannot, or when ``warm_only`` and the cube is not memoised yet."""
    where, scope = cv._train_scope(df)
    key = (
        tuple(feats), y_col, sample_weight_col, bool(drop_na_in_y),
        cv.period_col, cv.snapshot_col, scope,
    )
    if warm_only and _recall(df, key) is None:
        return None
    cube = _memo(df, key, lambda: _fold_moments(
        df, cv.period_col, cv.snapshot_col, feats, y_col,
        sample_weight_col, drop_na_in_y, where,
    ))
    if view:
        cube = _affine_cube(cube, view, len(feats))
        if cube is None:
            return None
    member = cv.spec.member_matrix(cube.periods, cube.snapshots, role=role)
    sums = _masked_sum(member, cube.sums)
    # columns of cube.nulls: x, y, weight
    poison = {"x": [0, 2], "y": [1, 2], "xy": [0, 1, 2]}[null_rule]
    has_null = (member @ cube.nulls[:, poison]).sum(axis=1) > 0
    return {
        int(fid): dict(zip(cube.cols, sums[fid]), has_null=has_null[fid])
        for fid in np.flatnonzero(member.sum(axis=1))
    }


def suffstats_fit(
    estimator: Any,
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: Optional[str],
    cv,
    sample_weight_col: Optional[str] = None,
    drop_na_in_y: bool = False,
    view: Sequence[AffineStep] = (),
) -> Optional[List[Any]]:
    """Fit one clone per fold from per-fold moment aggregates; returns
    the fitted models in fold order, or ``None`` when the estimator is
    outside the closed-form family (caller falls back to the grouped
    pandas fit).

    With a ``view``, fit on the OOF output of that scaler chain over
    ``df`` instead, from ``df``'s own cube; also ``None`` when the view
    cannot stand for that frame: ``cv`` or a step keyed by another
    period column, ``cv`` not a plain splitter, or a non-finite value."""
    if y_col is None or not _eligible_fit(estimator):
        return None
    feats = list(feature_cols)
    if len(feats) > _MAX_FEATURES:
        return None
    if view and not (
        _plain_splitter(cv)
        and all(step.period_col == cv.period_col for step in view)
    ):
        return None
    rows = _moment_rows(
        df, cv, feats, y_col, sample_weight_col, drop_na_in_y,
        _null_rule(estimator), view,
    )
    if rows is None:
        return None
    return _solve_from_moments(estimator, rows, feats, cv.n_splits)


class FoldFitError(ValueError):
    """A fold the closed-form solve cannot fit: it has no training rows,
    or a training feature value is NaN or ±Inf."""


def _moment_arrays(r: dict, d: int):
    """``(Σx, Σxy, Σxxᵀ)`` of moment row ``r`` as numpy arrays."""
    sxx = np.empty((d, d))
    for i in range(d):
        for j in range(i, d):
            sxx[i, j] = sxx[j, i] = r[f"sxx_{i}_{j}"]
    sx = np.array([r[f"sx_{i}"] for i in range(d)])
    sxy = np.array([r[f"sxy_{i}"] for i in range(d)])
    return sx, sxy, sxx


def _solve_from_moments(
    estimator: Any, rows: dict, feats: List[str], n_splits: int
) -> List[Any]:
    """Driver-side O(d³) per-fold solve from collected moment rows —
    shared by single fits and whole-grid candidate sweeps (which reuse
    one moments pass for every hyper-parameter). Raises
    :class:`FoldFitError` for a fold it cannot fit."""
    d = len(feats)
    models: List[Any] = []
    for fid in range(n_splits):
        r = rows.get(fid)
        if r is None or not r["n"]:
            raise FoldFitError(
                f"Fold {fid} has no training rows; cannot fit. "
                "Use drop_splits() to remove degenerate folds first."
            )
        est = clone(estimator)
        poisoned = bool(r["has_null"])
        if type(est) is StandardScaler:
            if poisoned:
                est.mean_ = np.full(d, np.nan)
                est.scale_ = np.full(d, np.nan)
                models.append(est)
                continue
            n = float(r["n"])
            mu = np.array([r[f"sx_{i}"] / n for i in range(d)])
            if est.with_std:
                var = np.array(
                    [r[f"sxx_{i}_{i}"] / n for i in range(d)]
                ) - mu**2
                s = np.sqrt(np.maximum(var, 0.0))
                s[s == 0.0] = 1.0
                est.scale_ = s
            else:
                est.scale_ = np.ones(d)
            est.mean_ = mu if est.with_mean else np.zeros(d)
            models.append(est)
            continue
        if type(est) is MeanRegressor:
            est.mean_ = (
                float("nan") if poisoned
                else float(r["sy"]) / float(r["n"])
            )
            models.append(est)
            continue
        if poisoned:
            est.intercept_ = float("nan")
            est.coef_ = np.full(d, np.nan)
            models.append(est)
            continue
        sx, sxy, sxx = _moment_arrays(r, d)
        if est.fit_intercept:
            g = np.empty((d + 1, d + 1))
            g[0, 0] = r["n"]
            g[0, 1:] = g[1:, 0] = sx
            g[1:, 1:] = sxx
            rhs = np.concatenate([[r["sy"]], sxy])
        else:
            g, rhs = sxx, sxy
        if not np.isfinite(g).all():
            # NaN or ±Inf in a feature (a NULL poisons the fold above)
            # would fail the SVD with an untyped LinAlgError
            raise FoldFitError(
                f"Fold {fid}: a training feature value is non-finite "
                f"(NaN or ±Inf); {type(est).__name__} cannot fit it."
            )
        if type(est) is Ridge:
            pen = est.alpha * np.eye(g.shape[0])
            if est.fit_intercept:
                pen[0, 0] = 0.0
            g = g + pen
        beta, *_ = np.linalg.lstsq(g, rhs, rcond=None)
        if est.fit_intercept:
            est.intercept_ = float(beta[0])
            est.coef_ = beta[1:]
        else:
            est.intercept_ = 0.0
            est.coef_ = beta
        models.append(est)
    return models


def _literal_table(values: list, depth: int) -> str:
    """SQL text of ``depth`` levels of nested lists of doubles as ONE
    array literal: a single JSON string parsed by ``from_json``, which
    the optimizer folds into a literal. NaN/±Infinity survive (JSON's
    non-numeric numbers), and the text is parsed JVM-side in the same
    call as the expression around it."""
    schema = "array<" * depth + "double" + ">" * depth
    text = sql_literal(json.dumps(values), T.StringType())
    return f"from_json({text}, '{schema}')"


def _linear_terms(m: Any) -> Optional[List[float]]:
    """``[intercept, coef...]`` of a fitted closed-form predictor
    (``[mean]`` for MeanRegressor), or ``None`` if unfitted or outside
    the family."""
    if type(m) is MeanRegressor:
        return None if m.mean_ is None else [float(m.mean_)]
    if type(m) in (LinearRegression, Ridge) and m.coef_ is not None:
        return [float(m.intercept_)] + [
            float(b) for b in np.asarray(m.coef_).reshape(-1)
        ]
    return None


def _linear_pred(terms: str, feature_cols: Sequence[str]) -> str:
    """SQL text of ``terms[0] + Σ terms[i+1]·xᵢ``, where ``terms`` is the
    SQL text of a ``[intercept, coef...]`` array. MeanRegressor passes no
    features: it ignores X entirely (NaN features must not poison it)."""
    return f"{terms}[0]" + "".join(
        f" + {terms}[{i + 1}] * CAST({sql_ident(c)} AS DOUBLE)"
        for i, c in enumerate(feature_cols)
    )


@dataclass
class _Predictions:
    """How :func:`linear_predict_frame` built a prediction frame: the
    fold predictors ``terms`` applied to ``cv``'s ``role`` rows of
    ``source``, projected to ``out_fields`` + ``output_col``.
    ``null_rule`` names the columns whose NULLs make a prediction or
    its error NULL (x and y, or y alone for MeanRegressor)."""

    source: DataFrame
    cv: Any
    role: str
    feats: List[str]
    terms: List[List[float]]
    null_rule: str
    out_fields: List[str]
    output_col: str


#: memo key under which a prediction frame keeps its :class:`_Predictions`
_PREDICTIONS = "predictions"


def linear_predict_frame(
    assigned: DataFrame,
    fitted_estimators: List[Any],
    feature_cols: Sequence[str],
    method: str,
    out_fields: Sequence[str],
    output_col: str,
    source: Optional[DataFrame] = None,
    cv=None,
    role: str = "test",
) -> Optional[DataFrame]:
    """Apply closed-form models as one arithmetic projection: each row
    looks its fold's ``[intercept, coef...]`` up in a literal array
    indexed by ``fold_id`` — the whole pass stays in codegen, with no
    Python workers, no join and no broadcast job. Returns ``None`` when
    any model is outside the closed-form family (caller falls back to
    the broadcast-model pandas apply).

    When ``assigned`` is ``cv``'s ``role`` rows of ``source``, the
    returned frame remembers that in the moment-cube memo, so
    :func:`predicted_fold_scores` can score it from ``source``'s cube."""
    if method != "predict":
        return None
    terms = [_linear_terms(m) for m in fitted_estimators]
    if not terms or any(t is None for t in terms):
        return None
    families = {type(m) is MeanRegressor for m in fitted_estimators}
    if len(families) > 1:
        return None  # mixed families: keep the generic path
    mean_only = families == {True}
    row = _literal_table(terms, 2) + "[fold_id]"
    pred = _linear_pred(row, [] if mean_only else feature_cols)
    out = f"{pred} AS {sql_ident(output_col)}"
    preds = assigned.selectExpr(*map(sql_ident, out_fields), out)
    if source is not None:
        _memo(preds, _PREDICTIONS, lambda: _Predictions(
            source, cv, role, list(feature_cols), terms,
            "y" if mean_only else "xy", list(out_fields), output_col,
        ))
    return preds


def predicted_fold_scores(
    preds: DataFrame, y_col: str, pred_col: str, metric: str
) -> Optional[DataFrame]:
    """Per-fold ``metric`` of a prediction frame that
    :func:`linear_predict_frame` built from a source frame, answered
    from the moments of each fold's scored rows in the source frame's
    memoised cube: a ``VALUES`` frame ``(fold_id, score)`` whose
    ``collect()`` starts no Spark job.

    ``None`` (the caller scores the rows) unless ``preds`` is that
    exact frame, ``metric`` is mse, rmse or r2, ``pred_col`` is its
    output column, ``y_col`` a numeric column it kept, the splitter is
    plain, the cube of (its features, ``y_col``, no weight, no NULL
    drop) is memoised, and every fold's score can stand for the row
    pass's (see :func:`_fold_score`)."""
    p = _recall(preds, _PREDICTIONS)
    if (
        p is None or metric not in _MOMENT_METRICS
        or pred_col != p.output_col or pred_col in p.out_fields
        or y_col not in p.out_fields or y_col == "fold_id"
        or p.out_fields.count("fold_id") != 1
        or len(p.feats) > _MAX_FEATURES or not _plain_splitter(p.cv)
        or len(p.terms) != len(p.cv.spec.folds)
        or not isinstance(p.source.schema[y_col].dataType, T.NumericType)
    ):
        return None
    rows = _moment_rows(
        p.source, p.cv, p.feats, y_col, None, False, p.null_rule,
        role=p.role, warm_only=True,
    )
    scores = _moment_scores(rows, p.terms, metric) if rows else None
    if not scores:
        return None
    values = ", ".join(
        f"({fid}, {sql_literal(v, T.DoubleType())})"
        for fid, v in sorted(scores.items())
    )
    return preds.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(fold_id, score)"
    )


def scaler_transform_frame(
    assigned: DataFrame,
    fitted_estimators: List[Any],
    feature_cols: Sequence[str],
    out_fields: Sequence[str],
    output_col: str,
) -> Optional[DataFrame]:
    """Per-fold StandardScaler transform as one array projection: each
    row looks its fold's ``[mean..., scale...]`` up in a literal array
    indexed by ``fold_id`` — the OOF feature pass of a scaler pipeline
    step stays entirely in codegen (no Python workers, no join)."""
    for m in fitted_estimators:
        if type(m) is not StandardScaler or m.mean_ is None:
            return None
    d = len(feature_cols)
    params = _literal_table([
        [float(x) for x in np.asarray(m.mean_).reshape(-1)]
        + [float(x) for x in np.asarray(m.scale_).reshape(-1)]
        for m in fitted_estimators
    ], 2) + "[fold_id]"
    arr = ", ".join(
        f"(CAST({sql_ident(c)} AS DOUBLE) - {params}[{i}])"
        f" / {params}[{d + i}]"
        for i, c in enumerate(feature_cols)
    )
    out = f"array({arr}) AS {sql_ident(output_col)}"
    return assigned.selectExpr(*map(sql_ident, out_fields), out)


def _grid_score_frame(
    assigned: DataFrame,
    models_per_cand: List[List[Any]],
    feats: List[str],
    y_col: str,
    metrics: "dict",
) -> Optional[DataFrame]:
    """Every candidate × fold × metric aggregate of ``assigned`` in one
    grouped pass: each row is paired with every candidate by exploding
    its fold's literal ``[candidate][intercept, coef...]`` array."""
    from .metrics import SQL_NAN, metric_agg_expr, r2_parts

    mean_like = type(models_per_cand[0][0]) is MeanRegressor
    n_folds = len(models_per_cand[0])
    by_fold = []
    for fid in range(n_folds):
        terms = [_linear_terms(models[fid]) for models in models_per_cand]
        if any(t is None for t in terms):
            return None
        by_fold.append(terms)
    cand = assigned.selectExpr(
        "role",
        "fold_id",
        # NULL→NaN so Spark aggregates reproduce numpy poisoning
        f"coalesce(CAST({sql_ident(y_col)} AS DOUBLE), {SQL_NAN}) AS __y",
        *map(sql_ident, feats),
        f"posexplode({_literal_table(by_fold, 3)}[fold_id])"
        " AS (__cand, __b)",
    )
    pred = _linear_pred("__b", [] if mean_like else feats)
    base = cand.selectExpr(
        "__cand", "role", "fold_id", "__y",
        f"coalesce({pred}, {SQL_NAN}) AS __p",
    )
    aggs = [
        f"{metric_agg_expr(key, '__y', '__p', nan_aware=True)}"
        f" AS {sql_ident(f'__m_{mname}')}"
        for mname, key in metrics.items()
        if key != "r2"
    ]
    if "r2" in metrics.values():
        aggs += r2_parts("__y", "__p", prefix="__")
    return base.groupBy("__cand", "role", "fold_id").agg(*map(F.expr, aggs))


#: metrics a fold's moments answer: each is a function of the fold's
#: squared-error sum (and, for r2, of Σy² and Σy)
_MOMENT_METRICS = ("mse", "rmse", "r2")

#: a score from moments stands for the row pass's only while the
#: rounding of its terms, bounded by 64 ulps of their magnitudes, stays
#: below this share of the result (see docs/SCALE_NOTES.md, "Scores
#: from moments")
_CANCEL_TOL = 1e-9
_ROUNDING = 64 * 2.0 ** -52


def _fold_sse(terms: List[float], r: dict) -> Optional[float]:
    """Σ(y − b₀ − βᵀx)² over the rows whose moments are ``r``, for
    ``terms = [b₀, β...]`` (``[m]`` for MeanRegressor, which reads no
    x), as the quadratic form

        Σy² + n·b₀² + βᵀΣxxᵀβ − 2b₀Σy − 2βᵀΣxy + 2b₀βᵀΣx

    NaN where the row pass gives NaN: a NULL the predictor reads
    (``has_null``) or a NaN coefficient. ``None`` where the form cannot
    stand for the row pass: a non-finite moment it reads, an infinite
    coefficient, or a cancellation whose rounding, bounded by 64 ulps
    of the terms' magnitudes, could exceed ``_CANCEL_TOL`` of the
    result."""
    b0, beta = terms[0], np.asarray(terms[1:], float)
    sx, sxy, sxx = _moment_arrays(r, len(beta))
    n, sy, syy = r["n"], r["sy"], r["syy"]
    read = np.concatenate([[n, sy, syy], sx, sxy, sxx.ravel()])
    if not np.isfinite(read).all() or np.isinf(terms).any():
        return None
    if r["has_null"] or np.isnan(terms).any():
        return float("nan")
    parts = np.concatenate([
        [syy, n * b0 * b0, -2.0 * b0 * sy],
        (np.outer(beta, beta) * sxx).ravel(),
        -2.0 * beta * sxy,
        2.0 * b0 * beta * sx,
    ])
    sse = float(parts.sum())
    if _ROUNDING * float(np.abs(parts).sum()) > _CANCEL_TOL * sse:
        return None
    return sse


def _fold_score(
    terms: List[float], r: dict, metric: str
) -> Optional[float]:
    """``metric`` (one of ``_MOMENT_METRICS``) of the predictor
    ``terms`` over the rows whose moments are ``r``, from their SSE as
    the row pass computes it: ``mse = SSE/n``, ``rmse = √mse``,
    ``r2 = 1 − SSE/(Σy² − (Σy)²/n)``. ``None`` when the rows must
    answer: see :func:`_fold_sse`, and for r2 a zero or cancelled
    denominator."""
    sse = _fold_sse(terms, r)
    if sse is None:
        return None
    n = r["n"]
    if metric == "mse":
        return sse / n
    if metric == "rmse":
        return math.sqrt(sse / n)
    y2, mean_sq = r["syy"], r["sy"] ** 2 / n
    denom = y2 - mean_sq
    if denom == 0.0 or (
        _ROUNDING * (y2 + mean_sq) > _CANCEL_TOL * abs(denom)
    ):
        return None
    return 1.0 - sse / denom


def _moment_scores(
    rows: dict, terms: List[List[float]], metric: str
) -> Optional[Dict[int, float]]:
    """``{fold_id: score}`` of the fold predictors ``terms`` over the
    folds of moment rows ``rows``; ``None`` if any fold must be scored
    from its rows."""
    out = {}
    for fid, r in rows.items():
        val = _fold_score(terms[fid], r, metric)
        if val is None:
            return None
        out[fid] = float(val)
    return out


def _grid_from_moments(
    rows: dict, models_per_cand: List[List[Any]], metrics: dict
) -> Optional[dict]:
    """Every candidate × test fold × metric score from the test moment
    ``rows``, keyed like the grid-score pass; ``None`` if any must come
    from the rows."""
    scores: dict = {}
    for ci, models in enumerate(models_per_cand):
        terms = [_linear_terms(m) for m in models]
        for mname, key in metrics.items():
            got = _moment_scores(rows, terms, key)
            if got is None:
                return None
            scores[(ci, "test", mname)] = got
    return scores


def _grid_from_rows(
    df: DataFrame,
    cv,
    feats: List[str],
    y_col: str,
    roles: Sequence[str],
    models_per_cand: List[List[Any]],
    metrics: dict,
) -> Optional[dict]:
    """The same scores from one grouped pass over the ``roles`` rows
    (:func:`_grid_score_frame`); ``None`` for a candidate outside the
    closed-form family or a zero r2 denominator."""
    assigned = cv.assign_columns(df, [*feats, y_col], tuple(roles))
    grid = _grid_score_frame(assigned, models_per_cand, feats, y_col,
                             metrics)
    if grid is None:
        return None
    scores: dict = {}
    for r in grid.collect():
        for mname, key in metrics.items():
            if key == "r2":
                denom = r["__ss_y2"] - r["__s_y"] ** 2 / r["__n"]
                if denom == 0.0:
                    return None
                val = 1.0 - r["__ss_res"] / denom
            else:
                val = r[f"__m_{mname}"]
            scores.setdefault(
                (r["__cand"], r["role"], mname), {}
            )[r["fold_id"]] = float(val)
    return scores


def sweep_scores(
    estimators: List[Any],
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: str,
    cv,
    metrics: "dict",
    roles: Sequence[str] = ("test",),
    sample_weight_col: Optional[str] = None,
    drop_na_in_y: bool = False,
):
    """Score an ENTIRE candidate grid of closed-form estimators with at
    most two Spark aggregates, independent of grid size, and none when
    the frame's moment cube is warm and every metric is a squared-error
    score of the test folds.

    1. the frame's cached moment cube (shared with ``suffstats_fit``)
       fits every candidate with an O(d³) driver solve each;
    2. with roles ``("test",)``, metrics among mse/rmse/r2, no sample
       weight, no ``drop_na_in_y`` and a plain splitter, the same cube's
       test moments score every candidate × fold as a quadratic form
       (:func:`_fold_sse`), with no pass over the rows;
    3. otherwise, or where a fold's score from moments cannot stand for
       the row pass (non-finite moment, cancellation, zero r2
       denominator), one pass over the fact rows, each paired with
       every candidate through a literal ``(fold, candidate) →
       coefficients`` array, computes every candidate × fold × metric
       aggregate simultaneously — map-side partial aggregation, a few
       doubles per group on the wire, no join and no broadcast job.

    A 1000-point grid therefore costs the same cluster work as a single
    candidate — versus 1000 fit + 1000 score jobs on the generic path
    (the reference's per-candidate joblib loop, model_selection.py:
    653-722, re-subsets and refits the data per candidate).

    ``metrics`` maps metric name → fast-path key in
    ``metrics._SQL_METRICS`` (plus ``"r2"``). Returns
    ``(models_per_candidate, scores)`` where ``scores[(ci, role, mname)]``
    is the per-fold score list, or ``None`` if anything falls outside the
    closed-form/SQL-expressible envelope (caller uses the generic path).
    A fold the solve cannot fit raises :class:`FoldFitError`.
    """
    from .metrics import _SQL_METRICS

    if not estimators or y_col is None:
        return None
    est0 = estimators[0]
    if not _eligible_fit(est0):
        return None
    if any(type(e) is not type(est0) for e in estimators):
        return None
    feats = list(feature_cols)
    if len(feats) > _MAX_FEATURES:
        return None
    for key in metrics.values():
        if key != "r2" and key not in _SQL_METRICS:
            return None
    if type(est0) is StandardScaler:
        return None  # transformers have no predict metrics to sweep

    rows = _moment_rows(
        df, cv, feats, y_col, sample_weight_col, drop_na_in_y,
        _null_rule(est0),
    )
    models_per_cand = [
        _solve_from_moments(e, rows, feats, cv.n_splits)
        for e in estimators
    ]

    scores = None
    if (
        tuple(roles) == ("test",) and sample_weight_col is None
        and not drop_na_in_y and _plain_splitter(cv)
        and set(metrics.values()) <= set(_MOMENT_METRICS)
    ):
        test = _moment_rows(
            df, cv, feats, y_col, None, False, _null_rule(est0),
            role="test",
        )
        scores = _grid_from_moments(test, models_per_cand, metrics)
    if scores is None:
        scores = _grid_from_rows(
            df, cv, feats, y_col, roles, models_per_cand, metrics
        )
        if scores is None:
            return None
    # Index by fold POSITION 0..n_splits-1, NaN-filling folds with zero
    # rows for a role — a positional list built from only the folds
    # present would silently shift later folds into the wrong
    # split{j} column (ADVICE r01).
    n_splits = (
        cv.get_n_splits() if hasattr(cv, "get_n_splits") else cv.n_splits
    )
    folded = {
        k: [v.get(f, float("nan")) for f in range(n_splits)]
        for k, v in scores.items()
    }
    return models_per_cand, folded


def logistic_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Distributed single-feature logistic regression via
    Newton/IRLS — the classification sibling of the closed-form OLS
    fast path, as ONE aggregation per Newton step.

    Per step (β fixed): executors compute per-row η = β₀+β₁x,
    μ = 1/(1+e^(−η)), and quantize the five Newton terms
    (w, wx, wx², y−μ, (y−μ)x with w = μ(1−μ)) to integer nano-units;
    the grouped sum of those LONGs is exact and order-independent, and
    the driver applies the 2×2 Cramer solve
    Δ = H⁻¹·g on plain IEEE doubles. So the whole fit is ``n_iter``
    scans with map-side combine — no fold-sized task, no collect of
    anything but ten integers per step.

    Cross-engine contract: starting from β = (0,0), step 1 involves NO
    transcendentals (μ = 0.5, w = 0.25 exactly); later steps quantize
    AFTER the one exp() call per row, absorbing libm ulp differences,
    and every β is derived from the integer sums by a fixed double
    expression — the same replay-the-iteration pattern as kmeans_fit /
    stream_online_linreg. Returns one dict per iteration:
    ``{it, sw, swx, swxx, g0, g1, beta0, beta1}`` (sums = exact LONG
    nano-units; betas = post-step doubles).
    """
    return glm_irls(df, x_col, y_col, family="binomial",
                    n_iter=n_iter, scale=scale)


def glm_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    family: str = "binomial",
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Single-feature GLM via Newton/IRLS with canonical links — the
    engine behind :func:`logistic_irls`, also serving Poisson (count)
    regression. One exact-integer aggregation per Newton step (see
    logistic_irls for the full cross-engine contract); per family:

    * ``binomial``: μ = 1/(1+e^(−η)), working weight w = μ(1−μ)
    * ``poisson``:  μ = e^η,           working weight w = μ

    Both start transcendental-free from β = (0,0) (μ = ½ resp. 1
    exactly), so step 1's sums are libm-independent on every engine.
    """
    if family not in ("binomial", "poisson"):
        raise ValueError(f"glm_irls: unknown family {family!r}")
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    b0, b1 = 0.0, 0.0
    out: List[dict] = []
    for it in range(1, n_iter + 1):
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        if family == "binomial":
            mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = mu * (F.lit(1.0) - mu)
        else:
            mu = F.exp(eta)
            w = mu
        r = F.col("y") - mu

        def q(c: Column) -> Column:
            return F.round(c * F.lit(scale)).cast("long")

        row = pts.agg(
            F.sum(q(w)).alias("sw"),
            F.sum(q(w * F.col("x"))).alias("swx"),
            F.sum(q(w * F.col("x") * F.col("x"))).alias("swxx"),
            F.sum(q(r)).alias("g0"),
            F.sum(q(r * F.col("x"))).alias("g1"),
        ).collect()[0]
        sw, swx, swxx = float(row["sw"]), float(row["swx"]), float(row["swxx"])
        g0, g1 = float(row["g0"]), float(row["g1"])
        det = sw * swxx - swx * swx
        if det == 0.0:
            raise RuntimeError(f"glm_irls[{family}]: singular Hessian")
        # nano-unit scales cancel in H^-1 g, so the deltas are unitful
        d0 = (swxx * g0 - swx * g1) / det
        d1 = (sw * g1 - swx * g0) / det
        b0, b1 = b0 + d0, b1 + d1
        out.append(
            {
                "it": it,
                "sw": int(row["sw"]), "swx": int(row["swx"]),
                "swxx": int(row["swxx"]),
                "g0": int(row["g0"]), "g1": int(row["g1"]),
                "beta0": b0, "beta1": b1,
            }
        )
    return out


def huber_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    k: float,
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Single-feature Huber robust regression via IRLS — the outlier-
    resistant line fit (Huber 1964, public method), same trace/replay
    contract as :func:`glm_irls` but with ZERO transcendentals: the
    Huber working weight w = min(1, k/|r|) is rational, so every
    iteration is libm-independent on every engine.

    Iteration 1 uses w ≡ 1 (plain OLS — the standard IRLS start);
    iterations 2+ reweight by the previous fit's residuals, with the
    r = 0 case pinned to w = 1 on both engines (a raw k/0 would hit
    engine-specific inf semantics). Per iteration ONE exact-integer
    aggregation (nano-quantized terms; the scales cancel in H⁻¹g), a
    2×2 solve in fixed-order double algebra, and a trace row the SQL
    oracle replays as chained CTEs.
    """
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    b0, b1 = 0.0, 0.0
    out: List[dict] = []
    for it in range(1, n_iter + 1):
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        r = F.col("y") - eta
        if it == 1:
            w = F.lit(1.0)
        else:
            w = F.when(F.abs(r) == F.lit(0.0), F.lit(1.0)).otherwise(
                F.least(F.lit(1.0), F.lit(float(k)) / F.abs(r))
            )

        def q(c: Column) -> Column:
            return F.round(c * F.lit(scale)).cast("long")

        row = pts.agg(
            F.sum(q(w)).alias("sw"),
            F.sum(q(w * F.col("x"))).alias("swx"),
            F.sum(q(w * F.col("x") * F.col("x"))).alias("swxx"),
            F.sum(q(w * r)).alias("g0"),
            F.sum(q(w * r * F.col("x"))).alias("g1"),
        ).collect()[0]
        sw, swx, swxx = (
            float(row["sw"]), float(row["swx"]), float(row["swxx"])
        )
        g0, g1 = float(row["g0"]), float(row["g1"])
        det = sw * swxx - swx * swx
        if det == 0.0:
            raise RuntimeError("huber_irls: singular Hessian")
        d0 = (swxx * g0 - swx * g1) / det
        d1 = (sw * g1 - swx * g0) / det
        b0, b1 = b0 + d0, b1 + d1
        out.append(
            {
                "it": it,
                "sw": int(row["sw"]), "swx": int(row["swx"]),
                "swxx": int(row["swxx"]),
                "g0": int(row["g0"]), "g1": int(row["g1"]),
                "beta0": b0, "beta1": b1,
            }
        )
    return out
