"""SequentialCVPipeline: chained per-step CV stages over Spark DataFrames.

Re-expresses the reference pipeline (/root/reference/panelsplit/pipeline.py,
1244 LoC): each step is fit under its own cross-validator (or none), its
**out-of-fold** output becomes the next step's input, and the final step
runs the requested response method. The control flow is the reference's
(`_fit` at pipeline.py:686-719, `_method_step` at :642-684); the data plane
is Spark:

* step input/output are DataFrames; "X" is a set of feature columns that
  each transforming step *replaces* (``<step>__f0..fk``), while passthrough
  columns (keys, period, y) ride along untouched;
* a CV step's fit and OOF transform are the application.py ops: a
  moment aggregate plus a literal-coefficient projection for the
  closed-form family, a grouped-map job plus broadcast models +
  ``mapInPandas`` otherwise;
* a CV StandardScaler step is affine within each fold, so when the
  steps after it are closed-form too they fit from the moment cube of
  the scaler's input, read through the scaler's per-period affine maps
  (``linear_fastpath.AffineStep``): a scaler → ridge fit is one moment
  aggregate of the raw frame and no OOF frame at all;
* an OOF frame that is built is ``.cache()``-ed only when the step
  reading it reads it twice (its own fit and the next OOF frame) —
  re-computing the whole upstream chain per job would be quadratic —
  and released before ``fit`` returns, once every step's models are on
  the driver. The frame feeding the final fit is read once and is not
  cached;
* there is no positional reassembly: fold predicates are period-based, so
  the next step's splitter applies directly to the (possibly reduced) OOF
  frame — the Spark-native replacement for the reference's argsort
  recombination (pipeline.py:47-79).
"""

from __future__ import annotations

import copy
import functools
import types
import weakref
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..estimators import StandardScaler, clone
from ..functions.sql import sql_ident
from .application import apply_model, cross_val_fit, cross_val_predict
from .cross_validation import PanelSplit
from .linear_fastpath import scaler_view_step, suffstats_fit

__all__ = ["SequentialCVPipeline"]

_RESPONSE_METHODS = (
    "predict",
    "predict_proba",
    "predict_log_proba",
    "transform",
    "decision_function",
    "score",
)


def _is_passthrough(est: Any) -> bool:
    return est is None or (isinstance(est, str) and est == "passthrough")


class _available_if:
    """Descriptor hiding a response method unless the pipeline's FINAL
    estimator exposes it — ``hasattr(pipe, "predict")`` is False for a
    transform-only pipeline, matching sklearn's ``available_if``
    semantics and the reference's conditional method injection
    (reference pipeline.py:165-269 only binds methods the last step
    has). Capability is checked at ATTRIBUTE ACCESS, fitted-ness later
    at call (so an unfitted-but-capable pipeline still raises the
    not-fitted RuntimeError, not AttributeError)."""

    def __init__(self, method_name: str, fn) -> None:
        self.method_name = method_name
        self.fn = fn
        functools.update_wrapper(self, fn)

    def __get__(self, obj, owner=None):
        if obj is None:
            return self
        if not obj._supports(self.method_name):
            est = obj._final_estimator()
            raise AttributeError(
                f"{type(obj).__name__!r} object has no attribute "
                f"{self.method_name!r} (final step "
                f"{type(est).__name__} does not expose it)"
            )
        return types.MethodType(self.fn, obj)


#: cached y-signature reflection per (class, method) — reference
#: pipeline.py:83,86-162 (fixes issue #59: score() needs y, predict()
#: doesn't, and transformers may fit on X alone). Keyed on the class
#: OBJECT (names collide across modules / `<locals>` qualnames) but via
#: WeakKeyDictionary so dynamically created classes (tests, factories in
#: loops) stay collectable instead of being pinned process-long.
_METHOD_SIGNATURE_CACHE: "weakref.WeakKeyDictionary[type, Dict[str, Tuple[bool, bool]]]" = (
    weakref.WeakKeyDictionary()
)


def _y_signature(model: Any, method_name: str) -> Tuple[bool, bool]:
    """(accepts_y, requires_y) for ``model.method_name``, cached."""
    import inspect

    cls = type(model)
    per_cls = _METHOD_SIGNATURE_CACHE.get(cls)
    if per_cls is None:
        per_cls = _METHOD_SIGNATURE_CACHE.setdefault(cls, {})
    if method_name not in per_cls:
        try:
            params = inspect.signature(
                getattr(model, method_name)
            ).parameters
            kinds = {p.kind for p in params.values()}
            catch_all = (
                inspect.Parameter.VAR_POSITIONAL in kinds
                or inspect.Parameter.VAR_KEYWORD in kinds
            )
            # *args/**kwargs wrappers hide a possible y parameter —
            # assume y is accepted (optional) rather than silently
            # fitting without labels
            has_y = "y" in params or catch_all
            required = (
                "y" in params
                and params["y"].default is inspect.Parameter.empty
            )
            per_cls[method_name] = (has_y, required)
        except Exception:
            per_cls[method_name] = (False, False)
    return per_cls[method_name]


def _call_method_with_correct_args(
    model: Any, method_name: str, X: Any, y: Any = None
) -> Any:
    """Call ``model.method_name`` passing y only if the signature takes
    it; raise if y is required but None (reference pipeline.py:86-162)."""
    has_y, required = _y_signature(model, method_name)
    if has_y:
        if required and y is None:
            raise ValueError(
                f"Method {method_name!r} requires y parameter but y is None"
            )
        return (
            getattr(model, method_name)(X, y)
            if y is not None
            else getattr(model, method_name)(X)
        )
    return getattr(model, method_name)(X)


class SequentialCVPipeline:
    """Sequentially-fitted CV pipeline (reference pipeline.py:272-1244).

    Parameters
    ----------
    steps : list[(name, estimator)]
        Estimators honour the sklearn protocol; ``None``/"passthrough"
        steps are identity (reference pipeline.py:215-217).
    cv_steps : list[PanelSplit | None]
        Parallel to ``steps``: the cross-validator governing each step's
        fold-wise fit/OOF-transform, or None for fit-on-all.
    feature_cols : list[str]
        The initial "X" columns within the input DataFrame.
    y_col : str, optional
        Target column (stays a passthrough column throughout).
    return_group : {"test", "train"}
        Which group's rows flow out of each CV step (reference
        pipeline.py:328-342).
    include_indices : bool
        Kept for API parity: Spark outputs are DataFrames that always
        carry the passthrough/key columns, which subsumes the reference's
        ``(indices, values)`` tuple protocol (pipeline.py:599-605).
    max_fit_rows : int, optional
        Guard for fit-on-all steps (``cv_steps[i] is None``): such a
        step funnels the WHOLE frame through one grouped-map task, so
        above this row count ``fit`` raises a clear error instead of
        letting an executor OOM. Pass ``None`` to disable (you know the
        step's memory math), give the step its own CV, or use a
        distributed estimator (operators/sparkml.py).
    """

    def __init__(
        self,
        steps: List[Tuple[str, Any]],
        cv_steps: List[Optional[PanelSplit]],
        feature_cols: Sequence[str],
        y_col: Optional[str] = None,
        return_group: str = "test",
        include_indices: bool = False,
        verbose: bool = False,
        max_fit_rows: Optional[int] = 20_000_000,
    ) -> None:
        if len(steps) != len(cv_steps):
            raise ValueError(
                f"steps (len {len(steps)}) and cv_steps (len {len(cv_steps)}) "
                "must have the same length"
            )
        names = [n for n, _ in steps]
        if len(set(names)) != len(names):
            raise ValueError(f"Step names must be unique: {names}")
        for n in names:
            if "__" in n:
                raise ValueError(
                    f"Step names must not contain '__': {n!r}"
                )
        if return_group not in ("test", "train"):
            raise ValueError(
                f"return_group must be train or test. Got {return_group}."
            )
        self.steps = list(steps)
        self.cv_steps = list(cv_steps)
        self.feature_cols = list(feature_cols)
        self.y_col = y_col
        self.return_group = return_group
        self.include_indices = include_indices
        self.verbose = verbose
        self.max_fit_rows = max_fit_rows
        self.fitted_steps_: Dict[str, Any] = {}

    # ------------------------------------------------------------------
    # sklearn-protocol plumbing
    # ------------------------------------------------------------------

    def __sklearn_is_fitted__(self) -> bool:
        """sklearn ``check_is_fitted`` protocol (reference
        tests/test_check_fitted_fix.py): the engine initializes
        ``fitted_steps_`` eagerly (its trailing underscore would fool
        the attribute-convention check), so fitted-ness is answered
        explicitly — True only once ``_fit`` has populated every step."""
        return bool(self.fitted_steps_)

    @property
    def named_steps(self) -> Dict[str, Any]:
        return dict(self.steps)

    def _final_estimator(self) -> Any:
        return self.steps[-1][1]

    def get_params(self, deep: bool = True) -> Dict[str, Any]:
        out = {
            "steps": self.steps,
            "cv_steps": self.cv_steps,
            "feature_cols": self.feature_cols,
            "y_col": self.y_col,
            "return_group": self.return_group,
            "include_indices": self.include_indices,
            "verbose": self.verbose,
            "max_fit_rows": self.max_fit_rows,
        }
        if deep:
            for name, est in self.steps:
                if _is_passthrough(est):
                    continue
                for k, v in est.get_params().items():
                    out[f"{name}__{k}"] = v
        return out

    def set_params(self, **params) -> "SequentialCVPipeline":
        """Nested ``step__param`` routing (reference pipeline.py:399-452,
        pinned by tests/test_set_params.py)."""
        own = {
            "steps", "cv_steps", "feature_cols", "y_col", "return_group",
            "include_indices", "verbose", "max_fit_rows",
        }
        by_step: Dict[str, Dict[str, Any]] = {}
        for key, val in params.items():
            if key in own:
                setattr(self, key, val)
            elif "__" in key:
                step, sub = key.split("__", 1)
                by_step.setdefault(step, {})[sub] = val
            else:
                raise ValueError(
                    f"Invalid parameter {key!r} for {type(self).__name__}"
                )
        names = dict(self.steps)
        for step, sub in by_step.items():
            if step not in names:
                raise ValueError(f"Unknown step {step!r}")
            names[step].set_params(**sub)
        return self

    def __getitem__(self, idx):
        """int → step estimator; slice → deep-copied sub-pipeline keeping
        fitted state (reference pipeline.py:454-467)."""
        if isinstance(idx, slice):
            sub = copy.deepcopy(self)
            sub.steps = self.steps[idx]
            sub.cv_steps = self.cv_steps[idx]
            kept = {n for n, _ in sub.steps}
            sub.fitted_steps_ = {
                k: v for k, v in self.fitted_steps_.items() if k in kept
            }
            return sub
        return self.steps[idx][1]

    def __len__(self) -> int:
        return len(self.steps)

    # dynamic-method parity: expose a response method iff the final
    # estimator has it (reference injects bound methods, pipeline.py:165-269;
    # capability-gated dispatch is observably equivalent)
    def _supports(self, method: str) -> bool:
        est = self._final_estimator()
        return _is_passthrough(est) or hasattr(est, method)

    # ------------------------------------------------------------------
    # fit
    # ------------------------------------------------------------------

    def fit(self, df: DataFrame, y_col: Optional[str] = None
            ) -> "SequentialCVPipeline":
        """Sequential chaining (reference pipeline.py:686-719): per step,
        fit under its cv and push the OOF output forward; the final step
        only fits.

        A CV step's OOF output is built only when the next step reads
        it. Before that, a CV StandardScaler step is a pending affine
        view (``linear_fastpath.AffineStep``) of the frame it reads, and
        a later closed-form step under a plain splitter fits from that
        frame's moment cube through the view: no Spark job when the cube
        is already memoised. A step the view cannot serve (outside the
        closed-form family, a snapshot column or scan mapping, another
        period column, too many features, a non-finite moment or scaler
        parameter) builds the pending OOF frames and fits on them. A
        built frame is cached only when its reader reads it twice
        (:meth:`_reads_twice`)."""
        if y_col is not None:
            self.y_col = y_col
        self.fitted_steps_ = {}
        cur = df
        features = list(self.feature_cols)
        # CV steps whose OOF output ``cur`` does not hold yet, each with
        # its affine view (None for a step that is not a scaler)
        pending: List[Tuple[str, List[Any], PanelSplit, Any]] = []
        cached: List[DataFrame] = []
        try:
            for i, (name, est) in enumerate(self.steps):
                cv = self.cv_steps[i]
                if self.verbose:
                    print(f"[SequentialCVPipeline] fitting step {i}: {name}")
                if _is_passthrough(est):
                    self.fitted_steps_[name] = None
                    continue
                models = None
                view = [step for *_, step in pending]
                if view and cv is not None and all(view):
                    models = suffstats_fit(
                        est, cur, features, self.y_col, cv, view=view
                    )
                if models is None and pending:
                    for p_name, p_models, p_cv, _ in pending:
                        cur, features = self._transform_cv(
                            p_models, cur, features, p_cv, p_name
                        )
                    pending = []
                    if self._reads_twice(i):
                        cur = cur.cache()
                        cached.append(cur)
                is_final = i == len(self.steps) - 1
                if cv is None:
                    model = self._fit_single(est, cur, features)
                    self.fitted_steps_[name] = ("single", model)
                    if not is_final:
                        cur, features = self._transform_single(
                            model, cur, features, name
                        )
                    continue
                if models is None:
                    models = cross_val_fit(
                        est, cur, features, self.y_col, cv
                    )
                self.fitted_steps_[name] = ("cv", models)
                if not is_final:
                    pending.append((
                        name, models, cv,
                        scaler_view_step(models, cv, self.return_group),
                    ))
        finally:
            # every step's models are on the driver by now; nothing
            # reads the intermediate OOF frames again
            for frame in cached:
                frame.unpersist()
        return self

    def _reads_twice(self, i: int) -> bool:
        """Whether step ``i`` reads its input frame twice: a non-final
        step fits on it and builds its own output from it; a fit-on-all
        step also counts its rows first."""
        return i != len(self.steps) - 1 or (
            self.cv_steps[i] is None and self.max_fit_rows is not None
        )

    def _keep_cols(self, df: DataFrame, features: Sequence[str]) -> List[str]:
        drop = set(features) | {"fold_id", "role"}
        return [c for c in df.columns if c not in drop]

    def _fit_single(self, est, df: DataFrame, features: Sequence[str]):
        """Fit-on-all step: one grouped-map task holds the full frame
        (the reference is equally in-memory here — pipeline.py:593-605).
        For data too large for one task, give the step its own CV or use a
        distributed estimator."""
        import pandas as pd
        import pickle

        needed = list(features) + (
            [self.y_col] if self.y_col and self.y_col not in features else []
        )
        if self.max_fit_rows is not None:
            n = df.count()
            if n > self.max_fit_rows:
                raise ValueError(
                    f"fit-on-all step {type(est).__name__} would funnel "
                    f"{n} rows through ONE grouped-map task "
                    f"(max_fit_rows={self.max_fit_rows}). Give the step "
                    "a CV (fold-wise fit), use a distributed estimator "
                    "(operators/sparkml.py), or raise/disable "
                    "max_fit_rows if one executor can hold the frame."
                )
        est0 = clone(est)
        y_col = self.y_col
        feats = list(features)

        # reflect the fit signature DRIVER-side (cached) and ship plain
        # booleans into the task — reference pipeline.py:86-162 semantics
        accepts_y, requires_y = _y_signature(est0, "fit")
        if requires_y and y_col is None:
            raise ValueError(
                f"Method 'fit' of {type(est0).__name__} requires y "
                "parameter but y_col is None"
            )

        def fit_fn(pdf):
            e = clone(est0)
            if accepts_y and y_col is not None:
                e.fit(pdf[feats], pdf[y_col])
            else:
                e.fit(pdf[feats])
            return pd.DataFrame({"model": [pickle.dumps(e)]})

        rows = (
            df.select(*needed)
            .withColumn("__g", F.lit(0))
            .groupBy("__g")
            .applyInPandas(
                lambda key, pdf: fit_fn(pdf), schema="model binary"
            )
            .collect()
        )
        return pickle.loads(bytes(rows[0]["model"]))

    def _probe_width(self, model, method: str, df: DataFrame,
                     features: Sequence[str]) -> int:
        """Output width of ``model.method``: known without a Spark job
        for a fitted closed-form StandardScaler (one column per
        feature); other models are probed on one row."""
        if (
            type(model) is StandardScaler
            and method == "transform"
            and model.mean_ is not None
        ):
            return len(model.mean_)
        sample = df.select(*features).limit(1).toPandas()
        import numpy as np

        res = np.asarray(getattr(model, method)(sample))
        return 1 if res.ndim == 1 else res.shape[1]

    def _expand(self, df: DataFrame, name: str, width: int,
                keep: Sequence[str]) -> Tuple[DataFrame, List[str]]:
        feats = [f"{name}__f{j}" for j in range(width)]
        outs = [f"__out[{j}] AS {sql_ident(f)}" for j, f in enumerate(feats)]
        return df.selectExpr(*map(sql_ident, keep), *outs), feats

    def _transform_single(self, model, df: DataFrame,
                          features: Sequence[str], name: str):
        keep = self._keep_cols(df, features)
        width = self._probe_width(model, "transform", df, features)
        out = apply_model(
            df, model, features, method="transform", output_col="__out",
            output_type="array<double>", keep_cols=keep,
        )
        return self._expand(out, name, width, keep)

    def _transform_cv(self, models, df: DataFrame, features: Sequence[str],
                      cv: PanelSplit, name: str):
        keep = self._keep_cols(df, features)
        width = self._probe_width(models[0], "transform", df, features)
        out = cross_val_predict(
            models, df, features, cv, method="transform",
            return_group=self.return_group, output_col="__out",
            output_type="array<double>", keep_cols=keep,
        )
        # fold_id from this step is internal plumbing; drop so the next
        # step's fan-out join can add its own
        out = out.drop("fold_id")
        return self._expand(out, name, width, keep)

    # ------------------------------------------------------------------
    # inference
    # ------------------------------------------------------------------

    def _check_fitted(self) -> None:
        if not self.fitted_steps_:
            raise RuntimeError(
                "This SequentialCVPipeline instance is not fitted yet."
            )

    def predict_df(self, df: DataFrame, method: str = "predict"
                   ) -> DataFrame:
        """Walk the fitted steps; intermediate steps always ``transform``,
        the final step runs ``method`` (reference pipeline.py:642-684).
        Returns a DataFrame with passthrough columns + ``fold_id``
        (NULL for a non-CV final step) + ``prediction``.
        """
        self._check_fitted()
        if not self._supports(method):
            raise AttributeError(
                f"Final estimator has no method {method!r}"
            )
        cur = df
        features = list(self.feature_cols)
        n = len(self.steps)
        for i, (name, est) in enumerate(self.steps):
            is_final = i == n - 1
            fitted = self.fitted_steps_[name]
            cv = self.cv_steps[i]
            if fitted is None:  # passthrough
                continue
            kind, payload = fitted
            if not is_final:
                if kind == "single":
                    cur, features = self._transform_single(
                        payload, cur, features, name
                    )
                else:
                    cur, features = self._transform_cv(
                        payload, cur, features, cv, name
                    )
            else:
                out_type = (
                    "array<double>"
                    if method in ("predict_proba", "predict_log_proba",
                                  "transform")
                    else "double"
                )
                keep = self._keep_cols(cur, features)
                if kind == "single":
                    out = apply_model(
                        cur, payload, features, method=method,
                        output_col="prediction", output_type=out_type,
                        keep_cols=keep,
                    )
                    return out.withColumn(
                        "fold_id", F.lit(None).cast("int")
                    )
                return cross_val_predict(
                    payload, cur, features, cv, method=method,
                    return_group=self.return_group,
                    output_col="prediction", output_type=out_type,
                    keep_cols=keep,
                )
        raise RuntimeError("Pipeline has no final estimator")

    # response-method surface (parity with the injected methods): each
    # is an _available_if descriptor, so hasattr() mirrors the final
    # step's capability instead of raising at call time
    predict = _available_if(
        "predict", lambda self, df: self.predict_df(df, "predict")
    )

    predict_proba = _available_if(
        "predict_proba",
        lambda self, df: self.predict_df(df, "predict_proba"),
    )

    predict_log_proba = _available_if(
        "predict_log_proba",
        lambda self, df: self.predict_df(df, "predict_log_proba"),
    )

    transform = _available_if(
        "transform", lambda self, df: self.predict_df(df, "transform")
    )

    decision_function = _available_if(
        "decision_function",
        lambda self, df: self.predict_df(df, "decision_function"),
    )

    score_samples = _available_if(
        "score_samples",
        lambda self, df: self.predict_df(df, "score_samples"),
    )

    fit_predict = _available_if(
        "predict",
        lambda self, df, y_col=None: self.fit(df, y_col).predict(df),
    )

    def fit_transform(self, df: DataFrame, y_col: Optional[str] = None
                      ) -> DataFrame:
        return self.fit(df, y_col).transform(df)

    def score(self, df: DataFrame, y_col: Optional[str] = None
              ) -> List[float]:
        """Per-fold scores from the final estimator's own ``score``
        notion: r2 for regressors, accuracy for classifiers — evaluated
        distributed via the metrics fast path."""
        from .metrics import per_fold_scores

        self._check_fitted()
        y_col = y_col or self.y_col
        est = self._final_estimator()
        metric = "accuracy" if hasattr(est, "predict_proba") else "r2"
        preds = self.predict_df(df, "predict")
        rows = per_fold_scores(preds, y_col, "prediction", metric).collect()
        by_fold = {r["fold_id"]: r["score"] for r in rows}
        if set(by_fold) == {None}:
            return [by_fold[None]]
        return [by_fold[k] for k in sorted(by_fold)]

    @property
    def classes_(self):
        """Union of per-fold classifiers' classes_ (reference
        pipeline.py:1032-1103)."""
        import numpy as np

        self._check_fitted()
        name, est = self.steps[-1]
        fitted = self.fitted_steps_.get(name)
        if fitted is None:
            raise AttributeError("Final step is passthrough; no classes_")
        kind, payload = fitted
        if kind == "single":
            if not hasattr(payload, "classes_"):
                raise AttributeError(
                    "Final estimator has no classes_ (not a classifier)"
                )
            return payload.classes_
        all_classes = [
            m.classes_ for m in payload if hasattr(m, "classes_")
        ]
        if not all_classes:
            raise AttributeError(
                "Final estimator has no classes_ (not a classifier)"
            )
        return np.unique(np.concatenate(all_classes))

    @property
    def _estimator_type(self):
        """Copied from the final step (reference pipeline.py:322-366) so
        sklearn-protocol callers can classify the pipeline."""
        final = self._final_estimator()
        t = getattr(final, "_estimator_type", None)
        if t is None and hasattr(final, "predict_proba"):
            return "classifier"
        return t

    def __sklearn_tags__(self):
        """Delegate sklearn tags to the final estimator (reference
        pipeline.py:1105-1143); raises AttributeError when the final
        step doesn't implement the tags protocol so ``hasattr`` checks
        stay accurate."""
        final = self._final_estimator()
        if hasattr(final, "__sklearn_tags__"):
            return final.__sklearn_tags__()
        raise AttributeError(
            f"{type(final).__name__} does not implement __sklearn_tags__"
        )

    def __repr__(self) -> str:
        inner = ", ".join(
            f"({n!r}, {e!r})" for n, e in self.steps
        )
        return f"SequentialCVPipeline([{inner}])"
