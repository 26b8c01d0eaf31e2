"""Hyper-parameter search over SequentialCVPipeline
(reference /root/reference/panelsplit/model_selection/, 2,035 LoC).

Driver-side orchestration, cluster-side work: each candidate evaluation is
a full pipeline fit+score in which every Spark job is already
fold/data-parallel across executors; candidates can additionally run
concurrently from driver threads (``n_jobs``), which overlaps their Spark
jobs in the scheduler — the Spark analog of the reference's joblib
candidate parallelism (model_selection.py:653-722). Result bookkeeping
(`cv_results_`: split scores, means, stds, min-ranks, masked params) is
tiny and stays in numpy on the driver, mirroring
``_format_results`` (model_selection.py:783-923).
"""

from __future__ import annotations

import itertools
import random
import time
import traceback
import warnings
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Dict, List, Optional, Sequence, Union

import numpy as np
from pyspark.sql import DataFrame

from ..estimators import clone as _clone_est
from .metrics import check_multimetric_scoring, check_scoring
from .pipeline import SequentialCVPipeline

__all__ = ["ParameterGrid", "ParameterSampler", "GridSearch",
           "RandomizedSearch"]


class ParameterGrid:
    """Exhaustive cross-product of a param grid (dict or list of dicts)."""

    def __init__(self, param_grid: Union[Dict, List[Dict]]):
        if isinstance(param_grid, dict):
            param_grid = [param_grid]
        self.param_grid = param_grid

    def __iter__(self):
        for grid in self.param_grid:
            keys = sorted(grid)
            if not keys:
                yield {}
                continue
            for combo in itertools.product(*(grid[k] for k in keys)):
                yield dict(zip(keys, combo))

    def __len__(self) -> int:
        total = 0
        for grid in self.param_grid:
            n = 1
            for v in grid.values():
                n *= len(v)
            total += n
        return total


class ParameterSampler:
    """Seeded random sampler: list values are drawn uniformly; objects
    with ``.rvs(random_state=...)`` are sampled (scipy-style)."""

    def __init__(self, param_distributions: Dict, n_iter: int,
                 random_state: Optional[int] = None):
        self.param_distributions = param_distributions
        self.n_iter = n_iter
        self.random_state = random_state

    def __iter__(self):
        rng = random.Random(self.random_state)
        keys = sorted(self.param_distributions)
        for _ in range(self.n_iter):
            out = {}
            for k in keys:
                v = self.param_distributions[k]
                if hasattr(v, "rvs"):
                    out[k] = v.rvs(random_state=rng.randrange(2**31))
                else:
                    out[k] = v[rng.randrange(len(v))]
            yield out

    def __len__(self) -> int:
        return self.n_iter


def _rankdata_min_desc(scores: np.ndarray) -> np.ndarray:
    """scipy.rankdata(-scores, method='min') with NaN ranked worst
    (reference model_selection.py:875-885)."""
    s = np.array(scores, dtype=float)
    nan = np.isnan(s)
    s[nan] = -np.inf
    ranks = np.empty(len(s), dtype=np.int32)
    for i, v in enumerate(s):
        ranks[i] = 1 + int(np.sum(s > v))
    return ranks


class BaseSearch:
    """Shared search engine (reference BaseSearch,
    model_selection.py:558-781)."""

    def __init__(
        self,
        estimator: SequentialCVPipeline,
        scoring: Any = None,
        n_jobs: int = 1,
        refit: Union[bool, str, Any] = True,
        verbose: int = 0,
        error_score: Any = np.nan,
        return_train_score: bool = False,
        fold_weights: Optional[Sequence[float]] = None,
    ) -> None:
        if getattr(estimator, "include_indices", False):
            # reference model_selection.py:126-128: scorers force
            # include_indices themselves; a pre-set True would double-wrap
            raise ValueError(
                "Searched pipelines must have include_indices=False"
            )
        self.estimator = estimator
        self.scoring = scoring
        self.n_jobs = n_jobs
        self.refit = refit
        self.verbose = verbose
        self.error_score = error_score
        self.return_train_score = return_train_score
        self.fold_weights = fold_weights

    # subclasses yield candidate param dicts
    def _candidates(self) -> List[Dict[str, Any]]:
        raise NotImplementedError

    def _n_splits(self) -> int:
        """n_splits from the pipeline's LAST cv step (reference
        model_selection.py:612-631)."""
        for cv in reversed(self.estimator.cv_steps):
            if cv is not None:
                return cv.n_splits
        return 1

    def _clone_pipeline(self) -> SequentialCVPipeline:
        import copy

        pipe = copy.copy(self.estimator)
        pipe.steps = [
            (n, e if e is None or isinstance(e, str) else _clone_est(e))
            for n, e in self.estimator.steps
        ]
        pipe.fitted_steps_ = {}
        return pipe

    def _fit_and_score(
        self, params: Dict[str, Any], df: DataFrame,
        scorers: Dict[str, Any],
    ) -> Dict[str, Any]:
        """One candidate: set params → fit → per-fold scores
        (reference _validation.py:185-422)."""
        out: Dict[str, Any] = {"params": params}
        t0 = time.time()
        try:
            pipe = self._clone_pipeline()
            pipe.set_params(**params)
            pipe.fit(df)
            out["fit_time"] = time.time() - t0
            t1 = time.time()
            self._score_all(pipe, df, scorers, out, "test")
            if self.return_train_score:
                orig = pipe.return_group
                pipe.return_group = "train"
                try:
                    self._score_all(pipe, df, scorers, out, "train")
                finally:
                    pipe.return_group = orig
            out["score_time"] = time.time() - t1
            out["estimator"] = pipe
        except Exception as e:
            if self.error_score == "raise":
                raise
            warnings.warn(
                f"Candidate {params} failed: {e}\n"
                f"{traceback.format_exc(limit=3)}",
                stacklevel=2,
            )
            ns = self._n_splits()
            out["fit_time"] = time.time() - t0
            out["score_time"] = 0.0
            for mname in scorers:
                out[f"test_{mname}"] = [float(self.error_score)] * ns
                if self.return_train_score:
                    out[f"train_{mname}"] = [float(self.error_score)] * ns
            out["failed"] = True
        return out

    def _try_sweep(
        self, candidates: List[Dict[str, Any]], df: DataFrame,
        scorers: Dict[str, Any],
    ) -> Optional[List[Dict[str, Any]]]:
        """Whole-grid fast path: when the pipeline is a single
        closed-form CV step and every scorer is a SQL-expressible
        predict metric, fit AND score the entire candidate grid from
        one cached moment aggregate via ``linear_fastpath.sweep_scores``
        — cluster work independent of grid size. Squared-error scorers
        (mse, rmse, r2) of the test folds score from that aggregate's
        test moments, so a search after a fit on the same frame starts
        no Spark job; other scorers add one grid-scoring aggregate.
        Returns per-candidate result dicts in the ``_fit_and_score``
        shape, or None to use the generic path, which also takes a
        fold the closed-form solve cannot fit (``FoldFitError``) and
        reports it per candidate. Any other error propagates."""
        from .linear_fastpath import FoldFitError, sweep_scores
        from .metrics import _fastpath_name

        pipe = self.estimator
        if len(pipe.steps) != 1 or pipe.include_indices:
            return None
        # The sweep always scores role='test'; a pipeline configured to
        # return train-group predictions would silently get different
        # cv_results_ — fall back to the generic path (ADVICE r01).
        if getattr(pipe, "return_group", "test") != "test":
            return None
        name, est = pipe.steps[0]
        cv = pipe.cv_steps[0]
        if cv is None or est is None or isinstance(est, str):
            return None
        prefix = name + "__"
        for params in candidates:
            if not all(k.startswith(prefix) for k in params):
                return None
        metrics: Dict[str, str] = {}
        for mname, scorer in scorers.items():
            if getattr(scorer, "_response_method", "predict") != "predict":
                return None
            fn = getattr(scorer, "_score_func", None)
            if fn is None:
                return None
            key = _fastpath_name(fn, getattr(scorer, "_kwargs", {}) or {})
            if key is None:
                return None
            metrics[mname] = key

        ests = []
        for params in candidates:
            e = _clone_est(est)
            e.set_params(
                **{k[len(prefix):]: v for k, v in params.items()}
            )
            ests.append(e)
        roles = (
            ("test", "train") if self.return_train_score else ("test",)
        )
        t0 = time.time()
        try:
            res = sweep_scores(
                ests, df, pipe.feature_cols, pipe.y_col, cv, metrics,
                roles=roles,
            )
        except FoldFitError:
            return None
        if res is None:
            return None
        _, folded = res
        n_splits = cv.get_n_splits()
        nan_row = [float("nan")] * n_splits
        per_cand = (time.time() - t0) / max(len(candidates), 1)
        results: List[Dict[str, Any]] = []
        for ci, params in enumerate(candidates):
            out: Dict[str, Any] = {
                "params": params,
                "fit_time": per_cand,
                "score_time": 0.0,
            }
            for mname, scorer in scorers.items():
                sign = getattr(scorer, "_sign", 1.0)
                out[f"test_{mname}"] = [
                    sign * v
                    for v in folded.get((ci, "test", mname), nan_row)
                ]
                if self.return_train_score:
                    out[f"train_{mname}"] = [
                        sign * v
                        for v in folded.get((ci, "train", mname), nan_row)
                    ]
            results.append(out)
        return results

    def _score_all(self, pipe, df, scorers, out, prefix: str) -> None:
        """Score all metrics, computing (and caching) ONE prediction pass
        per distinct response method — the reference's scorer result
        cache (metrics.py:173-194) in DataFrame form."""
        from .metrics import resolve_response_method

        by_method: Dict[str, List[Tuple[str, Any]]] = {}
        for mname, scorer in scorers.items():
            method = resolve_response_method(
                pipe, getattr(scorer, "_response_method", "predict")
            )
            by_method.setdefault(method, []).append((mname, scorer))
        for method, group in by_method.items():
            preds = pipe.predict_df(df, method=method)
            if len(group) > 1:
                preds = preds.cache()
            try:
                for mname, scorer in group:
                    if hasattr(scorer, "score_from_preds"):
                        out[f"{prefix}_{mname}"] = scorer.score_from_preds(
                            preds, pipe.y_col
                        )
                    else:
                        out[f"{prefix}_{mname}"] = scorer(pipe, df)
            finally:
                if len(group) > 1:
                    preds.unpersist()

    def fit(self, df: DataFrame) -> "BaseSearch":
        candidates = list(self._candidates())
        if not candidates:
            raise ValueError("No candidates to search")
        multimetric = isinstance(self.scoring, (list, tuple, set, dict))
        if multimetric:
            scorers = check_multimetric_scoring(self.scoring)
            if not (
                isinstance(self.refit, str) and self.refit in scorers
            ) and self.refit not in (False,) and not callable(self.refit):
                raise ValueError(
                    "For multimetric scoring, refit must be False, a metric "
                    f"name among {sorted(scorers)}, or a callable."
                )
        else:
            scorers = {"score": check_scoring(self.scoring)}
        if self.verbose:
            print(
                f"Fitting {self._n_splits()} folds for each of "
                f"{len(candidates)} candidates"
            )

        results = self._try_sweep(candidates, df, scorers)
        if results is None:
            if self.n_jobs and self.n_jobs != 1:
                jobs = (
                    self.n_jobs
                    if self.n_jobs > 0
                    else min(len(candidates), 8)
                )
                with ThreadPoolExecutor(max_workers=jobs) as pool:
                    results = list(
                        pool.map(
                            lambda p: self._fit_and_score(p, df, scorers),
                            candidates,
                        )
                    )
            else:
                results = [
                    self._fit_and_score(p, df, scorers)
                    for p in candidates
                ]

        n_failed = sum(1 for r in results if r.get("failed"))
        if n_failed == len(results):
            raise ValueError(
                "All candidates failed. Set error_score='raise' to see "
                "the underlying errors."
            )
        if n_failed:
            warnings.warn(
                f"{n_failed} of {len(results)} candidates failed "
                f"(error_score={self.error_score}).",
                stacklevel=2,
            )

        self.cv_results_ = self._format_results(results, scorers)
        self.n_splits_ = self._n_splits()
        self.multimetric_ = multimetric

        refit_metric = (
            self.refit if isinstance(self.refit, str) else "score"
        )
        # Reference model_selection.py:736-750: in SINGLE-metric
        # evaluation best_index_/best_score_/best_params_ are set even
        # when refit=False; under multimetric they require refit naming
        # a metric (or a callable).
        if self.refit or not multimetric:
            if callable(self.refit):
                self.best_index_ = int(self.refit(self.cv_results_))
            else:
                self.best_index_ = int(
                    np.argmin(
                        self.cv_results_[f"rank_test_{refit_metric}"]
                    )
                )
            self.best_params_ = self.cv_results_["params"][self.best_index_]
            if not callable(self.refit):
                self.best_score_ = float(
                    self.cv_results_[f"mean_test_{refit_metric}"][
                        self.best_index_
                    ]
                )
        if self.refit is not False:
            # refit on the full data (reference model_selection.py:752-767)
            t0 = time.time()
            self.best_estimator_ = self._clone_pipeline()
            self.best_estimator_.set_params(**self.best_params_)
            self.best_estimator_.fit(df)
            self.refit_time_ = time.time() - t0
        self.scorer_ = scorers if multimetric else scorers["score"]
        return self

    def _format_results(self, results, scorers) -> Dict[str, np.ndarray]:
        n_cand = len(results)
        n_splits = self._n_splits()
        out: Dict[str, Any] = {}
        out["params"] = [r["params"] for r in results]
        for key in ("fit_time", "score_time"):
            arr = np.array([r[key] for r in results])
            out[f"mean_{key}"] = arr
        # masked param arrays (param_<name>)
        all_keys = sorted({k for r in results for k in r["params"]})
        for k in all_keys:
            out[f"param_{k}"] = np.array(
                [r["params"].get(k, None) for r in results], dtype=object
            )
        prefixes = ["test"] + (
            ["train"] if self.return_train_score else []
        )
        for prefix in prefixes:
            for mname in scorers:
                mat = np.full((n_cand, n_splits), np.nan)
                for i, r in enumerate(results):
                    scores = r.get(f"{prefix}_{mname}", [])
                    for j, s in enumerate(scores[:n_splits]):
                        mat[i, j] = s
                for j in range(n_splits):
                    out[f"split{j}_{prefix}_{mname}"] = mat[:, j]
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")
                    # weighted mean/std over folds (reference
                    # model_selection.py:843-858): with fold weights,
                    # mean = np.average and std = sqrt of the weighted
                    # average squared deviation; without, NaN-skipping
                    # uniform statistics
                    w = self.fold_weights
                    if w is None:
                        means = np.nanmean(mat, axis=1)
                        stds = np.nanstd(mat, axis=1)
                    else:
                        w = np.asarray(w, dtype=float)
                        means = np.average(mat, axis=1, weights=w)
                        diffs = mat - means[:, None]
                        stds = np.sqrt(
                            np.average(diffs ** 2, axis=1, weights=w)
                        )
                means[np.all(np.isnan(mat), axis=1)] = np.nan
                out[f"mean_{prefix}_{mname}"] = means
                out[f"std_{prefix}_{mname}"] = stds
                if prefix == "test":
                    out[f"rank_test_{mname}"] = _rankdata_min_desc(means)
        return out

    # ---- delegation to best_estimator_ (model_selection.py:138-375) ----

    def _check_refit(self, what: str) -> None:
        if getattr(self, "best_estimator_", None) is None:
            raise AttributeError(
                f"{what} is only available after fitting with refit enabled."
            )

    def predict(self, df: DataFrame):
        self._check_refit("predict")
        return self.best_estimator_.predict(df)

    def predict_proba(self, df: DataFrame):
        self._check_refit("predict_proba")
        return self.best_estimator_.predict_proba(df)

    def predict_log_proba(self, df: DataFrame):
        self._check_refit("predict_log_proba")
        return self.best_estimator_.predict_log_proba(df)

    def transform(self, df: DataFrame):
        self._check_refit("transform")
        return self.best_estimator_.transform(df)

    def decision_function(self, df: DataFrame):
        self._check_refit("decision_function")
        return self.best_estimator_.decision_function(df)

    def score_samples(self, df: DataFrame):
        self._check_refit("score_samples")
        return self.best_estimator_.score_samples(df)

    def score(self, df: DataFrame):
        self._check_refit("score")
        return self.best_estimator_.score(df)

    @property
    def classes_(self):
        self._check_refit("classes_")
        return self.best_estimator_.classes_


class GridSearch(BaseSearch):
    """Exhaustive grid search (reference model_selection.py:936-1212)."""

    def __init__(self, estimator, param_grid, **kwargs):
        super().__init__(estimator, **kwargs)
        self.param_grid = param_grid

    def _candidates(self):
        return list(ParameterGrid(self.param_grid))


class RandomizedSearch(BaseSearch):
    """Seeded randomized search (reference model_selection.py:1215-1523)."""

    def __init__(self, estimator, param_distributions, n_iter: int = 10,
                 random_state: Optional[int] = None, **kwargs):
        super().__init__(estimator, **kwargs)
        self.param_distributions = param_distributions
        self.n_iter = n_iter
        self.random_state = random_state

    def _candidates(self):
        return list(
            ParameterSampler(
                self.param_distributions, self.n_iter, self.random_state
            )
        )
