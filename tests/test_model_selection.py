"""GridSearch / RandomizedSearch: cv_results_ contract, refit variants,
error_score, multimetric (reference tests/test_search.py semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from panelsplit_spark import (
    LinearRegression,
    MeanRegressor,
    PanelSplit,
    Ridge,
    cross_val_fit,
    cross_val_predict,
)
from panelsplit_spark.operators.model_selection import (
    GridSearch,
    ParameterGrid,
    ParameterSampler,
    RandomizedSearch,
)
from panelsplit_spark.operators.pipeline import SequentialCVPipeline


@pytest.fixture(scope="module")
def panel(spark):
    rng = np.random.default_rng(42)
    rows = []
    for p in range(1, 9):
        for _ in range(6):
            x1 = float(rng.normal())
            x2 = float(rng.normal())
            y = 3.0 * x1 - 2.0 * x2 + float(rng.normal() * 0.01)
            rows.append((p, x1, x2, y))
    return spark.createDataFrame(
        rows, "period int, x1 double, x2 double, y double"
    )


def _pipe(spark_df):
    ps = PanelSplit(spark_df, "period", n_splits=3)
    return SequentialCVPipeline(
        [("reg", Ridge(alpha=1.0))], [ps], ["x1", "x2"], y_col="y"
    )


def test_parameter_grid():
    g = ParameterGrid({"a": [1, 2], "b": ["x", "y"]})
    combos = list(g)
    assert len(combos) == len(g) == 4
    assert {"a": 1, "b": "x"} in combos


def test_parameter_sampler_seeded():
    s1 = list(ParameterSampler({"a": [1, 2, 3]}, 5, random_state=7))
    s2 = list(ParameterSampler({"a": [1, 2, 3]}, 5, random_state=7))
    assert s1 == s2 and len(s1) == 5


def test_grid_search_basic(spark, panel):
    gs = GridSearch(
        _pipe(panel),
        {"reg__alpha": [100.0, 1e-6]},
        scoring="neg_mean_squared_error",
    )
    gs.fit(panel)
    # tiny alpha ~= OLS recovers the linear law -> best
    assert gs.best_params_ == {"reg__alpha": 1e-6}
    assert gs.best_index_ == 1
    res = gs.cv_results_
    assert len(res["params"]) == 2
    for j in range(3):
        assert f"split{j}_test_score" in res
    assert res["rank_test_score"][gs.best_index_] == 1
    assert "param_reg__alpha" in res
    # refit model predicts on new data
    assert gs.predict(panel).count() > 0


def test_randomized_search(spark, panel):
    rs = RandomizedSearch(
        _pipe(panel),
        {"reg__alpha": [1e-6, 1.0, 10.0, 100.0]},
        n_iter=3,
        random_state=0,
        scoring="neg_mean_squared_error",
    )
    rs.fit(panel)
    assert len(rs.cv_results_["params"]) == 3
    assert hasattr(rs, "best_estimator_")


def test_refit_false(spark, panel):
    gs = GridSearch(
        _pipe(panel), {"reg__alpha": [1.0]},
        scoring="neg_mean_squared_error", refit=False,
    )
    gs.fit(panel)
    assert not hasattr(gs, "best_estimator_")
    with pytest.raises(AttributeError, match="refit"):
        gs.predict(panel)


def test_refit_callable(spark, panel):
    def pick_first(cv_results):
        return 0

    gs = GridSearch(
        _pipe(panel), {"reg__alpha": [100.0, 1e-6]},
        scoring="neg_mean_squared_error", refit=pick_first,
    )
    gs.fit(panel)
    assert gs.best_index_ == 0
    assert gs.best_params_ == {"reg__alpha": 100.0}


def test_multimetric_requires_named_refit(spark, panel):
    with pytest.raises(ValueError, match="refit must be"):
        GridSearch(
            _pipe(panel), {"reg__alpha": [1.0]},
            scoring=["r2", "neg_mean_squared_error"], refit=True,
        ).fit(panel)


def test_multimetric(spark, panel):
    gs = GridSearch(
        _pipe(panel), {"reg__alpha": [100.0, 1e-6]},
        scoring=["r2", "neg_mean_squared_error"], refit="r2",
    )
    gs.fit(panel)
    assert "mean_test_r2" in gs.cv_results_
    assert "mean_test_neg_mean_squared_error" in gs.cv_results_
    assert gs.best_params_ == {"reg__alpha": 1e-6}


def test_error_score_nan(spark, panel):
    class Exploder(Ridge):
        def fit(self, X, y, sample_weight=None):
            raise RuntimeError("boom")

    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", Exploder())], [ps], ["x1", "x2"], y_col="y"
    )
    gs = GridSearch(
        pipe, {"reg__alpha": [1.0]}, scoring="neg_mean_squared_error",
        error_score="raise",
    )
    with pytest.raises(Exception):
        gs.fit(panel)


def test_return_train_score(spark, panel):
    gs = GridSearch(
        _pipe(panel), {"reg__alpha": [1e-6]},
        scoring="neg_mean_squared_error", return_train_score=True,
    )
    gs.fit(panel)
    assert "mean_train_score" in gs.cv_results_


class _SlowRidge(Ridge):
    """Subclass falls outside the exact-type closed-form checks,
    forcing the generic per-candidate fit/score path."""


def test_fitted_pipeline_pickle_roundtrip(spark, panel):
    """A fitted SequentialCVPipeline (per-fold models + fold spec +
    sargable period_bounds) must survive pickle and predict identically
    (reference pipeline.py:1145-1244 pickle protocol)."""
    import pickle

    from panelsplit_spark.operators.cross_validation import (
        date_period_bounds,
    )

    df = panel.withColumn(
        "pstr", F.format_string("2024-01-%02d", F.col("period"))
    )
    ps = PanelSplit(
        df, "pstr", n_splits=3,
        period_bounds=date_period_bounds("yyyy-MM-dd"),
    )
    pipe = SequentialCVPipeline(
        [("reg", Ridge(alpha=1.0))], [ps], ["x1", "x2"], y_col="y"
    )
    pipe.fit(df)
    clone = pickle.loads(pickle.dumps(pipe))
    a = sorted(
        (r["period"], r["fold_id"], round(r["prediction"], 9))
        for r in pipe.predict(df).collect()
    )
    b = sorted(
        (r["period"], r["fold_id"], round(r["prediction"], 9))
        for r in clone.predict(df).collect()
    )
    assert a == b and len(a) > 0
    assert [n for n, _ in clone.steps] == ["reg"]


def test_search_delegates_decision_function_and_asserts_indices(
    spark, panel
):
    """decision_function/score_samples forward to best_estimator_;
    include_indices=True pipelines are rejected at construction
    (reference model_selection.py:126-128, 138-375)."""
    from panelsplit_spark import LogisticRegression

    df = panel.withColumn("label", (F.col("x2") > 0.0).cast("int"))
    ps = PanelSplit(df, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("clf", LogisticRegression())], [ps], ["x1", "x2"],
        y_col="label",
    )
    gs = GridSearch(pipe, {"clf__l2": [1e-6]}, scoring="accuracy")
    gs.fit(df)
    z = gs.decision_function(df).collect()
    assert len(z) > 0  # OOF rows forwarded through best_estimator_
    with pytest.raises(AttributeError):
        gs.score_samples(df)  # final estimator lacks score_samples
    bad = SequentialCVPipeline(
        [("clf", LogisticRegression())], [ps], ["x1", "x2"],
        y_col="label", include_indices=True,
    )
    with pytest.raises(ValueError, match="include_indices"):
        GridSearch(bad, {"clf__l2": [1e-6]}, scoring="accuracy")


def test_weighted_std_in_cv_results(spark, panel):
    """fold_weights reproduce the reference's weighted mean/std formula
    (model_selection.py:843-858)."""
    import numpy as np

    w = [1.0, 2.0, 3.0]
    gs = GridSearch(
        _pipe(panel), {"reg__alpha": [1.0]},
        scoring="neg_mean_squared_error", refit=False, fold_weights=w,
    )
    gs.fit(panel)
    splits = np.array([
        gs.cv_results_[f"split{j}_test_score"][0] for j in range(3)
    ])
    mean = np.average(splits, weights=w)
    std = np.sqrt(np.average((splits - mean) ** 2, weights=w))
    assert gs.cv_results_["mean_test_score"][0] == pytest.approx(mean)
    assert gs.cv_results_["std_test_score"][0] == pytest.approx(std)


def test_sweep_bails_on_return_group_train(spark, panel):
    """A pipeline configured with return_group='train' must NOT take the
    whole-grid sweep (which always scores role='test'); results must
    match the generic per-candidate path (ADVICE r01)."""
    import numpy as np

    grid = {"reg__alpha": [1e-6, 100.0]}

    def run(est):
        ps = PanelSplit(panel, "period", n_splits=3)
        pipe = SequentialCVPipeline(
            [("reg", est)], [ps], ["x1", "x2"], y_col="y",
            return_group="train",
        )
        gs = GridSearch(
            pipe, grid, scoring="neg_mean_squared_error", refit=False
        )
        gs.fit(panel)
        return gs

    fast = run(Ridge(alpha=1.0))       # closed-form type: sweep-eligible
    slow = run(_SlowRidge(alpha=1.0))  # forced generic path
    for j in range(3):
        a = fast.cv_results_[f"split{j}_test_score"]
        b = slow.cv_results_[f"split{j}_test_score"]
        assert np.allclose(a, b, rtol=1e-9), (j, a, b)


def test_sweep_matches_generic_path(spark, panel):
    """The whole-grid sweep (2 Spark jobs for the entire grid) must
    produce the same cv_results_ as the generic per-candidate path,
    including multimetric + train scores."""
    import numpy as np

    grid = {"reg__alpha": [1e-6, 1.0, 100.0]}
    scoring = {
        "mse": "neg_mean_squared_error",
        "mae": "neg_mean_absolute_error",
        "r2": "r2",
    }

    def run(est):
        ps = PanelSplit(panel, "period", n_splits=3)
        pipe = SequentialCVPipeline(
            [("reg", est)], [ps], ["x1", "x2"], y_col="y"
        )
        gs = GridSearch(
            pipe, grid, scoring=scoring, refit="mse",
            return_train_score=True,
        )
        gs.fit(panel)
        return gs

    fast = run(Ridge(alpha=1.0))
    slow = run(_SlowRidge(alpha=1.0))
    assert fast.best_params_ == slow.best_params_
    for m in scoring:
        for j in range(3):
            for grp in ("test", "train"):
                a = fast.cv_results_[f"split{j}_{grp}_{m}"]
                b = slow.cv_results_[f"split{j}_{grp}_{m}"]
                assert np.allclose(a, b, rtol=1e-9), (m, j, grp, a, b)
        assert (
            fast.cv_results_[f"rank_test_{m}"]
            == slow.cv_results_[f"rank_test_{m}"]
        ).all()


def test_randomized_matches_grid_on_sampled_subset(spark, panel):
    """RandomizedSearch's scores are exactly GridSearch's restricted to
    the sampled candidates: same sampler draws -> same closed-form sweep
    -> per-split scores and mean must agree bit-for-bit, and the
    within-subset rank ordering must match a grid run over just those
    values (oracle twin: queries_wide.q_search_random_ridge)."""
    pool = [1e-6, 1.0, 10.0, 100.0, 1e4]
    rs = RandomizedSearch(
        _pipe(panel),
        {"reg__alpha": pool},
        n_iter=4,
        random_state=3,
        scoring="neg_mean_squared_error",
        refit=False,
    )
    rs.fit(panel)
    sampled = [p["reg__alpha"] for p in rs.cv_results_["params"]]
    assert sampled == [
        p["reg__alpha"]
        for p in ParameterSampler({"reg__alpha": pool}, 4, 3)
    ], "fit must consume the seeded sampler's exact draw sequence"

    # grid over the de-duplicated sampled values
    uniq = sorted(set(sampled))
    gs = GridSearch(
        _pipe(panel), {"reg__alpha": uniq},
        scoring="neg_mean_squared_error", refit=False,
    )
    gs.fit(panel)
    gpos = {a: i for i, a in enumerate(
        p["reg__alpha"] for p in gs.cv_results_["params"]
    )}
    for i, a in enumerate(sampled):
        g = gpos[a]
        for j in range(3):
            assert (
                rs.cv_results_[f"split{j}_test_score"][i]
                == gs.cv_results_[f"split{j}_test_score"][g]
            )
        assert (
            rs.cv_results_["mean_test_score"][i]
            == gs.cv_results_["mean_test_score"][g]
        )
    # rank ordering within the subset matches the grid's ordering
    rs_order = np.argsort(rs.cv_results_["rank_test_score"], kind="stable")
    gs_rank_of_sampled = [
        gs.cv_results_["rank_test_score"][gpos[a]] for a in sampled
    ]
    gs_order = np.argsort(gs_rank_of_sampled, kind="stable")
    assert list(rs_order) == list(gs_order)


def test_n_jobs_concurrent_candidates_deterministic(spark, panel):
    """SURVEY §2.5 idiom parity: the reference runs candidates through
    joblib.Parallel (model_selection.py:636-638); here ``n_jobs`` maps
    to driver threads issuing concurrent Spark jobs. cv_results_ must
    be IDENTICAL (exact floats, same candidate order) at n_jobs=1 vs 4
    — the thread pool preserves candidate order via pool.map and each
    candidate clones its own pipeline, so concurrency must never leak
    into results. Two steps force the generic per-candidate path (the
    closed-form sweep would bypass the pool)."""
    from panelsplit_spark import StandardScaler

    def pipe2():
        ps1 = PanelSplit(panel, "period", n_splits=3,
                         include_first_train_in_test=True)
        ps2 = PanelSplit(panel, "period", n_splits=3)
        return SequentialCVPipeline(
            [("sc", StandardScaler()), ("reg", Ridge(alpha=1.0))],
            [ps1, ps2],
            ["x1", "x2"],
            y_col="y",
        )

    grid = {"reg__alpha": [1e-6, 0.1, 1.0, 10.0]}
    results = {}
    for nj in (1, 4):
        gs = GridSearch(
            pipe2(), grid, scoring="neg_mean_squared_error",
            refit=False, n_jobs=nj,
        )
        gs.fit(panel)
        results[nj] = gs.cv_results_
    r1, r4 = results[1], results[4]
    assert [p["reg__alpha"] for p in r1["params"]] == [
        p["reg__alpha"] for p in r4["params"]
    ]
    for j in range(3):
        assert list(r1[f"split{j}_test_score"]) == list(
            r4[f"split{j}_test_score"]
        )
    assert list(r1["mean_test_score"]) == list(r4["mean_test_score"])
    assert list(r1["rank_test_score"]) == list(r4["rank_test_score"])


# ----------------------------------------------------------------------
# squared-error grid scores from the moment cube
# ----------------------------------------------------------------------


def _wide_panel(spark, offset=0.0):
    rng = np.random.default_rng(5)
    rows = []
    for p in range(10):
        for _ in range(25):
            x1, x2 = (float(v) for v in rng.normal(size=2))
            rows.append((p, x1, x2, 4.0 + 2.0 * x1 - x2
                         + float(rng.normal()) + offset))
    return spark.createDataFrame(
        rows, "period int, x1 double, x2 double, y double"
    )


def _search(df, est, grid, scoring, **split):
    ps = PanelSplit(df, "period", n_splits=4, **split)
    pipe = SequentialCVPipeline([("reg", est)], [ps], ["x1", "x2"],
                                y_col="y")
    return GridSearch(pipe, grid, scoring=scoring, refit=False)


SQUARED = {
    "mse": "neg_mean_squared_error",
    "rmse": "neg_root_mean_squared_error",
    "r2": "r2",
}


class _SlowLinear(LinearRegression):
    """Outside the exact-type closed-form checks: generic path."""


class _SlowMean(MeanRegressor):
    """Outside the exact-type closed-form checks: generic path."""


@pytest.mark.parametrize("split", [{}, {"gap": 1}, {"test_size": 2},
                                   {"include_first_train_in_test": True}])
@pytest.mark.parametrize("kind", ["ridge", "ols", "mean"])
def test_squared_error_grid_from_moments_matches_generic(spark, kind,
                                                         split):
    """With the cube warm, the sweep scores every candidate with no
    Spark job, within 1e-9 of the generic per-candidate path."""
    from helpers import spark_jobs

    df = _wide_panel(spark)
    est, slow, grid = {
        "ridge": (Ridge(), _SlowRidge(), {"reg__alpha": [0.1, 10.0]}),
        "ols": (LinearRegression(), _SlowLinear(),
                {"reg__fit_intercept": [True, False]}),
        "mean": (MeanRegressor(), _SlowMean(), {}),
    }[kind]
    _search(df, est, grid, SQUARED, **split).fit(df)  # warms the cube
    fast = _search(df, est, grid, SQUARED, **split)
    with spark_jobs(spark) as jobs:
        fast.fit(df)
    assert jobs == []
    generic = _search(df, slow, grid, SQUARED, **split).fit(df)
    for m in SQUARED:
        for j in range(4):
            a = fast.cv_results_[f"split{j}_test_{m}"]
            b = generic.cv_results_[f"split{j}_test_{m}"]
            assert np.allclose(a, b, rtol=1e-9, atol=0.0), (m, j, a, b)


def test_grid_fit_with_warm_cube_starts_no_job_and_mae_aggregates(
    spark
):
    from helpers import spark_jobs

    df = _wide_panel(spark)
    grid = {"reg__alpha": [0.1, 1.0, 10.0]}
    _search(df, Ridge(), grid, "neg_mean_squared_error").fit(df)
    with spark_jobs(spark) as jobs:
        _search(df, Ridge(), grid, "neg_mean_squared_error").fit(df)
    assert jobs == []
    with spark_jobs(spark) as jobs:
        _search(df, Ridge(), grid, "neg_mean_absolute_error").fit(df)
    assert len(jobs) > 0


@pytest.mark.parametrize("case", ["offset", "weight"])
def test_grid_fallbacks_score_the_rows(spark, case):
    """A y offset of 1e8 (cancellation bound) and a sample weight keep
    the grid on the row pass, with the generic path's scores."""
    from helpers import spark_jobs

    from panelsplit_spark.operators import linear_fastpath as lf

    df = _wide_panel(spark, offset=1e8 if case == "offset" else 0.0)
    df = df.withColumn("w", F.lit(1.0) + F.col("x1") ** 2)
    ps = PanelSplit(df, "period", n_splits=4)
    weight = "w" if case == "weight" else None
    ests = [Ridge(alpha=0.1), Ridge(alpha=10.0)]
    lf.sweep_scores(ests, df, ["x1", "x2"], "y", ps, {"m": "mse"},
                    sample_weight_col=weight)  # warms the cube
    with spark_jobs(spark) as jobs:
        _, folded = lf.sweep_scores(
            ests, df, ["x1", "x2"], "y", ps, {"m": "mse"},
            sample_weight_col=weight,
        )
    assert len(jobs) > 0
    for ci, est in enumerate(ests):
        models = cross_val_fit(est, df, ["x1", "x2"], "y", ps,
                               sample_weight_col=weight)
        preds = cross_val_predict(models, df, ["x1", "x2"], ps)
        want = {}
        for r in preds.collect():
            want.setdefault(r["fold_id"], []).append(
                (r["y"] - r["prediction"]) ** 2
            )
        assert np.allclose(
            folded[(ci, "test", "m")],
            [np.mean(want[f]) for f in range(4)], rtol=1e-9, atol=0.0,
        )


def test_sweep_fold_fit_error_takes_generic_path(spark, panel,
                                                 monkeypatch):
    """A fold the closed-form solve cannot fit (here: no training rows)
    sends the search to the generic path, which reports it per
    candidate."""
    from panelsplit_spark.operators.linear_fastpath import FoldFitError

    ps = PanelSplit.from_folds([([99], [2]), ([1], [3])], "period")
    pipe = SequentialCVPipeline([("reg", Ridge())], [ps], ["x1", "x2"],
                                y_col="y")
    calls = []
    orig = GridSearch._fit_and_score

    def spy(self, *a, **k):
        calls.append(a[0])
        return orig(self, *a, **k)

    monkeypatch.setattr(GridSearch, "_fit_and_score", spy)
    gs = GridSearch(pipe, {"reg__alpha": [1.0, 2.0]},
                    scoring="neg_mean_squared_error", error_score="raise")
    with pytest.raises(FoldFitError, match="Fold 0 has no training rows"):
        gs.fit(panel)
    assert calls == [{"reg__alpha": 1.0}]


def test_sweep_other_errors_surface(spark, panel, monkeypatch):
    """Any other error in the whole-grid sweep propagates instead of
    silently switching to the generic path."""
    from panelsplit_spark.operators import linear_fastpath as lf

    def boom(*a, **k):
        raise RuntimeError("sweep broke")

    monkeypatch.setattr(lf, "sweep_scores", boom)
    gs = GridSearch(_pipe(panel), {"reg__alpha": [1.0]},
                    scoring="neg_mean_squared_error")
    with pytest.raises(RuntimeError, match="sweep broke"):
        gs.fit(panel)
