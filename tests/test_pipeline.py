"""SequentialCVPipeline over Spark: step chaining, OOF feature flow,
passthrough, params, slicing, classes_, score (reference pipeline.py
semantics; config grid mirrors tests/test_sequentialcvpipeline_indices.py).
"""

import pytest
from pyspark.sql import functions as F

from helpers import spark_jobs

from panelsplit_spark import (
    FirstColumnRegressor,
    LinearRegression,
    LogisticRegression,
    PanelSplit,
    StandardScaler,
)
from panelsplit_spark.operators.pipeline import SequentialCVPipeline


@pytest.fixture(scope="module")
def panel(spark):
    # 8 periods x 4 rows; y = 2*x1 - x2, deterministic
    rows = []
    for p in range(1, 9):
        for j in range(4):
            x1 = float(p * 10 + j)
            x2 = float(j + 1)
            rows.append((p, x1, x2, 2 * x1 - x2))
    return spark.createDataFrame(
        rows, "period int, x1 double, x2 double, y double"
    )


@pytest.mark.parametrize("cv_first,cv_second", [
    (False, False), (True, False), (False, True), (True, True),
])
def test_config_grid(spark, panel, cv_first, cv_second):
    # chained-CV steps need include_first_train_in_test=True so the OOF
    # output covers every row — the reference's own test pattern
    # (tests/test_sequentialcvpipeline_indices.py:19)
    ps1 = (
        PanelSplit(panel, "period", n_splits=3,
                   include_first_train_in_test=True)
        if cv_first else None
    )
    ps2 = PanelSplit(panel, "period", n_splits=3) if cv_second else None
    pipe = SequentialCVPipeline(
        steps=[("scale", StandardScaler()), ("reg", LinearRegression())],
        cv_steps=[ps1, ps2],
        feature_cols=["x1", "x2"],
        y_col="y",
    )
    pipe.fit(panel)
    preds = pipe.predict(panel)
    rows = preds.collect()
    assert len(rows) > 0
    import math

    assert all(math.isfinite(r["prediction"]) for r in rows)
    if not cv_first:
        # un-distorted features: the linear relation is recovered exactly
        err = max(abs(r["y"] - r["prediction"]) for r in rows)
        assert err < 1e-6


def test_oof_only_test_rows(spark, panel):
    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [ps], ["x1", "x2"], y_col="y"
    )
    pipe.fit(panel)
    preds = pipe.predict(panel)
    periods = sorted({r["period"] for r in preds.select("period").collect()})
    assert periods == [6, 7, 8]  # only test periods of the 3 folds


def test_passthrough_step(spark, panel):
    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("noop", None), ("reg", LinearRegression())],
        [None, ps],
        ["x1", "x2"],
        y_col="y",
    )
    pipe.fit(panel)
    assert pipe.fitted_steps_["noop"] is None
    assert pipe.predict(panel).count() > 0


def test_identity_order_invariant(spark, panel):
    """FirstColumnRegressor: prediction == x1 for every OOF row — the
    order-restoration invariant (reference tests/test_pipeline.py:224-256)
    expressed relationally: predictions stay attached to their rows.
    Feature columns are replaced by the pipeline, so join back on a key."""
    keyed = panel.withColumn(
        "rid", F.monotonically_increasing_id()
    ).cache()
    keyed.count()  # pin the ids
    ps = PanelSplit(keyed, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", FirstColumnRegressor())], [ps], ["x1", "x2"], y_col="y"
    )
    preds = pipe.fit_predict(keyed)
    joined = preds.join(keyed.select("rid", "x1"), "rid").collect()
    assert len(joined) > 0
    for r in joined:
        assert r["prediction"] == r["x1"]


def test_get_set_params_nested(spark, panel):
    pipe = SequentialCVPipeline(
        [("scale", StandardScaler()), ("reg", LinearRegression())],
        [None, None],
        ["x1", "x2"],
        y_col="y",
    )
    params = pipe.get_params()
    assert params["reg__fit_intercept"] is True
    pipe.set_params(reg__fit_intercept=False)
    assert pipe.steps[1][1].fit_intercept is False
    with pytest.raises(ValueError, match="Unknown step"):
        pipe.set_params(nope__x=1)


def test_slicing(spark, panel):
    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("scale", StandardScaler()), ("reg", LinearRegression())],
        [None, ps],
        ["x1", "x2"],
        y_col="y",
    )
    pipe.fit(panel)
    assert isinstance(pipe[1], LinearRegression)
    sub = pipe[:1]
    assert [n for n, _ in sub.steps] == ["scale"]
    assert "scale" in sub.fitted_steps_


def test_classes_union(spark, panel):
    df = panel.withColumn("label", (F.col("x2") > 2.0).cast("int"))
    ps = PanelSplit(df, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("clf", LogisticRegression())], [ps], ["x1", "x2"], y_col="label"
    )
    pipe.fit(df)
    assert list(pipe.classes_) == [0, 1]


class XOnlyScaler:
    """fit(X) — no y parameter at all (module level: executor tasks
    pickle the fitted instance)."""

    def get_params(self, deep=True):
        return {}

    def fit(self, X):
        self.mean_ = X.mean(axis=0)
        return self

    def transform(self, X):
        return X - self.mean_


class NeedsY:
    def get_params(self, deep=True):
        return {}

    def fit(self, X, y):  # y REQUIRED
        self.n_ = len(y)
        return self

    def predict(self, X):
        import numpy as np

        return np.zeros(len(X))


def test_y_signature_reflection(spark, panel):
    """Reference pipeline.py:86-162 (issue #59): methods that take y
    get it, methods that don't are called with X alone, and a
    REQUIRED y with y_col=None raises."""
    from panelsplit_spark.operators.pipeline import (
        _METHOD_SIGNATURE_CACHE,
        _call_method_with_correct_args,
    )

    # X-only transformer fits inside a pipeline step
    pipe = SequentialCVPipeline(
        [("sc", XOnlyScaler()), ("reg", LinearRegression())],
        [None, None], ["x1", "x2"], y_col="y",
    )
    pipe.fit(panel)
    assert pipe.predict(panel).count() == panel.count()
    assert "fit" in _METHOD_SIGNATURE_CACHE.get(XOnlyScaler, {})

    # required-y estimator + y_col=None raises the reference's error
    bad = SequentialCVPipeline(
        [("m", NeedsY())], [None], ["x1", "x2"], y_col=None
    )
    with pytest.raises(ValueError, match="requires y"):
        bad.fit(panel)

    # direct utility parity
    import numpy as np

    m = NeedsY().fit(np.zeros((3, 1)), [1, 2, 3])
    assert list(
        _call_method_with_correct_args(m, "predict", np.zeros((2, 1)))
    ) == [0.0, 0.0]
    with pytest.raises(ValueError, match="requires y"):
        _call_method_with_correct_args(m, "fit", np.zeros((2, 1)))


def test_estimator_type_and_sklearn_tags(spark, panel):
    df = panel.withColumn("label", (F.col("x2") > 2.0).cast("int"))
    clf_pipe = SequentialCVPipeline(
        [("clf", LogisticRegression())], [None], ["x1", "x2"],
        y_col="label",
    )
    assert clf_pipe._estimator_type == "classifier"

    class Tagged(LinearRegression):
        _estimator_type = "regressor"

        def __sklearn_tags__(self):
            return {"requires_y": True}

    tag_pipe = SequentialCVPipeline(
        [("reg", Tagged())], [None], ["x1", "x2"], y_col="y"
    )
    assert tag_pipe._estimator_type == "regressor"
    assert tag_pipe.__sklearn_tags__() == {"requires_y": True}
    plain = SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1", "x2"], y_col="y"
    )
    with pytest.raises(AttributeError):
        plain.__sklearn_tags__()


def test_multiclass_logreg_and_classes_union(spark, panel):
    """OvR multiclass LogisticRegression keeps the classes_/proba
    contract through a CV pipeline (reference pipeline.py:1032-1103
    handles multiclass through sklearn)."""
    df = panel.withColumn(  # x2 takes values 1..4 in the fixture
        "label",
        F.when(F.col("x2") > 3.0, 2)
        .when(F.col("x2") > 1.5, 1)
        .otherwise(0),
    )
    ps = PanelSplit(df, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("clf", LogisticRegression())], [ps], ["x1", "x2"], y_col="label"
    )
    pipe.fit(df)
    assert list(pipe.classes_) == [0, 1, 2]
    preds = pipe.predict(df).collect()
    assert {r["prediction"] for r in preds} <= {0.0, 1.0, 2.0}
    proba = pipe.predict_proba(df).collect()
    for r in proba[:20]:
        assert len(r["prediction"]) == 3
        assert sum(r["prediction"]) == pytest.approx(1.0)
    # the label rule is an x2 threshold: OvR should recover it well
    # (predict_df passes the label column through)
    import numpy as np

    acc = np.mean([float(r["prediction"]) == r["label"] for r in preds])
    assert acc > 0.8


def test_classes_on_regressor_raises(spark, panel):
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1", "x2"], y_col="y"
    )
    pipe.fit(panel)
    with pytest.raises(AttributeError):
        _ = pipe.classes_


def test_score_per_fold(spark, panel):
    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [ps], ["x1", "x2"], y_col="y"
    )
    pipe.fit(panel)
    scores = pipe.score(panel)
    assert len(scores) == 3
    for s in scores:
        assert s > 0.99  # exact linear relation -> r2 ~ 1


def test_unfitted_raises(spark, panel):
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1", "x2"], y_col="y"
    )
    with pytest.raises(RuntimeError, match="not fitted"):
        pipe.predict(panel)


def test_unsupported_method_raises(spark, panel):
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1", "x2"], y_col="y"
    )
    pipe.fit(panel)
    with pytest.raises(AttributeError):
        pipe.predict_proba(panel)


def test_available_if_hides_methods(spark):
    """hasattr mirrors the FINAL step's capability (sklearn available_if
    semantics): a transform-only pipeline has no .predict, a regressor
    pipeline has no .predict_proba — checked at attribute access, not at
    call time."""
    scaler_pipe = SequentialCVPipeline(
        [("scale", StandardScaler())], [None], ["x1"], y_col="y"
    )
    assert hasattr(scaler_pipe, "transform")
    assert not hasattr(scaler_pipe, "predict")
    assert not hasattr(scaler_pipe, "fit_predict")

    reg_pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1"], y_col="y"
    )
    assert hasattr(reg_pipe, "predict")
    assert hasattr(reg_pipe, "fit_predict")
    assert not hasattr(reg_pipe, "predict_proba")
    assert not hasattr(reg_pipe, "transform")

    # class-level access (no instance) returns the descriptor, so
    # introspection tools don't explode
    assert SequentialCVPipeline.predict is not None


def test_duplicate_step_names_rejected(spark):
    with pytest.raises(ValueError, match="unique"):
        SequentialCVPipeline(
            [("a", StandardScaler()), ("a", LinearRegression())],
            [None, None],
            ["x1"],
        )


def test_pickle_roundtrip_fitted(spark, panel):
    """A FITTED pipeline round-trips pickle (reference
    pipeline.py:1145-1244): fitted per-fold models, slicing state, and
    predictions all survive dumps/loads. Our fitted state is
    driver-local plain Python by construction (cross_val_fit collects
    models), so no __getstate__ scrubbing is needed — this test pins
    that contract."""
    import pickle

    ps1 = PanelSplit(panel, "period", n_splits=3,
                     include_first_train_in_test=True)
    ps2 = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        steps=[("scale", StandardScaler()), ("reg", LinearRegression())],
        cv_steps=[ps1, ps2],
        feature_cols=["x1", "x2"],
        y_col="y",
    )
    pipe.fit(panel)
    clone = pickle.loads(pickle.dumps(pipe))

    a = pipe.predict_df(panel).orderBy("period", "y").collect()
    b = clone.predict_df(panel).orderBy("period", "y").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]

    # sliced sub-pipeline keeps fitted state through pickle too
    sub = pickle.loads(pickle.dumps(clone[:1]))
    assert sub.transform(panel).count() == panel.count()

    # unfitted pipelines pickle as well (config-only state)
    fresh = pickle.loads(pickle.dumps(SequentialCVPipeline(
        [("reg", LinearRegression())], [None], ["x1", "x2"], y_col="y",
    )))
    fresh.fit(panel)
    assert fresh.predict(panel).count() == panel.count()


def test_sklearn_is_fitted_protocol(spark, panel):
    """Unfitted pipeline reports not-fitted; fitted reports fitted —
    the reference's check_is_fitted fix (tests/test_check_fitted_fix.py)
    via the explicit __sklearn_is_fitted__ hook."""
    from panelsplit_spark import (
        LinearRegression,
        PanelSplit,
        SequentialCVPipeline,
    )

    ps = PanelSplit(panel, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [ps], ["x1"], y_col="y"
    )
    assert pipe.__sklearn_is_fitted__() is False
    try:
        from sklearn.utils.validation import check_is_fitted
        from sklearn.exceptions import NotFittedError

        try:
            check_is_fitted(pipe)
            raise AssertionError("expected NotFittedError")
        except NotFittedError:
            pass
    except ImportError:
        pass  # sklearn absent: the hook itself is the contract
    pipe.fit(panel)
    assert pipe.__sklearn_is_fitted__() is True


def test_y_signature_catch_all_and_name_collision():
    """Code-review r02 fixes: *args/**kwargs fit signatures are treated
    as y-accepting (no silent label drop), and the signature cache keys
    on full class identity so same-named classes don't collide."""
    import numpy as np

    from panelsplit_spark.operators.pipeline import (
        _call_method_with_correct_args,
        _y_signature,
    )

    class VarArgs:
        def fit(self, *args):
            self.n_args = len(args)
            return self

    m = VarArgs()
    accepts_y, requires_y = _y_signature(m, "fit")
    assert accepts_y and not requires_y
    _call_method_with_correct_args(m, "fit", np.zeros((2, 1)), [1, 2])
    assert m.n_args == 2  # y was passed through

    def make(has_y):
        if has_y:
            class Scaler:
                def fit(self, X, y):
                    return self
        else:
            class Scaler:
                def fit(self, X):
                    return self
        return Scaler

    A, B = make(False), make(True)
    assert _y_signature(A(), "fit") == (False, False)
    # same bare name, different class: must NOT reuse A's cache entry
    assert _y_signature(B(), "fit") == (True, True)


def test_fit_single_row_guard(spark):
    """A fit-on-all step (cv=None) funnels the frame through ONE task:
    above max_fit_rows the fit must raise the clear guard error, not
    OOM an executor; None disables the guard."""
    import pytest

    from panelsplit_spark import StandardScaler
    from panelsplit_spark.operators.pipeline import SequentialCVPipeline

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) AS x", "CAST(id * 2 AS DOUBLE) AS y"
    )
    pipe = SequentialCVPipeline(
        [("sc", StandardScaler())], [None], ["x"], y_col="y",
        max_fit_rows=10,
    )
    with pytest.raises(ValueError, match="max_fit_rows"):
        pipe.fit(df)
    # disabled guard (and the generous default) still fit fine
    pipe2 = SequentialCVPipeline(
        [("sc", StandardScaler())], [None], ["x"], y_col="y",
        max_fit_rows=None,
    )
    pipe2.fit(df)
    assert pipe2.__sklearn_is_fitted__()


def test_y_signature_cache_is_weak():
    """Dynamically created estimator classes must stay collectable —
    the signature cache may not pin them for process lifetime."""
    import gc

    from panelsplit_spark.operators.pipeline import (
        _METHOD_SIGNATURE_CACHE,
        _y_signature,
    )

    class Ephemeral:
        def fit(self, X, y):
            return self

    _y_signature(Ephemeral(), "fit")
    assert any(c.__name__ == "Ephemeral" for c in _METHOD_SIGNATURE_CACHE)
    del Ephemeral
    gc.collect()
    assert not any(
        c.__name__ == "Ephemeral" for c in _METHOD_SIGNATURE_CACHE
    )


def test_fit_releases_cached_oof_frames(spark, panel):
    """Intermediate OOF frames are cached while the chain fits and
    released before ``fit`` returns: the persistent-RDD count comes
    back to its starting value."""
    from panelsplit_spark.utils.storage import pinned_rdd_ids

    ps1 = PanelSplit(panel, "period", n_splits=3,
                     include_first_train_in_test=True)
    ps2 = PanelSplit(panel, "period", n_splits=3)
    before = len(pinned_rdd_ids(spark))
    pipe = SequentialCVPipeline(
        [("scale", StandardScaler()), ("scale2", StandardScaler()),
         ("lr", LinearRegression())],
        [ps1, ps1, ps2], ["x1", "x2"], y_col="y",
    )
    pipe.fit(panel)
    assert len(pinned_rdd_ids(spark)) == before
    assert pipe.predict_df(panel).count() > 0


def test_scaler_width_known_without_probe(spark, panel):
    """A fitted closed-form scaler knows its output width, so no probe
    job runs (the frame is never touched); opaque models are probed."""
    pipe = SequentialCVPipeline(
        [("scale", StandardScaler())], [None], ["x1", "x2"], y_col="y"
    )
    scaler = StandardScaler().fit(
        panel.select("x1", "x2").toPandas()
    )
    assert pipe._probe_width(scaler, "transform", None, ["x1", "x2"]) == 2
    lr = LinearRegression().fit(
        panel.select("x1", "x2").toPandas(),
        panel.select("y").toPandas()["y"],
    )
    assert pipe._probe_width(lr, "predict", panel, ["x1", "x2"]) == 1


# ----------------------------------------------------------------------
# moment propagation: closed-form steps after a CV scaler fit from the
# scaler input's moment cube, read through the scaler's affine maps
# ----------------------------------------------------------------------

FEATS3 = ["x0", "x1", "x2"]


def _rand_panel(spark, seed=11, bad=None):
    """10 periods x 24 rows, three features on different scales; ``bad``
    maps (period, feature index) to a value written into that period's
    first row."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for p in range(10):
        for j in range(24):
            x = rng.normal(size=3) * [1.0, 4.0, 50.0] + [0.0, 2.0, 300.0]
            y = float(x @ [1.5, -0.5, 0.02] + rng.normal())
            rows.append([p * 24 + j, p, *map(float, x), y])
    for (p, i), v in (bad or {}).items():
        rows[p * 24][2 + i] = v
    return spark.createDataFrame(
        rows, "rid long, period int, x0 double, x1 double, x2 double, "
        "y double",
    )


def _fit_both(monkeypatch, make, df):
    """``(view_fit, materialized_fit, oof_frames_built_by_view_fit)``.
    The materialized fit builds every OOF frame and fits on it, as
    when no view applies."""
    from panelsplit_spark.operators import pipeline as pm

    built = []
    real = pm.SequentialCVPipeline._transform_cv

    def counting(self, *a, **k):
        built.append(1)
        return real(self, *a, **k)

    with monkeypatch.context() as m:
        m.setattr(pm.SequentialCVPipeline, "_transform_cv", counting)
        fast = make().fit(df)
    with monkeypatch.context() as m:
        m.setattr(pm, "scaler_view_step", lambda *a: None)
        slow = make().fit(df)
    return fast, slow, len(built)


def _close(a, b):
    import numpy as np

    a, b = np.asarray(a, float), np.asarray(b, float)
    scale = np.nanmax(np.abs(np.append(b.ravel(), 1.0)))
    np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-9 * scale)


def _preds(pipe, df):
    """Predictions keyed by every other output column (row keys, y and
    fold_id); an overlapping OOF group yields several per key."""
    out = {}
    for r in pipe.predict_df(df).collect():
        row = r.asDict()
        p = row.pop("prediction")
        out.setdefault(tuple(sorted(row.items())), []).append(p)
    return {k: sorted(v) for k, v in out.items()}


def _assert_same(fast, slow, df):
    """Every step's per-fold parameters and the predict_df output agree
    within 1e-9 relative (NaN where the other has NaN)."""
    for name, (kind, models) in slow.fitted_steps_.items():
        got = fast.fitted_steps_[name][1]
        for a, b in zip(got, models):
            for attr in ("mean_", "scale_", "coef_", "intercept_"):
                if getattr(b, attr, None) is not None:
                    _close(getattr(a, attr), getattr(b, attr))
    want, got = _preds(slow, df), _preds(fast, df)
    assert got.keys() == want.keys()
    for k in want:
        _close(got[k], want[k])


def _scale_then(final, ps_scale, ps, **kw):
    return lambda: SequentialCVPipeline(
        [("scale", StandardScaler()), ("final", final)],
        [ps_scale, ps], FEATS3, y_col="y", **kw,
    )


def test_scaler_ridge_fits_through_the_view(spark, monkeypatch):
    from panelsplit_spark import Ridge

    df = _rand_panel(spark)
    ps = PanelSplit(df, "period", n_splits=3)
    ps_s = PanelSplit(df, "period", n_splits=3,
                      include_first_train_in_test=True)
    fast, slow, built = _fit_both(
        monkeypatch, _scale_then(Ridge(alpha=1.0), ps_s, ps), df
    )
    assert built == 0
    _assert_same(fast, slow, df)


def test_chained_scalers_compose_in_the_view(spark, panel, monkeypatch):
    ps1 = PanelSplit(panel, "period", n_splits=3,
                     include_first_train_in_test=True)
    ps2 = PanelSplit(panel, "period", n_splits=3)

    def make():
        return SequentialCVPipeline(
            [("scale", StandardScaler()), ("scale2", StandardScaler()),
             ("lr", LinearRegression())],
            [ps1, ps1, ps2], ["x1", "x2"], y_col="y",
        )

    fast, slow, built = _fit_both(monkeypatch, make, panel)
    assert built == 0
    _assert_same(fast, slow, panel)


# the scaler never trains on period 4 but passes it on in fold 0's test
# group; the final step trains on it in folds 1 and 2
_SCALE_SKIPS_4 = [([0, 1, 2], [0, 1, 2, 3, 4, 5]),
                  ([0, 1, 2, 3, 5], [6, 7, 8, 9])]
_FINAL_FOLDS = [([0, 1, 2, 3], [5, 6]), ([0, 1, 2, 3, 4, 5, 6], [7, 8]),
                ([0, 1, 2, 3, 4, 5, 6, 7, 8], [9])]


def test_null_x_period_poisons_the_same_folds(spark, monkeypatch):
    import numpy as np

    df = _rand_panel(spark, bad={(4, 1): None})
    make = _scale_then(
        LinearRegression(), PanelSplit.from_folds(_SCALE_SKIPS_4),
        PanelSplit.from_folds(_FINAL_FOLDS),
    )
    fast, slow, built = _fit_both(monkeypatch, make, df)
    assert built == 0
    coefs = [m.coef_ for m in fast.fitted_steps_["final"][1]]
    assert np.isfinite(coefs[0]).all()
    assert np.isnan(coefs[1]).all() and np.isnan(coefs[2]).all()
    _assert_same(fast, slow, df)


@pytest.mark.parametrize("value,period", [
    (float("nan"), 4), (float("inf"), 4), (float("-inf"), 4),
    (float("nan"), 1),
])
def test_non_finite_x_takes_the_materialized_path(
    spark, monkeypatch, value, period
):
    """A non-finite moment in a period the view reads (period 4), or a
    non-finite scaler parameter (the scaler trains on period 1), sends
    the fit to the materialized OOF frame. The final step ignores x, so
    the fit itself stays finite."""
    from panelsplit_spark import MeanRegressor

    df = _rand_panel(spark, bad={(period, 0): value})
    make = _scale_then(
        MeanRegressor(), PanelSplit.from_folds(_SCALE_SKIPS_4),
        PanelSplit.from_folds(_FINAL_FOLDS),
    )
    fast, slow, built = _fit_both(monkeypatch, make, df)
    assert built == 1
    _assert_same(fast, slow, df)


def test_overlapping_oof_groups_count_every_copy(spark, monkeypatch):
    """Periods 4-6 are in both scaler folds' test groups, so the OOF
    frame holds two differently scaled copies of their rows."""
    from panelsplit_spark import Ridge

    df = _rand_panel(spark, seed=3)
    overlap = PanelSplit.from_folds([
        ([0, 1, 2], [0, 1, 2, 3, 4, 5, 6]),
        ([0, 1, 2, 3, 4], [4, 5, 6, 7, 8, 9]),
    ])
    make = _scale_then(
        Ridge(alpha=0.5), overlap, PanelSplit.from_folds(_FINAL_FOLDS)
    )
    fast, slow, built = _fit_both(monkeypatch, make, df)
    assert built == 0
    _assert_same(fast, slow, df)


def test_return_group_train_through_the_view(spark, monkeypatch):
    df = _rand_panel(spark, seed=4)
    ps = PanelSplit(df, "period", n_splits=3)
    fast, slow, built = _fit_both(
        monkeypatch,
        _scale_then(LinearRegression(), ps, ps, return_group="train"), df,
    )
    assert built == 0
    _assert_same(fast, slow, df)


def test_mean_regressor_final_step_through_the_view(spark, monkeypatch):
    from panelsplit_spark import MeanRegressor

    df = _rand_panel(spark, seed=5)
    ps = PanelSplit(df, "period", n_splits=3)
    ps_s = PanelSplit(df, "period", n_splits=3,
                      include_first_train_in_test=True)
    fast, slow, built = _fit_both(
        monkeypatch, _scale_then(MeanRegressor(), ps_s, ps), df
    )
    assert built == 0
    _assert_same(fast, slow, df)


def test_pipeline_fit_from_a_warm_cube_starts_no_job(spark):
    """Once ``cross_val_fit`` has filled the frame's moment cube, a
    scaler -> ridge fit on the same frame and features runs no Spark
    job: both steps resolve from the memoised cube."""
    from panelsplit_spark import Ridge, cross_val_fit

    df = _rand_panel(spark, seed=6)
    ps = PanelSplit(df, "period", n_splits=3)
    ps_s = PanelSplit(df, "period", n_splits=3,
                      include_first_train_in_test=True)
    cross_val_fit(LinearRegression(), df, FEATS3, "y", ps)
    with spark_jobs(spark) as jobs:
        _scale_then(Ridge(alpha=1.0), ps_s, ps)().fit(df)
    assert jobs == []
    with spark_jobs(spark) as jobs:
        df.count()  # the probe does see this thread's jobs
    assert jobs


def test_fit_caches_only_frames_read_twice(spark, panel, monkeypatch):
    """The OOF frame feeding only the final (generic) fit is not cached;
    a frame the next step both fits on and transforms is, and every
    cached frame is released before ``fit`` returns."""
    from panelsplit_spark import FirstColumnRegressor, IdentityTransformer
    from panelsplit_spark.utils.storage import pinned_rdd_ids

    ps1 = PanelSplit(panel, "period", n_splits=3,
                     include_first_train_in_test=True)
    ps2 = PanelSplit(panel, "period", n_splits=3)
    calls = []
    cls = type(panel)
    real = cls.cache

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(cls, "cache", counting)
    before = len(pinned_rdd_ids(spark))
    SequentialCVPipeline(
        [("scale", StandardScaler()), ("first", FirstColumnRegressor())],
        [ps1, ps2], ["x1", "x2"], y_col="y",
    ).fit(panel)
    assert calls == []
    SequentialCVPipeline(
        [("scale", StandardScaler()), ("id", IdentityTransformer()),
         ("first", FirstColumnRegressor())],
        [ps1, ps1, ps2], ["x1", "x2"], y_col="y",
    ).fit(panel)
    assert len(calls) == 1
    assert len(pinned_rdd_ids(spark)) == before
