"""cross_val_fit / cross_val_predict / cross_val_fit_predict semantics
(reference application.py:160-371): per-fold models, OOF reassembly,
return_group, drop_na_in_y, sample_weight handling, method dispatch."""

import warnings

import pytest
from pyspark.sql import functions as F

from panelsplit_spark import (
    LinearRegression,
    LogisticRegression,
    MeanRegressor,
    PanelSplit,
    StandardScaler,
    cross_val_fit,
    cross_val_fit_predict,
    cross_val_predict,
)
from panelsplit_spark.estimators import LinearRegression as _FastLinearRegression


@pytest.fixture(scope="module")
def lin(spark):
    # reference doctest data (application.py:204-211): y = 2 * feature
    rows = [(float(i), p, 2.0 * i) for i, p in zip(
        range(1, 7), [1, 1, 2, 2, 3, 3]
    )]
    return spark.createDataFrame(rows, "feature double, period int, y double")


def test_cross_val_fit_models(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    models = cross_val_fit(LinearRegression(), lin, ["feature"], "y", ps)
    assert len(models) == 2
    for m in models:
        assert m.coef_[0] == pytest.approx(2.0)
        assert m.intercept_ == pytest.approx(0.0, abs=1e-9)


def test_oof_predictions(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    preds, models = cross_val_fit_predict(
        LinearRegression(), lin, ["feature"], "y", ps
    )
    got = {
        (r["feature"], r["fold_id"]): r["prediction"]
        for r in preds.collect()
    }
    # fold 0 tests period 2 (features 3,4), fold 1 tests period 3 (5,6)
    assert got == pytest.approx(
        {(3.0, 0): 6.0, (4.0, 0): 8.0, (5.0, 1): 10.0, (6.0, 1): 12.0}
    )


def test_return_group_train(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    models = cross_val_fit(MeanRegressor(), lin, ["feature"], "y", ps)
    preds = cross_val_predict(
        models, lin, ["feature"], ps, return_group="train"
    )
    rows = preds.collect()
    # train rows: fold0 periods {1} (2 rows), fold1 {1,2} (4 rows)
    assert len(rows) == 6
    by_fold = {}
    for r in rows:
        by_fold.setdefault(r["fold_id"], []).append(r["prediction"])
    assert by_fold[0] == pytest.approx([3.0, 3.0])  # mean of y [2,4]
    assert by_fold[1] == pytest.approx([5.0] * 4)  # mean of y [2,4,6,8]


def test_mean_regressor_oof(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    preds, _ = cross_val_fit_predict(
        MeanRegressor(), lin, ["feature"], "y", ps
    )
    got = {r["fold_id"]: r["prediction"] for r in preds.collect()}
    assert got[0] == pytest.approx(3.0)
    assert got[1] == pytest.approx(5.0)


def test_drop_na_in_y(spark):
    rows = [
        (1.0, 1, 2.0),
        (2.0, 1, None),  # dropped from training when drop_na_in_y
        (3.0, 2, 6.0),
        (4.0, 2, 8.0),
        (5.0, 3, 10.0),
        (6.0, 3, 12.0),
    ]
    df = spark.createDataFrame(rows, "feature double, period int, y double")
    ps = PanelSplit(df, "period", n_splits=2)
    models = cross_val_fit(
        MeanRegressor(), df, ["feature"], "y", ps, drop_na_in_y=True
    )
    assert models[0].mean_ == pytest.approx(2.0)  # only the non-null row
    # without dropping, the NaN poisons the mean
    models2 = cross_val_fit(MeanRegressor(), df, ["feature"], "y", ps)
    import math

    assert math.isnan(models2[0].mean_)


def test_sample_weight(spark, lin):
    w = lin.withColumn(
        "w", F.when(F.col("feature") <= 2.0, 100.0).otherwise(1e-9)
    )
    ps = PanelSplit(w, "period", n_splits=2)
    models = cross_val_fit(
        MeanRegressor(), w, ["feature"], "y", ps, sample_weight_col="w"
    )
    # fold 1 train = features 1..4, weights favor y of features 1,2 (2,4)
    assert models[1].mean_ == pytest.approx(3.0, abs=1e-6)


def test_sample_weight_unsupported_warns(spark, lin):
    from helpers import NoWeightEstimator

    w = lin.withColumn("w", F.lit(1.0))
    ps = PanelSplit(w, "period", n_splits=2)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        cross_val_fit(
            NoWeightEstimator(), w, ["feature"], "y", ps,
            sample_weight_col="w",
        )
    assert any("sample_weight" in str(x.message) for x in rec)


def test_transform_method(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    models = cross_val_fit(StandardScaler(), lin, ["feature"], None, ps)
    out = cross_val_predict(
        models, lin, ["feature"], ps, method="transform"
    )
    row = out.where(
        (F.col("fold_id") == 0) & (F.col("feature") == 3.0)
    ).collect()[0]
    # fold 0 scaler fitted on features [1,2]: mean 1.5, std 0.5
    assert row["prediction"][0] == pytest.approx((3.0 - 1.5) / 0.5)


def test_predict_proba(spark):
    rows = [
        (float(i), p, 1 if i > 6 else 0)
        for i, p in zip(range(1, 13), [1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3])
    ]
    df = spark.createDataFrame(rows, "feature double, period int, y int")
    ps = PanelSplit(df, "period", n_splits=1, test_size=1)
    preds, _ = cross_val_fit_predict(
        LogisticRegression(), df, ["feature"], "y", ps,
        method="predict_proba",
    )
    r = preds.collect()[0]
    assert len(r["prediction"]) == 2
    assert sum(r["prediction"]) == pytest.approx(1.0)


def test_bad_return_group(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    with pytest.raises(ValueError, match="return_group must be"):
        cross_val_predict([MeanRegressor()], lin, ["feature"], ps,
                          return_group="oops")


def test_missing_method_raises(spark, lin):
    ps = PanelSplit(lin, "period", n_splits=2)
    models = cross_val_fit(MeanRegressor(), lin, ["feature"], "y", ps)
    with pytest.raises(AttributeError):
        cross_val_predict(models, lin, ["feature"], ps,
                          method="predict_proba")


class SlowLinearRegression(_FastLinearRegression):
    """Module-level so Spark workers can unpickle it; subclassing defeats
    the exact-type fast-path check, forcing the grouped-pandas fit."""


def test_suffstats_fastpath_matches_pandas_path(spark):
    """The closed-form moment-aggregation fit must agree with the
    grouped-pandas fit to numerical precision. A subclass falls outside
    the exact-type fast-path check, forcing the slow path — same math,
    different execution."""
    import numpy as np

    rows = [
        (float(i % 7 + 1), float(i % 5), 2000 + i % 6,
         3.0 + 1.5 * (i % 7 + 1) - 0.5 * (i % 5) + 0.01 * (i % 11))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, period int, y double")
    ps = PanelSplit(df, "period", n_splits=3)
    fast = cross_val_fit(_FastLinearRegression(), df, ["x1", "x2"], "y", ps)
    slow = cross_val_fit(SlowLinearRegression(), df, ["x1", "x2"], "y", ps)
    for mf, ms in zip(fast, slow):
        assert mf.intercept_ == pytest.approx(ms.intercept_, abs=1e-8)
        assert np.allclose(mf.coef_, ms.coef_, atol=1e-8)

    predsf, _ = cross_val_fit_predict(
        _FastLinearRegression(), df, ["x1", "x2"], "y", ps, keep_cols=["y"]
    )
    predss, _ = cross_val_fit_predict(
        SlowLinearRegression(), df, ["x1", "x2"], "y", ps, keep_cols=["y"]
    )
    a = sorted(r["prediction"] for r in predsf.collect())
    b = sorted(r["prediction"] for r in predss.collect())
    assert np.allclose(a, b, atol=1e-8)


def test_suffstats_moment_cache_shared_across_candidates(spark):
    """A hyper-parameter sweep over the closed-form family reuses ONE
    moment aggregate: fitting Ridge twice with different alphas on the
    same (df, cv) must hit the cache, and the cached fit must equal a
    cold fit exactly."""
    from panelsplit_spark.estimators import Ridge
    from panelsplit_spark.operators import linear_fastpath as lf

    rows = [
        (float(i % 7 + 1), 2000 + i % 6, 1.0 + 2.0 * (i % 7 + 1))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "x1 double, period int, y double")
    ps = PanelSplit(df, "period", n_splits=3)

    calls = []
    orig = lf._fold_moments

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    lf._fold_moments = counting
    try:
        m1 = lf.suffstats_fit(Ridge(alpha=0.5), df, ["x1"], "y", ps)
        m2 = lf.suffstats_fit(Ridge(alpha=50.0), df, ["x1"], "y", ps)
    finally:
        lf._fold_moments = orig
    assert len(calls) == 1  # second fit resolved from cached moments
    assert len(m1) == len(m2) == 3
    # cached-moment solve == cold solve for the same alpha
    cold = lf.suffstats_fit(Ridge(alpha=0.5), spark.createDataFrame(
        rows, "x1 double, period int, y double"), ["x1"], "y", ps)
    for a, b in zip(m1, cold):
        assert a.intercept_ == pytest.approx(b.intercept_, abs=1e-12)
        assert a.coef_[0] == pytest.approx(b.coef_[0], abs=1e-12)


from panelsplit_spark.estimators import StandardScaler as _Scaler


class SlowScaler(_Scaler):
    """Subclass → outside the exact-type fast path → pandas path."""


def test_scaler_fastpath_matches_pandas_path(spark):
    """Closed-form per-fold StandardScaler (moment aggregate + JVM
    transform frame) must agree with the grouped-pandas scaler to
    numerical precision, including the NULL-poisoning rule (scaler
    ignores y nulls; feature nulls poison)."""
    import numpy as np

    from panelsplit_spark.estimators import StandardScaler
    from panelsplit_spark.operators.application import (
        cross_val_fit,
        cross_val_predict,
    )

    rows = []
    for i in range(240):
        y = None if i % 17 == 0 else float(i % 11)  # y nulls: no poison
        rows.append((float(i % 9) * 1.7, float(i % 4), 2000 + i % 6, y))
    df = spark.createDataFrame(
        rows, "x1 double, x2 double, period int, y double"
    )
    ps = PanelSplit(df, "period", n_splits=3)
    fast = cross_val_fit(StandardScaler(), df, ["x1", "x2"], "y", ps)
    slow = cross_val_fit(SlowScaler(), df, ["x1", "x2"], "y", ps)
    for mf, ms in zip(fast, slow):
        assert np.allclose(mf.mean_, ms.mean_, atol=1e-9)
        assert np.allclose(mf.scale_, ms.scale_, atol=1e-9)

    pf = cross_val_predict(
        fast, df, ["x1", "x2"], ps, method="transform",
        output_col="z", output_type="array<double>", keep_cols=["period"],
    )
    psl = cross_val_predict(
        slow, df, ["x1", "x2"], ps, method="transform",
        output_col="z", output_type="array<double>", keep_cols=["period"],
    )
    a = sorted(tuple(r["z"]) for r in pf.collect())
    b = sorted(tuple(r["z"]) for r in psl.collect())
    assert np.allclose(a, b, atol=1e-9)
    # JVM path actually engaged: no Python eval in the fast plan
    plan = pf._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEval" not in plan, plan


def test_with_row_key_distributed_matches_global(spark):
    """Range-bucketed two-pass row key equals the single-partition
    global window on the same total order, and the plan contains no
    single-partition (empty partitionBy) window exchange."""
    from panelsplit_spark.operators.application import (
        with_row_key,
        with_row_key_distributed,
    )

    df = spark.range(0, 997).selectExpr(
        "pmod(id * 7919, 997) AS k", "id AS payload"
    )
    exp = {
        r["k"]: r["row_key"]
        for r in with_row_key(df, ["k"]).collect()
    }
    out = with_row_key_distributed(df, ["k"], n_buckets=8)
    got = {r["k"]: r["row_key"] for r in out.collect()}
    assert got == exp
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_with_row_key_auto_dispatches_to_distributed(spark):
    """Above the row threshold the convenience helper must hand off to
    the distributed two-pass scheme (no single-partition sort) and still
    produce the identical dense key."""
    from panelsplit_spark.operators.application import with_row_key

    df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    small = with_row_key(df, ["k"])  # under threshold: narrow window
    assert not hasattr(small, "persisted_intermediate")
    big = with_row_key(df, ["k"], auto_distributed_above=10)
    # integral key -> deterministic value-range buckets: nothing needs
    # persisting, so no handle is exposed
    assert not hasattr(big, "persisted_intermediate")
    got = {r["k"]: r["row_key"] for r in big.collect()}
    assert got == {r["k"]: r["row_key"] for r in small.collect()}
    # non-integral first key -> sampled-range path, persisted handle
    sdf = spark.range(40).selectExpr("CAST(id AS STRING) AS k")
    from panelsplit_spark.operators.application import (
        with_row_key_distributed,
    )
    sbig = with_row_key_distributed(sdf, ["k"], n_buckets=4)
    assert hasattr(sbig, "persisted_intermediate")
    try:
        skeys = {r["k"]: r["row_key"] for r in sbig.collect()}
        sexp = {
            r["k"]: r["row_key"] for r in with_row_key(
                sdf, ["k"], auto_distributed_above=None
            ).collect()
        }
        assert skeys == sexp
    finally:
        sbig.persisted_intermediate.unpersist()


def test_with_row_key_distributed_eager_releases_cache(spark):
    """eager=True must checkpoint the result and leave NO persisted
    intermediate behind (the lazy form leaks it by necessity and exposes
    the handle instead)."""
    from panelsplit_spark.operators.application import (
        with_row_key_distributed,
    )

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS k")
    before = len(
        [
            r
            for rdd_id, r in spark.sparkContext._jsc.sc()
            .getPersistentRDDs().items()
        ]
    ) if False else spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = with_row_key_distributed(df, ["k"], n_buckets=4, eager=True)
    assert not hasattr(out, "persisted_intermediate")
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # the localCheckpoint itself registers one RDD; the ranged persist
    # must be gone, so growth is at most the checkpoint's own entry
    assert after - before <= 1
    keys = [r["row_key"] for r in out.orderBy("k").collect()]
    assert keys == list(range(100))


def test_oof_target_encode_matches_hand_computation(spark):
    """Leakage check by construction: fold-f encodings must equal the
    smoothed means computed from fold-f TRAIN rows only (hand-computed
    with a driver-side replica of the fold arithmetic)."""
    from panelsplit_spark.operators.cross_validation import PanelSplit
    from panelsplit_spark.operators.encoding import oof_target_encode

    rows = []
    rid = 0
    for p in range(1, 9):
        for j in range(4):
            cat = "ab"[j % 2]
            # category 'c' appears ONLY in late periods -> unseen in
            # early folds' train windows
            if p >= 7 and j == 3:
                cat = "c"
            rows.append((rid, p, cat, float(10 * p + j)))
            rid += 1
    df = spark.createDataFrame(
        rows, "rid long, period int, cat string, y double"
    )
    ps = PanelSplit(df, "period", n_splits=3, test_size=1)
    w, q = 10.0, 100.0
    got = {
        (r["rid"], r["fold_id"]): r["te"]
        for r in oof_target_encode(
            df, "cat", "y", ps, prior_weight=w, quantize=q,
            keep_cols=["rid"],
        ).collect()
    }
    assert len(got) == 3 * 4  # 3 folds x 1 test period x 4 rows

    # driver-side replica: expanding window, test periods 6, 7, 8
    by_fold_periods = {0: range(1, 6), 1: range(1, 7), 2: range(1, 8)}
    test_period = {0: 6, 1: 7, 2: 8}
    data = [(r[0], r[1], r[2], r[3]) for r in rows]
    for f, train_ps in by_fold_periods.items():
        train = [(c, y) for (_, p, c, y) in data if p in train_ps]
        gs = sum(round(y * q) for _, y in train)
        gn = len(train)
        gm = (gs / q) / gn
        for rid_, p, c, _ in data:
            if p != test_period[f]:
                continue
            s = sum(round(y * q) for cc, y in train if cc == c)
            n = sum(1 for cc, _ in train if cc == c)
            want = (s / q + w * gm) / (n + w)
            assert got[(rid_, f)] == pytest.approx(want, abs=1e-9), (
                f, rid_, c,
            )
            if c == "c" and n == 0:
                # category unseen in THIS fold's train window must
                # collapse to the fold's global prior
                assert got[(rid_, f)] == pytest.approx(gm, abs=1e-9)


def test_one_moment_cube_serves_splitters_and_null_rules(spark):
    """OLS on one splitter, a scaler on another splitter of the same
    frame, and a ridge on the first again all resolve from ONE
    per-period aggregate — and every fit equals a cold fit on a fresh
    frame (no memo)."""
    import numpy as np

    from panelsplit_spark.estimators import Ridge
    from panelsplit_spark.operators import linear_fastpath as lf

    rows = [
        (float(i % 5), float(i % 3), 2000 + i % 8,
         None if i == 6 else 1.0 + 2.0 * (i % 5) - (i % 3))
        for i in range(160)
    ]
    schema = "x1 double, x2 double, period int, y double"
    df = spark.createDataFrame(rows, schema)
    ps = PanelSplit(df, "period", n_splits=3)
    ps_scale = PanelSplit(df, "period", n_splits=2,
                          include_first_train_in_test=True)
    feats = ["x1", "x2"]

    calls = []
    orig = lf._fold_moments

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    lf._fold_moments = counting
    try:
        ols = lf.suffstats_fit(LinearRegression(), df, feats, "y", ps)
        scl = lf.suffstats_fit(StandardScaler(), df, feats, "y", ps_scale)
        rdg = lf.suffstats_fit(Ridge(alpha=3.0), df, feats, "y", ps)
    finally:
        lf._fold_moments = orig
    assert len(calls) == 1

    def cold(est, cv):
        fresh = spark.createDataFrame(rows, schema)
        return lf.suffstats_fit(est, fresh, feats, "y", cv)

    for got, want in (
        (ols, cold(LinearRegression(), ps)),
        (rdg, cold(Ridge(alpha=3.0), ps)),
    ):
        for a, b in zip(got, want):
            np.testing.assert_allclose(a.coef_, b.coef_, equal_nan=True)
            assert a.intercept_ == pytest.approx(b.intercept_, nan_ok=True)
    for a, b in zip(scl, cold(StandardScaler(), ps_scale)):
        np.testing.assert_allclose(a.mean_, b.mean_)
        np.testing.assert_allclose(a.scale_, b.scale_)
    # the NULL y (period 2006, only in the last train set) poisons the
    # linear fits that see it, never the scaler
    assert np.isnan(ols[-1].coef_).all() and not np.isnan(ols[0].coef_).any()
    assert not any(np.isnan(m.mean_).any() for m in scl)


def _panel_rows(nan_col=None):
    """200 rows over periods 2000..2005; ``nan_col`` ("x1" or "y") gets
    one NaN (not NULL) in period 2004, which with ``n_splits=3`` only
    the last fold trains on."""
    rows = []
    for i in range(200):
        x1, x2, p = float(i % 7 + 1), float(i % 5), 2000 + i % 6
        y = 3.0 + 1.5 * x1 - 0.5 * x2 + 0.01 * (i % 11)
        if i == 4 and nan_col == "x1":
            x1 = float("nan")
        if i == 4 and nan_col == "y":
            y = float("nan")
        rows.append((x1, x2, p, y))
    return rows


@pytest.mark.parametrize("nan_col", ["y", "x1"])
def test_nan_moment_poisons_only_folds_that_train_on_it(spark, nan_col):
    """A NaN value (not NULL) in one period's y or x reaches only the
    folds whose train set holds that period: earlier folds stay finite
    and equal the grouped-pandas fit, and the last fold is NaN on both
    paths."""
    import numpy as np

    df = spark.createDataFrame(
        _panel_rows(nan_col), "x1 double, x2 double, period int, y double"
    )
    ps = PanelSplit(df, "period", n_splits=3)
    assert [2004 in f.train_periods for f in ps.spec.folds] == [
        False, False, True
    ]
    if nan_col == "y":
        fast = cross_val_fit(_FastLinearRegression(), df, ["x1", "x2"],
                             "y", ps)
        slow = cross_val_fit(SlowLinearRegression(), df, ["x1", "x2"],
                             "y", ps)
        got = [np.r_[m.intercept_, m.coef_] for m in fast]
        want = [np.r_[m.intercept_, m.coef_] for m in slow]
    else:
        fast = cross_val_fit(_Scaler(), df, ["x1", "x2"], "y", ps)
        slow = cross_val_fit(SlowScaler(), df, ["x1", "x2"], "y", ps)
        got = [np.r_[m.mean_, m.scale_] for m in fast]
        want = [np.r_[m.mean_, m.scale_] for m in slow]
    for a, b in zip(got[:2], want[:2]):
        assert np.isfinite(a).all()
        np.testing.assert_allclose(a, b, atol=1e-8)
    assert np.isnan(got[2]).any() and np.isnan(want[2]).any()
    np.testing.assert_allclose(got[2], want[2], atol=1e-8, equal_nan=True)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_feature_raises_naming_the_fold(spark, bad):
    """A NaN or Inf feature value (not NULL) in a period the last fold
    trains on is an input error naming that fold, on the closed-form
    path and on the grouped-pandas path, as sklearn rejects it; numpy's
    untyped ``LinAlgError`` never reaches the caller. A NULL feature
    keeps its NaN-coefficient result."""
    import numpy as np

    from panelsplit_spark.estimators import Ridge

    rows = _panel_rows()
    rows[4] = (bad, *rows[4][1:])
    schema = "x1 double, x2 double, period int, y double"
    df = spark.createDataFrame(rows, schema)
    ps = PanelSplit(df, "period", n_splits=3)
    for est in (LinearRegression(), Ridge(alpha=1.0)):
        with pytest.raises(
            ValueError, match="Fold 2: a training feature value is non-finite"
        ):
            cross_val_fit(est, df, ["x1", "x2"], "y", ps)
    with pytest.raises(
        Exception, match="Fold 2: Input X contains NaN or infinity"
    ):
        cross_val_fit(SlowLinearRegression(), df, ["x1", "x2"], "y", ps)
    for est in (_FastLinearRegression(), Ridge()):
        with pytest.raises(ValueError, match="Input X contains NaN"):
            est.fit(np.array([[1.0], [bad]]), np.array([1.0, 2.0]))

    rows[4] = (None, *rows[4][1:])
    models = cross_val_fit(
        LinearRegression(), spark.createDataFrame(rows, schema),
        ["x1", "x2"], "y", ps,
    )
    assert np.isnan(models[2].coef_).all()
    assert np.isfinite(models[0].coef_).all()


def test_masked_fold_sum_keeps_ieee_semantics_per_fold():
    """Fold sums over a cube with NaN / ±Inf entries: a fold sees only
    the entries of its own member rows, summed as numpy would."""
    import numpy as np

    from panelsplit_spark.operators.linear_fastpath import _masked_sum

    inf, nan = float("inf"), float("nan")
    cube = np.array([
        [1.0, 2.0, inf, 1.0],
        [2.0, nan, -inf, 1.0],
        [3.0, 4.0, 5.0, inf],
    ])
    member = np.array([
        [1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0],
        [1.0, 1.0, 0.0],
        [1.0, 0.0, 1.0],
        [0.0, 0.0, 0.0],
    ])
    with np.errstate(invalid="ignore"):  # inf + -inf
        want = np.array([cube[m > 0].sum(axis=0) for m in member])
    np.testing.assert_array_equal(_masked_sum(member, cube), want)


def _capture_cubes(lf):
    cubes = []
    orig = lf._fold_moments

    def capture(*a, **k):
        cubes.append(orig(*a, **k))
        return cubes[-1]

    return cubes, orig, capture


def test_moment_cube_aggregates_only_fold_snapshots(spark):
    """With a snapshot column the cube keeps only the vintages some fold
    reads, not every (period, snapshot) pair, and the fits still equal
    the grouped-pandas path."""
    import numpy as np

    from panelsplit_spark.operators import linear_fastpath as lf

    rows = [
        (float(i % 7), p, s, 1.0 + 2.0 * (i % 7) + 0.1 * s + 0.01 * i)
        for p in range(1, 7) for s in range(4, 8) for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "x1 double, period int, snap int, y double"
    )
    ps = PanelSplit(df, "period", snapshot_col="snap", n_splits=2)
    assert [f.snapshot_value for f in ps.spec.folds] == [5, 6]
    cubes, orig, capture = _capture_cubes(lf)
    lf._fold_moments = capture
    try:
        fast = cross_val_fit(_FastLinearRegression(), df, ["x1"], "y", ps)
    finally:
        lf._fold_moments = orig
    assert len(cubes) == 1 and set(cubes[0].snapshots) == {5, 6}
    slow = cross_val_fit(SlowLinearRegression(), df, ["x1"], "y", ps)
    for a, b in zip(fast, slow):
        np.testing.assert_allclose(
            np.r_[a.intercept_, a.coef_], np.r_[b.intercept_, b.coef_],
            atol=1e-8,
        )


def test_moment_cube_applies_splitter_scan_range(spark):
    """A splitter with a raw-column scan mapping aggregates only the
    raw range of its train periods (and memoises that cube apart from
    the unscoped one); the fits equal the unscoped splitter's."""
    import numpy as np

    from panelsplit_spark.operators import linear_fastpath as lf

    df = spark.range(400).select(
        (F.col("id") % 100).alias("t"),
        (F.col("id") % 7).cast("double").alias("x1"),
        (F.col("id") % 5 + 2 * (F.col("id") % 7)).cast("double").alias("y"),
    ).withColumn("period", (F.col("t") / 10).cast("int"))
    plain = PanelSplit(df, "period", n_splits=2, max_train_size=3)
    scoped = PanelSplit(
        df, "period", n_splits=2, max_train_size=3, scan_col="t",
        period_bounds=lambda p: (p * 10, p * 10 + 10),
    )
    cubes, orig, capture = _capture_cubes(lf)
    lf._fold_moments = capture
    try:
        got = cross_val_fit(_FastLinearRegression(), df, ["x1"], "y", scoped)
        want = cross_val_fit(_FastLinearRegression(), df, ["x1"], "y", plain)
    finally:
        lf._fold_moments = orig
    assert len(cubes) == 2
    assert sorted(cubes[0].periods) == [5, 6, 7, 8]
    assert sorted(cubes[1].periods) == list(range(10))
    for a, b in zip(got, want):
        np.testing.assert_allclose(
            np.r_[a.intercept_, a.coef_], np.r_[b.intercept_, b.coef_]
        )


def _assert_literal_plan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert "LocalTableScan" not in plan, plan


def test_closed_form_apply_and_sweep_plans_have_no_broadcast(spark):
    """The closed-form OOF projections and the grid-scoring pass look
    coefficients up in literal arrays: no broadcast of a driver-built
    table anywhere in their plans."""
    from panelsplit_spark.estimators import Ridge
    from panelsplit_spark.operators import linear_fastpath as lf

    df = spark.range(300).select(
        (F.col("id") % 12).alias("period"),
        (F.col("id") % 7).cast("double").alias("x"),
        (F.col("id") % 5 + 2 * (F.col("id") % 7)).cast("double").alias("y"),
    )
    ps = PanelSplit(df, "period", n_splits=3)
    assigned = ps.assign(df, roles=("test",))
    _assert_literal_plan(assigned)
    models = cross_val_fit(LinearRegression(), df, ["x"], "y", ps)
    pred = lf.linear_predict_frame(
        assigned, models, ["x"], "predict", ["y", "fold_id"], "p"
    )
    _assert_literal_plan(pred)
    scalers = cross_val_fit(StandardScaler(), df, ["x"], "y", ps)
    scaled = lf.scaler_transform_frame(
        assigned, scalers, ["x"], ["fold_id"], "z"
    )
    _assert_literal_plan(scaled)

    frames = []
    orig = lf._grid_score_frame

    def capture(*a, **k):
        frames.append(orig(*a, **k))
        return frames[-1]

    lf._grid_score_frame = capture
    try:
        # mae keeps the grid on the row pass (squared-error scores
        # alone come from the moment cube, with no grid frame)
        res = lf.sweep_scores(
            [Ridge(alpha=0.1), Ridge(alpha=10.0)], df, ["x"], "y", ps,
            {"mse": "mse", "mae": "mae"},
        )
    finally:
        lf._grid_score_frame = orig
    assert res is not None and len(frames) == 1
    _assert_literal_plan(frames[0])
    # the grid pass scores each candidate exactly like its own OOF pass
    _, folded = res
    for ci, alpha in enumerate((0.1, 10.0)):
        preds, _ = cross_val_fit_predict(
            Ridge(alpha=alpha), df, ["x"], "y", ps, keep_cols=["y"]
        )
        by_fold = {}
        for r in preds.collect():
            by_fold.setdefault(r["fold_id"], []).append(
                (r["y"] - r["prediction"]) ** 2
            )
        want = [sum(v) / len(v) for _, v in sorted(by_fold.items())]
        assert folded[(ci, "test", "mse")] == pytest.approx(want)


def _estimators_with_fake_sklearn(monkeypatch):
    """A fresh copy of ``panelsplit_spark.estimators`` imported while a
    fake ``sklearn.base`` is installed (sklearn itself is optional)."""
    import importlib.util
    import sys
    import types

    import panelsplit_spark.estimators as est

    base = types.ModuleType("sklearn.base")

    class BaseEstimator:
        fail = False

    def sk_clone(e):
        if e.fail:
            raise RuntimeError("sklearn clone failed")
        return ("sklearn-clone", e)

    base.BaseEstimator, base.clone = BaseEstimator, sk_clone
    pkg = types.ModuleType("sklearn")
    pkg.base = base
    monkeypatch.setitem(sys.modules, "sklearn", pkg)
    monkeypatch.setitem(sys.modules, "sklearn.base", base)
    spec = importlib.util.spec_from_file_location("_est_sk", est.__file__)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod, BaseEstimator


def test_clone_routes_only_sklearn_estimators_to_sklearn(monkeypatch):
    mod, SkEstimator = _estimators_with_fake_sklearn(monkeypatch)
    sk = SkEstimator()
    assert mod.clone(sk) == ("sklearn-clone", sk)
    sk.fail = True
    with pytest.raises(RuntimeError, match="sklearn clone failed"):
        mod.clone(sk)
    own = mod.Ridge(alpha=3.0)
    twin = mod.clone(own)
    assert type(twin) is mod.Ridge and twin is not own
    assert twin.get_params() == own.get_params()


def test_clone_without_sklearn_imports_nothing(monkeypatch):
    """sklearn is resolved once at import: a clone() call attempts no
    import, so it pays no failed import when sklearn is absent."""
    import builtins

    import panelsplit_spark.estimators as est

    seen = []
    real_import = builtins.__import__

    def spy(name, *args, **kwargs):
        seen.append(name)
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", spy)
    twin = est.clone(est.Ridge(alpha=2.0))
    monkeypatch.undo()
    assert twin.alpha == 2.0
    assert not [n for n in seen if n.startswith("sklearn")], seen
