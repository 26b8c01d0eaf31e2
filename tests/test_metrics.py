"""Metric functions, per-fold scoring paths (SQL fast path vs grouped
pandas UDF), scorer factory + registry (reference metrics.py semantics)."""

import numpy as np
import pytest

from panelsplit_spark.operators import metrics as M


def test_numpy_metrics_basic():
    y = np.array([1.0, 2.0, 3.0, 4.0])
    p = np.array([1.5, 2.0, 2.5, 5.0])
    assert M.mean_squared_error(y, p) == pytest.approx(
        np.mean((y - p) ** 2)
    )
    assert M.mean_absolute_error(y, p) == pytest.approx(
        np.mean(np.abs(y - p))
    )
    assert M.max_error(y, p) == pytest.approx(1.0)
    assert M.r2_score(y, y) == 1.0
    assert M.r2_score(y, np.full_like(y, y.mean())) == pytest.approx(0.0)


def test_classification_metrics():
    y = np.array([0, 0, 1, 1, 1])
    p = np.array([0, 1, 1, 1, 0])
    assert M.accuracy_score(y, p) == pytest.approx(3 / 5)
    assert M.precision_score(y, p) == pytest.approx(2 / 3)
    assert M.recall_score(y, p) == pytest.approx(2 / 3)
    assert M.f1_score(y, p) == pytest.approx(2 / 3)
    # perfect separation
    s = np.array([0.1, 0.2, 0.8, 0.9, 0.7])
    assert M.roc_auc_score(y, s) == 1.0
    assert M.average_precision_score(y, s) == 1.0


def test_roc_auc_with_ties():
    y = np.array([0, 1, 0, 1])
    s = np.array([0.5, 0.5, 0.5, 0.5])
    assert M.roc_auc_score(y, s) == pytest.approx(0.5)


def test_per_fold_scores_sql_vs_udf(spark):
    rows = [
        (0, 1.0, 1.5), (0, 2.0, 2.5), (1, 3.0, 3.0), (1, 4.0, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "fold_id int, y double, prediction double"
    )
    sql_scores = {
        r["fold_id"]: r["score"]
        for r in M.per_fold_scores(df, "y", "prediction", "mse").collect()
    }
    udf_scores = {
        r["fold_id"]: r["score"]
        for r in M.per_fold_scores(
            df, "y", "prediction", M.mean_squared_error
        ).collect()
    }
    assert sql_scores == pytest.approx({0: 0.25, 1: 0.5})
    assert udf_scores == pytest.approx(sql_scores)


def test_per_fold_scores_nan_parity(spark):
    """Fast-path medae/accuracy must reproduce numpy NaN semantics on
    NULL-containing data: medae poisons to NaN, accuracy counts the NaN
    row as a mismatch (ADVICE r01)."""
    rows = [
        (0, 1.0, 1.0), (0, None, 2.0), (0, 3.0, 3.5),
        (1, 1.0, 1.0), (1, 2.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "fold_id int, y double, prediction double"
    )
    for name, fn in (
        ("medae", M.median_absolute_error),
        ("accuracy", M.accuracy_score),
    ):
        sql_scores = {
            r["fold_id"]: r["score"]
            for r in M.per_fold_scores(
                df, "y", "prediction", name
            ).collect()
        }
        udf_scores = {
            r["fold_id"]: r["score"]
            for r in M.per_fold_scores(df, "y", "prediction", fn).collect()
        }
        for fid in (0, 1):
            a, b = sql_scores[fid], udf_scores[fid]
            assert (np.isnan(a) and np.isnan(b)) or a == pytest.approx(
                b
            ), (name, fid, a, b)
    # fold 0 had a NULL y: medae poisons, accuracy counts it wrong
    medae0 = M.per_fold_scores(df, "y", "prediction", "medae").collect()
    assert np.isnan({r["fold_id"]: r["score"] for r in medae0}[0])
    acc = {
        r["fold_id"]: r["score"]
        for r in M.per_fold_scores(
            df, "y", "prediction", "accuracy"
        ).collect()
    }
    assert acc[0] == pytest.approx(1 / 3)
    assert acc[1] == pytest.approx(1.0)


def test_per_fold_r2_decomposed(spark):
    rows = [(0, 1.0, 1.1), (0, 2.0, 1.9), (0, 3.0, 3.2), (0, 4.0, 3.9)]
    df = spark.createDataFrame(
        rows, "fold_id int, y double, prediction double"
    )
    got = M.per_fold_scores(df, "y", "prediction", "r2").collect()[0]["score"]
    want = M.r2_score(
        np.array([1.0, 2.0, 3.0, 4.0]), np.array([1.1, 1.9, 3.2, 3.9])
    )
    assert got == pytest.approx(want)


def test_all_registry_scorers_constructible():
    """Every registry scorer constructs (reference
    tests/test_metrics.py:145-147) and the registry mirrors the
    reference's ~58 names."""
    for name in M.SCORER_NAMES:
        s = M.get_scorer(name)
        assert callable(s), name
    # the reference _SCORERS surface (metrics.py:553-724)
    expected = {
        "explained_variance", "r2", "neg_max_error", "matthews_corrcoef",
        "neg_median_absolute_error", "neg_mean_absolute_error",
        "neg_mean_absolute_percentage_error", "neg_mean_squared_error",
        "neg_mean_squared_log_error", "neg_root_mean_squared_error",
        "neg_root_mean_squared_log_error", "neg_mean_poisson_deviance",
        "neg_mean_gamma_deviance", "d2_absolute_error_score",
        "d2_brier_score", "d2_log_loss_score", "accuracy",
        "top_k_accuracy", "roc_auc", "roc_auc_ovr", "roc_auc_ovo",
        "roc_auc_ovr_weighted", "roc_auc_ovo_weighted",
        "balanced_accuracy", "average_precision", "neg_log_loss",
        "neg_brier_score", "positive_likelihood_ratio",
        "neg_negative_likelihood_ratio", "adjusted_rand_score",
        "rand_score", "homogeneity_score", "completeness_score",
        "v_measure_score", "mutual_info_score",
        "adjusted_mutual_info_score", "normalized_mutual_info_score",
        "fowlkes_mallows_score",
    } | {
        f"{m}{suffix}"
        for m in ("precision", "recall", "f1", "jaccard")
        for suffix in ("", "_macro", "_micro", "_samples", "_weighted")
    }
    missing = expected - set(M.SCORER_NAMES)
    assert not missing, f"registry missing reference scorers: {missing}"


def test_averaged_prf_values():
    y = np.array([0, 0, 1, 1, 2, 2])
    p = np.array([0, 1, 1, 1, 2, 0])
    # per-class: c0 tp=1 fp=1 fn=1; c1 tp=2 fp=1 fn=0; c2 tp=1 fp=0 fn=1
    assert M.precision_score(y, p, average="macro") == pytest.approx(
        (1 / 2 + 2 / 3 + 1 / 1) / 3
    )
    assert M.precision_score(y, p, average="micro") == pytest.approx(4 / 6)
    assert M.recall_score(y, p, average="macro") == pytest.approx(
        (1 / 2 + 2 / 2 + 1 / 2) / 3
    )
    assert M.recall_score(y, p, average="weighted") == pytest.approx(
        (2 * 0.5 + 2 * 1.0 + 2 * 0.5) / 6
    )
    # per-class f1 = 2tp/(2tp+fp+fn): c0 2/4, c1 4/5, c2 2/3
    assert M.f1_score(y, p, average="macro") == pytest.approx(
        (2 / 4 + 4 / 5 + 2 / 3) / 3
    )
    assert M.jaccard_score(y, p, average="micro") == pytest.approx(
        4 / (4 + 2 + 2)
    )
    with pytest.raises(ValueError, match="samples"):
        M.precision_score(y, p, average="samples")
    # binary path unchanged
    yb = np.array([0, 0, 1, 1, 1])
    pb = np.array([0, 1, 1, 1, 0])
    assert M.precision_score(yb, pb) == pytest.approx(2 / 3)


def test_multiclass_roc_auc():
    y = np.array([0, 0, 1, 1, 2, 2])
    # perfectly separable probabilities -> every variant is 1.0
    s = np.array([
        [0.8, 0.1, 0.1], [0.7, 0.2, 0.1],
        [0.1, 0.8, 0.1], [0.2, 0.7, 0.1],
        [0.1, 0.1, 0.8], [0.2, 0.1, 0.7],
    ])
    for mc in ("ovr", "ovo"):
        for avg in ("macro", "weighted"):
            assert M.roc_auc_score(
                y, s, multi_class=mc, average=avg
            ) == pytest.approx(1.0)
    with pytest.raises(ValueError, match="multi_class"):
        M.roc_auc_score(y, s)
    # binary still works with 1-D scores and pos_label flip
    yb = np.array([0, 0, 1, 1])
    sb = np.array([0.1, 0.2, 0.8, 0.9])
    assert M.roc_auc_score(yb, sb) == 1.0
    # pos_label=0 flips BOTH the indicator and the decision sign
    # (reference utils/_response.py) — AUC is invariant under the
    # simultaneous flip
    assert M.roc_auc_score(yb, sb, pos_label=0) == 1.0
    # ...but a 2-column proba matrix selects pos_label's column
    sb2 = np.column_stack([1 - sb, sb])
    assert M.brier_score_loss(yb, sb2, pos_label=0) == pytest.approx(
        np.mean((np.array([0.9, 0.8, 0.2, 0.1]) - np.array([1, 1, 0, 0])) ** 2)
    )


def test_top_k_and_likelihood_ratios():
    y = np.array([0, 1, 2, 2])
    s = np.array([
        [0.5, 0.3, 0.2],   # true 0 rank1
        [0.4, 0.35, 0.25], # true 1 rank2
        [0.1, 0.2, 0.7],   # true 2 rank1
        [0.5, 0.3, 0.2],   # true 2 rank3
    ])
    assert M.top_k_accuracy_score(y, s, k=1) == pytest.approx(2 / 4)
    assert M.top_k_accuracy_score(y, s, k=2) == pytest.approx(3 / 4)
    assert M.top_k_accuracy_score(y, s, k=3) == pytest.approx(1.0)
    # binary: sens=0.75, spec=0.5 -> LR+=1.5, LR-=0.5
    yt = np.array([1, 1, 1, 1, 0, 0])
    yp = np.array([1, 1, 1, 0, 1, 0])
    lr_pos, lr_neg = M.class_likelihood_ratios(yt, yp)
    assert lr_pos == pytest.approx((3 / 4) / (1 - 1 / 2))
    assert lr_neg == pytest.approx((1 - 3 / 4) / (1 / 2))


def test_deviances_and_d2():
    y = np.array([1.0, 2.0, 3.0])
    p = np.array([1.0, 2.0, 3.0])
    assert M.mean_poisson_deviance(y, p) == pytest.approx(0.0)
    assert M.mean_gamma_deviance(y, p) == pytest.approx(0.0)
    p2 = np.array([2.0, 2.0, 2.0])
    dev = 2 * np.mean(y * np.log(y / p2) - y + p2)
    assert M.mean_poisson_deviance(y, p2) == pytest.approx(dev)
    assert M.d2_absolute_error_score(y, y) == 1.0
    # null model (median) scores 0
    assert M.d2_absolute_error_score(
        y, np.full_like(y, np.median(y))
    ) == pytest.approx(0.0)
    yb = np.array([0, 0, 1, 1])
    base = np.full(4, 0.5)
    assert M.d2_brier_score(yb, base) == pytest.approx(0.0)
    assert M.d2_log_loss_score(yb, base) == pytest.approx(0.0)
    good = np.array([0.1, 0.1, 0.9, 0.9])
    assert M.d2_brier_score(yb, good) > 0.9
    assert M.d2_log_loss_score(yb, good) > 0.6


def test_clustering_metrics():
    a = [0, 0, 1, 1, 2, 2]
    # perfect agreement up to relabeling
    b = [5, 5, 9, 9, 7, 7]
    for fn in (
        M.rand_score, M.adjusted_rand_score,
        M.normalized_mutual_info_score, M.adjusted_mutual_info_score,
        M.homogeneity_score, M.completeness_score, M.v_measure_score,
        M.fowlkes_mallows_score,
    ):
        assert fn(a, b) == pytest.approx(1.0), fn.__name__
    assert M.mutual_info_score(a, b) == pytest.approx(np.log(3))
    # known disagreement: hand-checked contingency [[2,0],[1,1]]
    c, d = [0, 0, 1, 1], [0, 0, 0, 1]
    # pairs: n=4 C2=6; same-same: C2(2)+0+0+0 =1; a-pairs: C2(2)+C2(2)=2
    # b-pairs: C2(3)+C2(1)=3 -> rand = (6 + 2*1 - 2 - 3)/6 = 3/6
    assert M.rand_score(c, d) == pytest.approx(3 / 6)
    ari_num = 1 - 2 * 3 / 6
    ari_den = (2 + 3) / 2 - 2 * 3 / 6
    assert M.adjusted_rand_score(c, d) == pytest.approx(ari_num / ari_den)
    assert M.fowlkes_mallows_score(c, d) == pytest.approx(
        1 / np.sqrt(2 * 3)
    )
    # homogeneity/completeness asymmetry
    assert M.homogeneity_score(a, [0, 0, 0, 0, 1, 1]) < 1.0
    assert M.completeness_score([0, 0, 0, 0, 1, 1], a) < 1.0


def test_scorer_registry():
    s = M.get_scorer("neg_mean_squared_error")
    assert s._sign == -1.0
    s2 = M.get_scorer("roc_auc")
    assert s2._response_method == ("decision_function", "predict_proba")
    with pytest.raises(ValueError, match="not a valid scoring"):
        M.get_scorer("nope")
    # all registry names constructible (reference tests/test_metrics.py:145)
    for name in M.SCORER_NAMES:
        assert M.get_scorer(name) is not None


def test_scorer_on_pipeline(spark):
    from panelsplit_spark import LinearRegression, PanelSplit
    from panelsplit_spark.operators.pipeline import SequentialCVPipeline

    rows = []
    for p in range(1, 9):
        for j in range(4):
            x = float(p * 10 + j)
            rows.append((p, x, 3.0 * x + 1.0))
    df = spark.createDataFrame(rows, "period int, x double, y double")
    ps = PanelSplit(df, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("reg", LinearRegression())], [ps], ["x"], y_col="y"
    )
    pipe.fit(df)
    scorer = M.get_scorer("neg_mean_squared_error")
    scores = scorer(pipe, df)
    assert len(scores) == 3
    for s in scores:
        assert s == pytest.approx(0.0, abs=1e-12)


def test_roc_auc_scorer_decision_function_fallback(spark):
    """roc_auc's ('decision_function', 'predict_proba') tuple resolves
    to decision_function on LogisticRegression and scores per fold."""
    from panelsplit_spark import LogisticRegression, PanelSplit
    from panelsplit_spark.operators.pipeline import SequentialCVPipeline

    rows = []
    for p in range(1, 9):
        for j in range(6):
            x = float(j - 2.5)
            rows.append((p, x, int(x > 0)))
    df = spark.createDataFrame(rows, "period int, x double, label int")
    ps = PanelSplit(df, "period", n_splits=3)
    pipe = SequentialCVPipeline(
        [("clf", LogisticRegression())], [ps], ["x"], y_col="label"
    )
    pipe.fit(df)
    scorer = M.get_scorer("roc_auc")
    assert M.resolve_response_method(
        pipe, scorer._response_method
    ) == "decision_function"
    scores = scorer(pipe, df, y_col="label")
    assert len(scores) == 3
    for s in scores:
        assert s == pytest.approx(1.0)  # perfectly separable


def test_check_multimetric():
    d = M.check_multimetric_scoring(["r2", "neg_mean_absolute_error"])
    assert set(d) == {"r2", "neg_mean_absolute_error"}
    d2 = M.check_multimetric_scoring({"a": "accuracy"})
    assert set(d2) == {"a"}
    d3 = M.check_multimetric_scoring("r2")
    assert set(d3) == {"score"}


# ----------------------------------------------------------------------
# per-fold scores from the moment cube (linear_fastpath.
# predicted_fold_scores) against the row pass
# ----------------------------------------------------------------------

FEATS = ["x0", "x1", "x2"]


def _cv_panel(spark, offset=0.0, edit=None):
    """A seeded 14-period panel: y = 5 + x·b + noise (+ ``offset``).
    ``edit(period, i, x, y)`` may return a replacement ``(x, y)``."""
    rng = np.random.default_rng(11)
    rows = []
    for p in range(14):
        for i in range(30):
            x = [float(v) for v in rng.normal(size=3)]
            y = float(5.0 + x[0] - 2.0 * x[1] + 0.5 * x[2]
                      + rng.normal() + offset)
            if edit is not None:
                x, y = edit(p, i, x, y)
            rows.append((p * 100 + i, p, *x, y))
    return spark.createDataFrame(
        rows, "rid long, period int, x0 double, x1 double, x2 double, "
        "y double",
    )


def _fast_preds(df, est, **split):
    from panelsplit_spark import PanelSplit, cross_val_fit, cross_val_predict

    ps = PanelSplit(df, "period", n_splits=split.pop("n_splits", 4),
                    **split)
    models = cross_val_fit(est, df, FEATS, "y", ps)
    return cross_val_predict(models, df, FEATS, ps)


def _scored(spark, frame, metric):
    """``({fold: score}, jobs)`` of per_fold_scores over ``frame``, or
    ``(exception class name, jobs)`` when the scoring raises."""
    from helpers import spark_jobs

    with spark_jobs(spark) as jobs:
        try:
            rows = M.per_fold_scores(frame, "y", "prediction", metric)
            out = {r["fold_id"]: r["score"] for r in rows.collect()}
        except Exception as e:  # the row pass may raise (ANSI division)
            out = type(e).__name__
    return out, len(jobs)


def _same(got, want):
    if isinstance(want, str) or isinstance(got, str):
        return got == want
    return sorted(got) == sorted(want) and all(
        (np.isnan(got[k]) and np.isnan(want[k]))
        or got[k] == pytest.approx(want[k], rel=1e-9, abs=0.0)
        for k in want
    )


def _estimators():
    from panelsplit_spark import LinearRegression, MeanRegressor, Ridge

    return {
        "ols": LinearRegression(),
        "ridge": Ridge(alpha=3.0),
        "mean": MeanRegressor(),
        "ols_no_intercept": LinearRegression(fit_intercept=False),
    }


SPLITS = {
    "plain": {},
    "gap": {"gap": 2},
    "test_size": {"test_size": 2, "n_splits": 3},
    "first_train_in_test": {"include_first_train_in_test": True},
}
METRICS_FROM_MOMENTS = [
    "mse", "rmse", "r2",
    M.mean_squared_error, M.root_mean_squared_error, M.r2_score,
]


@pytest.mark.parametrize("split", sorted(SPLITS))
@pytest.mark.parametrize("kind", sorted(_estimators()))
def test_scores_from_moments_match_row_pass(spark, kind, split):
    """A closed-form cross_val_predict frame scores from the memoised
    cube with no Spark job, within 1e-9 of the row pass over the same
    predictions (a derived frame always takes the row pass)."""
    df = _cv_panel(spark)
    preds = _fast_preds(df, _estimators()[kind], **dict(SPLITS[split]))
    for metric in METRICS_FROM_MOMENTS:
        got, jobs = _scored(spark, preds, metric)
        want, row_jobs = _scored(spark, preds.where("true"), metric)
        assert jobs == 0, (metric, jobs)
        assert row_jobs > 0
        assert _same(got, want), (metric, got, want)
        assert all(np.isfinite(v) for v in got.values())


def test_scores_from_moments_frame_shape(spark):
    df = _cv_panel(spark)
    preds = _fast_preds(df, _estimators()["ols"])
    fast = M.per_fold_scores(preds, "y", "prediction", "mse")
    rows = M.per_fold_scores(preds.where("true"), "y", "prediction", "mse")
    assert fast.dtypes == rows.dtypes == [("fold_id", "int"),
                                          ("score", "double")]


@pytest.mark.parametrize("kind", ["ols", "mean"])
def test_null_y_in_a_test_period_gives_nan(spark, kind):
    def edit(p, i, x, y):
        return x, (None if (p, i) == (12, 3) else y)

    df = _cv_panel(spark, edit=edit)
    preds = _fast_preds(df, _estimators()[kind])
    for metric in ("mse", "rmse", "r2"):
        got, jobs = _scored(spark, preds, metric)
        want, _ = _scored(spark, preds.where("true"), metric)
        assert jobs == 0
        assert _same(got, want), (metric, got, want)
        # period 12 is the test set of fold 2 only (4 folds of one
        # period each over periods 10-13)
        assert np.isnan(got[2]) and not np.isnan(got[1])


@pytest.mark.parametrize("kind", ["ols", "mean"])
def test_null_x_poisons_linear_scores_only(spark, kind):
    def edit(p, i, x, y):
        return ([None, x[1], x[2]] if (p, i) == (13, 0) else x), y

    df = _cv_panel(spark, edit=edit)
    preds = _fast_preds(df, _estimators()[kind])
    got, jobs = _scored(spark, preds, "mse")
    want, _ = _scored(spark, preds.where("true"), "mse")
    assert jobs == 0
    assert _same(got, want), (got, want)
    assert np.isnan(got[3]) == (kind == "ols")


def _assert_row_pass(spark, preds, metric):
    got, jobs = _scored(spark, preds, metric)
    want, _ = _scored(spark, preds.where("true"), metric)
    assert jobs > 0, metric
    assert _same(got, want), (metric, got, want)
    return got


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), -float("inf")])
def test_non_finite_x_takes_the_row_pass(spark, bad):
    """A NaN or ±Inf x in a period no fold trains on makes that fold's
    test moments non-finite: the rows answer."""
    def edit(p, i, x, y):
        return ([bad, x[1], x[2]] if (p, i) == (13, 5) else x), y

    df = _cv_panel(spark, edit=edit)
    preds = _fast_preds(df, _estimators()["ols"])
    for metric in ("mse", "r2"):
        got = _assert_row_pass(spark, preds, metric)
        assert not np.isfinite(got[3])


def test_weighted_fit_takes_the_row_pass(spark):
    """A weighted fit leaves only a weighted cube, which cannot answer
    the unweighted row scores."""
    from panelsplit_spark import LinearRegression, PanelSplit
    from panelsplit_spark import cross_val_fit, cross_val_predict
    from pyspark.sql import functions as F

    df = _cv_panel(spark).withColumn("w", F.lit(2.0) + F.col("x0") ** 2)
    ps = PanelSplit(df, "period", n_splits=4)
    models = cross_val_fit(LinearRegression(), df, FEATS, "y", ps,
                           sample_weight_col="w")
    preds = cross_val_predict(models, df, FEATS, ps)
    _assert_row_pass(spark, preds, "mse")


def test_one_row_test_fold_r2_takes_the_row_pass(spark):
    """r2 of a one-row fold has a zero denominator: the rows answer it
    (with a Spark division error under ANSI), while mse still comes
    from the cube."""
    def edit(p, i, x, y):
        # a residual far from 0 keeps the mse clear of the
        # cancellation bound
        return x, (y + 3.0 if (p, i) == (13, 0) else y)

    df = _cv_panel(spark, edit=edit).where("period < 13 OR rid = 1300")
    preds = _fast_preds(df, _estimators()["ols"])
    _assert_row_pass(spark, preds, "r2")
    got, jobs = _scored(spark, preds, "mse")
    assert jobs == 0 and np.isfinite(got[3])


def test_large_y_offset_takes_the_row_pass(spark):
    """y ≈ 1e8 makes Σy² dwarf the SSE: the cancellation bound sends
    the scores to the rows."""
    df = _cv_panel(spark, offset=1e8)
    preds = _fast_preds(df, _estimators()["ols"])
    for metric in ("mse", "rmse", "r2"):
        _assert_row_pass(spark, preds, metric)


def test_derived_prediction_frame_takes_the_row_pass(spark):
    df = _cv_panel(spark)
    preds = _fast_preds(df, _estimators()["ols"])
    got, jobs = _scored(spark, preds.where("fold_id > 0"), "mse")
    assert jobs > 0 and sorted(got) == [1, 2, 3]


def test_mae_still_aggregates_the_rows(spark):
    df = _cv_panel(spark)
    preds = _fast_preds(df, _estimators()["ols"])
    got, jobs = _scored(spark, preds, "mae")
    assert jobs > 0 and sorted(got) == [0, 1, 2, 3]
