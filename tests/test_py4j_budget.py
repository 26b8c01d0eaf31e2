"""py4j round trips of the closed-form CV fast path and of the dedup
prefix filter and clustering, and the identifier quoting their SQL-text
expressions rely on.

Each wide expression of the fast path (the moment aggregates, the
prediction and scaler projections, the pipeline's feature expansion,
the metric aggregates) is built as SQL text and parsed JVM-side in one
call; composed through the Column API it cost several py4j round trips
per node. The budgets pin the SQL-text form with headroom (measured:
cube 304, each projection 8, per_fold_scores over seven metrics about
200, the grid-score frame about 100); the Column-API form measured 2916,
523 / 615, about 1,400 and about 800. A scaler -> ridge pipeline fit is
one cube build (about 350; 0 when the cube is warm), down from about 700
(about 350-570 warm) when it built and aggregated the scaler's OOF
frame. The dedup budgets are in their tests' docstrings.
"""

import numpy as np
import pytest

from helpers import count_py4j
from panelsplit_spark import (
    LinearRegression,
    PanelSplit,
    Ridge,
    SequentialCVPipeline,
    StandardScaler,
    cross_val_fit,
    cross_val_predict,
)
from panelsplit_spark.operators.linear_fastpath import (
    _grid_score_frame,
    linear_predict_frame,
    scaler_transform_frame,
    suffstats_fit,
)
from panelsplit_spark.operators.dedup import (
    connected_components,
    doc_shingles,
    prefix_filter_candidates,
)
from panelsplit_spark.operators.metrics import per_fold_scores

N_FEATURES = 8
METRICS = ["mse", "rmse", "mae", "max_error", "accuracy", "medae", "r2"]


def _panel(spark, names=None, y="y"):
    names = names or [f"x{i}" for i in range(N_FEATURES)]
    rng = np.random.default_rng(7)
    rows = []
    for rid in range(240):
        x = rng.normal(size=len(names))
        rows.append(
            (rid, rid % 12, *map(float, x),
             float(x @ np.arange(1, len(names) + 1) + rng.normal()))
        )
    df = spark.createDataFrame(rows, ["rid", "period", *names, y])
    return df, names


@pytest.fixture(scope="module")
def panel(spark):
    df, feats = _panel(spark)
    return df, feats, PanelSplit(df, "period", n_splits=3)


def _scale_ridge(df, feats, y, ps):
    """The scaler step's OOF output starts with the first fold's train
    periods, so the ridge step's folds all have train rows."""
    ps_scale = PanelSplit(
        df, "period", n_splits=3, include_first_train_in_test=True
    )
    return SequentialCVPipeline(
        [("scale", StandardScaler()), ("ridge", Ridge(alpha=1.0))],
        [ps_scale, ps], feats, y_col=y,
    )


def test_moment_cube_build_round_trips(spark, panel):
    _, feats, ps = panel
    df = _panel(spark)[0]  # a new frame: the weakly keyed cube cache is cold
    with count_py4j() as n:
        models = suffstats_fit(LinearRegression(), df, feats, "y", ps)
    assert len(models) == 3
    assert n.calls <= 400, n.calls


def _assigned(df, feats, ps):
    return ps.assign(df.select("rid", "period", *feats), roles=("test",))


def test_linear_predict_frame_round_trips(panel):
    df, feats, ps = panel
    models = cross_val_fit(LinearRegression(), df, feats, "y", ps)
    assigned = _assigned(df, feats, ps)
    with count_py4j() as n:
        out = linear_predict_frame(
            assigned, models, feats, "predict", ["rid", "fold_id"],
            "prediction",
        )
    assert out.columns == ["rid", "fold_id", "prediction"]
    assert n.calls <= 40, n.calls


def test_scaler_transform_frame_round_trips(panel):
    df, feats, ps = panel
    models = cross_val_fit(StandardScaler(), df, feats, "y", ps)
    assigned = _assigned(df, feats, ps)
    with count_py4j() as n:
        out = scaler_transform_frame(
            assigned, models, feats, ["rid", "fold_id"], "scaled"
        )
    assert out.columns == ["rid", "fold_id", "scaled"]
    assert n.calls <= 40, n.calls


def test_two_step_pipeline_fit_round_trips(spark, panel):
    """Cold, the fit is the frame's one cube build; warm, both steps
    resolve from the memoised cube without a round trip."""
    _, feats, _ = panel
    df = _panel(spark)[0]  # a new frame: the weakly keyed cube cache is cold
    pipe = _scale_ridge(df, feats, "y", PanelSplit(df, "period", n_splits=3))
    with count_py4j() as n:
        pipe.fit(df)
    assert n.calls <= 450, n.calls
    with count_py4j() as n:
        pipe.fit(df)
    assert n.calls <= 10, n.calls


def test_per_fold_scores_round_trips(panel):
    df, feats, ps = panel
    models = cross_val_fit(LinearRegression(), df, feats, "y", ps)
    preds = cross_val_predict(models, df, feats, ps, keep_cols=["rid", "y"])
    with count_py4j() as n:
        for metric in METRICS:
            per_fold_scores(preds, "y", "prediction", metric)
    assert n.calls <= 400, n.calls


def test_grid_score_frame_round_trips(panel):
    df, feats, ps = panel
    grid = [
        cross_val_fit(Ridge(alpha=a), df, feats, "y", ps)
        for a in (0.1, 1.0, 10.0, 100.0)
    ]
    assigned = ps.assign_columns(df, [*feats, "y"], ("test",))
    with count_py4j() as n:
        out = _grid_score_frame(
            assigned, grid, feats, "y", {m: m for m in METRICS}
        )
    assert len(out.columns) == 3 + 6 + 4  # keys, metrics, r2 sums
    assert n.calls <= 200, n.calls


# a backtick, a space and a dot in every feature, target and output name
ODD = ["x`0 a.b", "x 1.c", "x.2`"]
ODD_Y, ODD_OUT = "y.`t v", "p` .q"


def _by_rid(rows, col):
    return {r["rid"]: r[col] for r in rows}


def test_odd_column_names_match_plain_names(spark):
    """The fast path quotes every name it writes into SQL text: odd
    names give exactly the values the same data gives under plain
    names."""
    plain, feats = _panel(spark, [f"x{i}" for i in range(3)])
    odd = plain.toDF("rid", "period", *ODD, ODD_Y)
    ps_plain = PanelSplit(plain, "period", n_splits=3)
    ps_odd = PanelSplit(odd, "period", n_splits=3)

    def oof(df, fs, y, ps, est, method, out):
        models = cross_val_fit(est, df, fs, y, ps)
        return _by_rid(
            cross_val_predict(
                models, df, fs, ps, method=method, output_col=out
            ).collect(),
            out,
        )

    for est, method in ((LinearRegression(), "predict"),
                        (StandardScaler(), "transform")):
        want = oof(plain, feats, "y", ps_plain, est, method, "prediction")
        got = oof(odd, ODD, ODD_Y, ps_odd, est, method, ODD_OUT)
        assert got == want, method

    def piped(df, fs, y, ps):
        pipe = _scale_ridge(df, fs, y, ps).fit(df)
        return _by_rid(pipe.predict_df(df).collect(), "prediction")

    assert piped(odd, ODD, ODD_Y, ps_odd) == piped(
        plain, feats, "y", ps_plain
    )


def _docs(spark):
    rng = np.random.default_rng(3)
    words = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(60):
        text = [words[j] for j in rng.integers(0, len(words), 30)]
        rows.append((2 * i + 1, " ".join(text)))
        rows.append((2 * i + 2, " ".join(text[:-3] + ["a", "b", "c"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_candidates_round_trips(spark):
    """The ranked lists, both prefix slices, the pair join and its
    filters are SQL text (about 130 round trips; the Column-API form
    made about 1,060)."""
    docs = _docs(spark)
    sh = doc_shingles(docs).localCheckpoint()
    with count_py4j() as n:
        cands = prefix_filter_candidates(docs, threshold_bp=5000, shingles=sh)
    assert cands.columns == ["id_a", "id_b"]
    assert n.calls <= 200, n.calls
    assert cands.count() == 60


def test_connected_components_round_trips(spark):
    """The edge list and the round body are SQL text: a whole call on
    a six-node path (the seed round and six more), its jobs included,
    makes about 360 round trips (about 1,270 before)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with count_py4j() as n:
        out = connected_components(pairs).collect()
    assert {r["cluster"] for r in out} == {1}
    assert n.calls <= 450, n.calls
