"""The four workloads: what one request does and how its output is checked.

Each request is one user task on its own seeded input, read from parquet
the way a user's job would read it. Every public call into the package
runs inside a span named ``<layer>.<call>``; a span also covers forcing
the lazy DataFrame the call returned (a ``noop`` sink write, which
computes every column, or a ``collect`` where the user reads a small
result). Intermediates that feed later calls are materialized with
``localCheckpoint``, as ``doc_shingles`` recommends.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from itertools import combinations
from typing import Any, Dict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
import reference as ref
from reference import Mismatch

import panelsplit_spark as pss
from panelsplit_spark.operators.metrics import log_loss
from panelsplit_spark.sources.tables import write_sink


def force(df) -> None:
    """Compute every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Input:
    path: str
    data: pd.DataFrame
    meta: Dict[str, Any] = field(default_factory=dict)


class Workload:
    """``nominal_s`` is a warm request's latency on a 4-core machine; a
    run times ``round(seconds / nominal_s)`` requests (at least one), so
    every run of a given length does the same work. ``warmup`` requests
    run first, untimed: the first, cold one costs two to three warm ones,
    and latency still falls a few percent per request for several more,
    which one run's time budget cannot wait out. The count is fixed so
    that every run times requests at the same point of that curve."""

    name = ""
    nominal_s = 1.0
    warmup = 1

    def generate(self, rng: np.random.Generator) -> Input:
        raise NotImplementedError

    def request(self, spark, inp: Input, tr, ctx) -> Any:
        raise NotImplementedError

    def check(self, spark, inp: Input, out: Any, ctx) -> None:
        raise NotImplementedError


def _collect_preds(df) -> pd.DataFrame:
    return df.select("fold_id", "row_id", "prediction").toPandas()


def _scores(rows) -> Dict[int, float]:
    return {int(r["fold_id"]): float(r["score"]) for r in rows}


class CvBulk(Workload):
    """Closed-form estimators only: OLS CV, per-fold scores, a ridge grid
    search and a scaler->ridge pipeline on a 50k-row panel. Exercises
    ``linear_fastpath``, ``model_selection`` and ``pipeline``."""

    name = "cv_bulk"
    nominal_s = 9.0
    rows, periods, n_features, n_splits = 50_000, 60, 8, 10
    alphas = (0.1, 1.0, 10.0, 100.0)
    pipe_alpha = 1.0

    def generate(self, rng):
        return Input("", inputs.panel(rng, self.rows, self.periods,
                                      self.n_features))

    def request(self, spark, inp, tr, ctx):
        df = spark.read.parquet(inp.path)
        feats = [f"x{i}" for i in range(self.n_features)]
        with tr.span("cross_validation.PanelSplit"):
            ps = pss.PanelSplit(df, "period", n_splits=self.n_splits)
        with tr.span("application.cross_val_fit"):
            models = pss.cross_val_fit(
                pss.LinearRegression(), df, feats, "y", ps
            )
        with tr.span("application.cross_val_predict"):
            preds = pss.cross_val_predict(models, df, feats, ps)
            force(preds)
        with tr.span("metrics.per_fold_scores"):
            scores = pss.per_fold_scores(
                preds, "y", "prediction", "mse"
            ).collect()
        search = pss.GridSearch(
            pss.SequentialCVPipeline(
                [("ridge", pss.Ridge())], [ps], feats, y_col="y"
            ),
            {"ridge__alpha": list(self.alphas)},
            scoring="neg_mean_squared_error",
            n_jobs=ctx["grid_n_jobs"],
        )
        with tr.span("model_selection.GridSearch.fit"):
            search.fit(df)
        ctx["grid_candidates"] = len(self.alphas)
        with tr.span("cross_validation.PanelSplit"):
            ps_scale = pss.PanelSplit(
                df, "period", n_splits=self.n_splits,
                include_first_train_in_test=True,
            )
        pipe = pss.SequentialCVPipeline(
            [("scale", pss.StandardScaler()),
             ("ridge", pss.Ridge(alpha=self.pipe_alpha))],
            [ps_scale, ps], feats, y_col="y",
        )
        with tr.span("pipeline.SequentialCVPipeline.fit"):
            pipe.fit(df)
        with tr.span("pipeline.SequentialCVPipeline.predict_df"):
            pipe_preds = pipe.predict_df(df)
            force(pipe_preds)
        return {"preds": preds, "scores": scores, "search": search,
                "pipe_preds": pipe_preds}

    def check(self, spark, inp, out, ctx):
        d = inp.data
        feats = [f"x{i}" for i in range(self.n_features)]
        folds = ref.expanding_folds(d.period, self.n_splits)
        ols = ref.oof(d, feats, folds, ref.fit_linear)
        ref.compare_preds(_collect_preds(out["preds"]), ols, "OLS OOF")
        ref.compare_scores(_scores(out["scores"]), ref.fold_mse(ols, d),
                           "OLS per-fold MSE")
        means = out["search"].cv_results_["mean_test_score"]
        want = []
        for a in self.alphas:
            r = ref.oof(d, feats, folds,
                        lambda X, y, a=a: ref.fit_linear(X, y, a))
            want.append(-float(np.mean(list(ref.fold_mse(r, d).values()))))
        if not np.allclose(means, want, rtol=ref.TOL, atol=1e-9):
            raise Mismatch(f"grid mean_test_score {list(means)} != {want}")
        best = self.alphas[int(np.argmax(want))]
        if out["search"].best_params_ != {"ridge__alpha": best}:
            raise Mismatch(f"grid best_params_ {out['search'].best_params_}")
        scale_folds = ref.expanding_folds(
            d.period, self.n_splits, first_train_in_test=True
        )
        ref.compare_preds(
            _collect_preds(out["pipe_preds"]),
            ref.scaled_ridge_oof(d, feats, scale_folds, folds,
                                 self.pipe_alpha),
            "scaler->ridge pipeline",
        )


class CvUdf(Workload):
    """Estimators without a closed form: logistic regression and a prior
    classifier, each fitted per fold in a grouped-map pandas UDF and
    applied with ``mapInPandas``, scored by a Python-callable metric.
    Never touches ``linear_fastpath``, so a fast-path change should leave
    it unchanged."""

    name = "cv_udf"
    nominal_s = 6.0
    rows, periods, n_features, n_splits = 40_000, 60, 8, 8

    def generate(self, rng):
        return Input("", inputs.panel(rng, self.rows, self.periods,
                                      self.n_features, binary=True))

    def request(self, spark, inp, tr, ctx):
        df = spark.read.parquet(inp.path)
        feats = [f"x{i}" for i in range(self.n_features)]
        with tr.span("cross_validation.PanelSplit"):
            ps = pss.PanelSplit(df, "period", n_splits=self.n_splits)
        out = {}
        for key, est in (("logistic", pss.LogisticRegression()),
                         ("prior", pss.PriorClassifier())):
            with tr.span("application.cross_val_fit"):
                models = pss.cross_val_fit(est, df, feats, "y", ps)
            with tr.span("application.cross_val_predict"):
                proba = pss.cross_val_predict(
                    models, df, feats, ps, method="predict_proba"
                )
                force(proba)
            with tr.span("metrics.per_fold_scores"):
                scores = pss.per_fold_scores(
                    proba, "y", "prediction", log_loss
                ).collect()
            out[key] = (proba, scores)
        return out

    def check(self, spark, inp, out, ctx):
        d = inp.data
        feats = [f"x{i}" for i in range(self.n_features)]
        folds = ref.expanding_folds(d.period, self.n_splits)

        def logistic(X, y):
            m = pss.LogisticRegression().fit(
                pd.DataFrame(X, columns=feats), y
            )
            return lambda Z: m.predict_proba(pd.DataFrame(Z, columns=feats))

        def prior(X, y):
            rate = float(np.mean(y == max(y)))
            return lambda Z: np.tile([1 - rate, rate], (len(Z), 1))

        for key, fit in (("logistic", logistic), ("prior", prior)):
            proba, scores = out[key]
            want = ref.oof(d, feats, folds, fit)
            ref.compare_preds(_collect_preds(proba), want, f"{key} OOF")
            ref.compare_scores(_scores(scores), ref.fold_log_loss(want, d),
                               f"{key} per-fold log loss")


class CvInteractive(Workload):
    """Many small requests whose fold settings and closed-form estimator
    vary by seed; each collects its predictions and scores. Same calls as
    ``cv_bulk`` but bound by the driver and scheduler, so a change that
    adds a Spark job per call to save executor work shows here."""

    name = "cv_interactive"
    nominal_s = 2.5
    warmup = 3
    rows, periods, n_features = 2_000, 30, 4

    def generate(self, rng):
        kind = str(rng.choice(["ols", "ridge", "mean"]))
        meta = {
            "n_splits": int(rng.integers(3, 7)),
            "test_size": int(rng.integers(1, 4)),
            "gap": int(rng.integers(0, 3)),
            "kind": kind,
            "alpha": float(rng.choice([0.1, 1.0, 10.0])),
        }
        return Input("", inputs.panel(rng, self.rows, self.periods,
                                      self.n_features), meta)

    def request(self, spark, inp, tr, ctx):
        m = inp.meta
        df = spark.read.parquet(inp.path)
        feats = [f"x{i}" for i in range(self.n_features)]
        est = {
            "ols": pss.LinearRegression,
            "ridge": lambda: pss.Ridge(alpha=m["alpha"]),
            "mean": pss.MeanRegressor,
        }[m["kind"]]()
        with tr.span("cross_validation.PanelSplit"):
            ps = pss.PanelSplit(
                df, "period", n_splits=m["n_splits"], gap=m["gap"],
                test_size=m["test_size"],
            )
        with tr.span("application.cross_val_fit"):
            models = pss.cross_val_fit(est, df, feats, "y", ps)
        with tr.span("application.cross_val_predict"):
            preds = pss.cross_val_predict(models, df, feats, ps)
            rows = preds.select("fold_id", "row_id", "prediction").collect()
        with tr.span("metrics.per_fold_scores"):
            scores = pss.per_fold_scores(
                preds, "y", "prediction", "mse"
            ).collect()
        return {"rows": rows, "scores": scores}

    def check(self, spark, inp, out, ctx):
        m, d = inp.meta, inp.data
        feats = [f"x{i}" for i in range(self.n_features)]
        folds = ref.expanding_folds(d.period, m["n_splits"], m["gap"],
                                    m["test_size"])
        fit = {
            "ols": ref.fit_linear,
            "ridge": lambda X, y: ref.fit_linear(X, y, m["alpha"]),
            "mean": ref.fit_mean,
        }[m["kind"]]
        want = ref.oof(d, feats, folds, fit)
        got = pd.DataFrame([r.asDict() for r in out["rows"]],
                           columns=["fold_id", "row_id", "prediction"])
        what = f"{m['kind']} OOF {m}"
        ref.compare_preds(got, want, what)
        ref.compare_scores(_scores(out["scores"]), ref.fold_mse(want, d),
                           f"{what} per-fold MSE")


class CorpusDedup(Workload):
    """One corpus shard per request through shingling, the exact prefix
    filter, verification, clustering, and a parquet write of the kept
    documents. The only workload on ``dedup`` and a write path; it calls
    no CV code."""

    name = "corpus_dedup"
    nominal_s = 6.5
    docs = 3_000
    threshold_bp = 5000

    def generate(self, rng):
        docs, families = inputs.corpus(rng, self.docs)
        return Input("", docs, {"families": families})

    def request(self, spark, inp, tr, ctx):
        docs = spark.read.parquet(inp.path)
        t = self.threshold_bp / 10000
        with tr.span("dedup.doc_shingles"):
            sh = pss.doc_shingles(docs).localCheckpoint()
        with tr.span("dedup.prefix_filter_candidates"):
            cands = pss.prefix_filter_candidates(
                docs, threshold_bp=self.threshold_bp, shingles=sh
            ).localCheckpoint()
        with tr.span("dedup.ngram_jaccard_pairs"):
            pairs = pss.dedup.ngram_jaccard_pairs(
                docs, threshold=t, candidates=cands, shingles=sh
            ).localCheckpoint()
        with tr.span("dedup.connected_components"):
            clusters = pss.connected_components(pairs).localCheckpoint()
        dropped = clusters.where(F.col("id") != F.col("cluster"))
        kept = docs.join(
            dropped.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
        )
        sink = inp.path + ".kept"
        with tr.span("tables.write_sink"):
            write_sink(kept, sink, format="parquet", mode="overwrite")
        return {"cands": cands, "pairs": pairs, "clusters": clusters,
                "sink": sink}

    def check(self, spark, inp, out, ctx):
        t = self.threshold_bp / 10000
        d = inp.data
        sets = dict(zip(d.doc_id.tolist(), map(ref.shingles, d.text)))
        pairs = out["pairs"].toPandas()
        reported = set()
        for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(
            index=False
        ):
            want = ref.jaccard(sets[a], sets[b])
            if a >= b or want < t or abs(j - want) > 1e-9:
                raise Mismatch(f"pair ({a}, {b}) jaccard {j} vs {want}")
            reported.add((a, b))
        if len(reported) != len(pairs):
            raise Mismatch("duplicate pairs reported")
        for fam in inp.meta["families"]:
            for a, b in combinations(sorted(fam), 2):
                if ref.jaccard(sets[a], sets[b]) >= t and (a, b) not in reported:
                    raise Mismatch(f"planted pair ({a}, {b}) missed")
        labels = ref.min_labels(sorted(reported))
        got = dict(out["clusters"].select("id", "cluster").toPandas()
                   .itertuples(index=False))
        if got != labels:
            raise Mismatch("connected components differ from union-find")
        kept = set(pd.read_parquet(out["sink"]).doc_id.tolist())
        if kept != {x for x in sets if labels.get(x, x) == x}:
            raise Mismatch("written documents differ from kept set")
        ctx["candidates"] = ctx.get("candidates", 0) + out["cands"].count()
        ctx["verified"] = ctx.get("verified", 0) + len(reported)
        shutil.rmtree(out["sink"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (CvBulk(), CvUdf(), CvInteractive(),
                                  CorpusDedup())}
