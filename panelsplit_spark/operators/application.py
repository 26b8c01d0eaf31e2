"""Per-fold fit / apply over Spark: the engine's UDF execution surface.

Re-expresses the reference's joblib-parallel fit/predict loop
(/root/reference/panelsplit/application.py:160-371) in Spark's execution
model (SURVEY §3.2):

* **fit** — closed-form estimators (OLS, ridge, mean, scaler) resolve
  from one per-period moment aggregate shared by every splitter and
  estimator on the frame (``linear_fastpath.py``). Any other estimator
  takes one job: fan-out rows to ``(fold_id, role='train')`` with the
  splitter's literal membership expression (``PanelSplit.assign``),
  then ``groupBy(fold_id).applyInPandas(fit_fn)``. Every fold trains
  concurrently in its own executor task on an Arrow-delivered pandas
  frame; what returns to the driver is only ``(fold_id, pickled_model)``
  — data never leaves the cluster.
* **apply** — one job, shuffle-free. Closed-form models become a
  projection over a literal coefficient array indexed by ``fold_id``;
  other models are pickled, broadcast to executors, and ``mapInPandas``
  applies ``models[fold_id].method(batch)`` per Arrow batch. No groupBy
  is needed because prediction is row-local given ``fold_id``.
* **reassembly** — the reference restores original row order with an
  argsort permutation (application.py:142-157). Spark DataFrames are
  unordered; instead predictions carry the caller's stable key columns and
  the terminal ``orderBy(row_key)`` happens only at the driver boundary.

Fold-skew note (SURVEY §4.2): expanding windows make the last fold's train
set the largest; ``applyInPandas`` materializes one fold per task. For folds
too big for a single task, swap the estimator for a distributed
``spark.ml`` Estimator via ``fit_fn``-style composition — the fold predicate
still comes from the same FoldSpec.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterable, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..estimators import clone, supports_sample_weight
from .cross_validation import PanelSplit

__all__ = [
    "with_row_key",
    "with_row_key_distributed",
    "apply_model",
    "cross_val_fit",
    "cross_val_predict",
    "cross_val_fit_predict",
]


def apply_model(
    df: DataFrame,
    model: Any,
    feature_cols: Sequence[str],
    method: str = "predict",
    output_col: str = "prediction",
    output_type: str = "double",
    keep_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Apply one fitted model to every row — broadcast + ``mapInPandas``,
    no shuffle. The non-CV ('fit on all, apply to all') counterpart of
    cross_val_predict."""
    keep = list(keep_cols) if keep_cols is not None else list(df.columns)
    needed = list(dict.fromkeys(list(keep) + list(feature_cols)))
    proj = df.select(*needed)
    spark = df.sparkSession
    model_b = spark.sparkContext.broadcast(pickle.dumps(model))
    feature_cols = list(feature_cols)
    out_schema = _schema_plus(
        proj.select(*keep).schema, output_col, output_type
    )
    wide = output_type.startswith("array")

    def fn(batches):
        import pandas as pd

        m = pickle.loads(model_b.value)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            res = np.asarray(getattr(m, method)(pdf[feature_cols]))
            o = pdf[list(keep)].copy()
            if wide:
                if res.ndim == 1:
                    res = res.reshape(-1, 1)
                o[output_col] = list(res)
            else:
                o[output_col] = res.reshape(-1)
            yield o

    return proj.mapInPandas(fn, schema=out_schema)


def with_row_key(
    df: DataFrame,
    order_by: Sequence[str],
    key_col: str = "row_key",
    auto_distributed_above: Optional[int] = 1_000_000,
) -> DataFrame:
    """Attach a deterministic dense row key ordered by ``order_by``.

    Prefer a *natural* unique key (event_id, (orderkey, linenumber), …) and
    skip this entirely — that is the scale path. This helper exists for
    reference-parity cases that genuinely need positional identity
    (SURVEY §1.4); it uses a global window, i.e. a single-partition sort.

    Because the name invites misuse on large frames, it self-guards:
    above ``auto_distributed_above`` rows (one count job) it dispatches
    to :func:`with_row_key_distributed`, which computes the identical
    key without any single-partition sort. Pass ``None`` to skip the
    count and force the narrow window form.
    """
    if auto_distributed_above is not None:
        if df.count() > auto_distributed_above:
            return with_row_key_distributed(df, order_by, key_col)
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(key_col, F.row_number().over(w) - F.lit(1))


def with_row_key_distributed(
    df: DataFrame,
    order_by: Sequence[str],
    key_col: str = "row_key",
    n_buckets: int = 64,
    eager: bool = False,
) -> DataFrame:
    """Scalable dense row key ordered by ``order_by`` — the 100 TB form
    of :func:`with_row_key` (no single-partition sort anywhere).

    ``order_by`` must be a TOTAL order (unique per row — e.g. an id, or
    (orderkey, linenumber)); ties would make the assignment depend on
    physical row placement.

    Two-pass range-bucket scheme, the distributed classic:

    1. ``repartitionByRange(n_buckets)`` on the key — every bucket holds
       a contiguous key range; the frame is persisted so the sampled
       range boundaries (and so each row's bucket id) are computed once
       and stay fixed across the two downstream jobs.
    2. bucket sizes → driver (``n_buckets`` longs), cumulative offsets
       broadcast back.
    3. per-bucket ``row_number`` (window partitioned BY BUCKET — sorts
       one bucket per task, never the globe) + the bucket's offset.

    Cost: one range exchange + one bucket-keyed window exchange, both
    fully parallel; driver traffic is ``n_buckets`` counts. Size
    ``n_buckets`` ≈ cluster cores (or data_size / 256 MB).

    The result is engine- and partitioning-independent (it equals SQL
    ``row_number() OVER (ORDER BY …) - 1``), so it is oracle-checkable.

    The intermediate ``ranged`` frame must stay persisted while the
    result can still recompute (a re-sampled range exchange could move
    bucket boundaries after the offsets were taken). With
    ``eager=False`` (default, fully lazy) the persisted handle is
    exposed as ``result.persisted_intermediate`` — unpersist it when
    done. With ``eager=True`` the result is localCheckpoint-ed and
    ``ranged`` is unpersisted before returning: nothing leaks, at the
    cost of materializing the result now.

    **Integer-key fast path**: when the FIRST order column is an
    integral type, bucket boundaries are pure value arithmetic over its
    (min, max) — deterministic with no sampling, so nothing needs to be
    persisted or checkpointed at all (``eager`` is irrelevant): one
    (min, max) aggregate, one bucket-count aggregate, one bucketed
    window — three fully-parallel jobs, two scans, zero pinned memory.
    Value-skewed keys degrade bucket balance (never correctness); the
    sampled-range path below remains the general fallback.
    """
    cols = [F.col(c) for c in order_by]
    int_types = {"tinyint", "smallint", "int", "bigint"}
    if dict(df.dtypes).get(order_by[0]) in int_types:
        first = F.col(order_by[0])
        mn, mx = df.agg(
            F.min(order_by[0]), F.max(order_by[0])
        ).first()
        if mn is not None and (mx - mn) < 2 ** 52:
            span = mx - mn + 1
            n_buckets = min(n_buckets, span)
            # the long→double→long chain is monotone non-decreasing in
            # the key (each step is), so buckets are contiguous ranges
            # even when the division rounds — correctness never depends
            # on the boundaries being exact. NULL keys sort first in
            # Spark ASC windows, so they deterministically take bucket 0.
            bucket = F.when(first.isNull(), F.lit(0)).otherwise(
                F.least(
                    F.lit(n_buckets - 1),
                    ((first - F.lit(mn)) * F.lit(n_buckets) / F.lit(span))
                    .cast("long"),
                )
            ).cast("int")
            bucketed = df.withColumn("_bucket", bucket)
            sizes = {
                r["_bucket"]: r["cnt"]
                for r in bucketed.groupBy("_bucket")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            offsets, acc = [], 0
            for b in sorted(sizes):
                offsets.append((b, acc))
                acc += sizes[b]
            off_df = df.sparkSession.createDataFrame(
                offsets, "_bucket int, _offset long"
            )
            w = Window.partitionBy("_bucket").orderBy(*cols)
            return (
                bucketed.join(F.broadcast(off_df), "_bucket")
                .withColumn(
                    key_col,
                    F.col("_offset") + F.row_number().over(w) - F.lit(1),
                )
                .drop("_bucket", "_offset")
            )
    ranged = (
        df.repartitionByRange(n_buckets, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_bucket", F.spark_partition_id())
        .persist()
    )
    sizes = {
        r["_bucket"]: r["cnt"]
        for r in ranged.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = [], 0
    for b in sorted(sizes):
        offsets.append((b, acc))
        acc += sizes[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, "_bucket int, _offset long"
    )
    w = Window.partitionBy("_bucket").orderBy(*cols)
    out = (
        ranged.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            key_col,
            F.col("_offset") + F.row_number().over(w) - F.lit(1),
        )
        .drop("_bucket", "_offset")
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        ranged.unpersist()
        return out
    out.persisted_intermediate = ranged
    return out


def _schema_plus(base, output_col: str, output_type: str):
    """base StructType + one typed output column."""
    from pyspark.sql import types as T

    try:
        extra = T.DataType.fromDDL(output_type)
    except AttributeError:  # pragma: no cover - older pyspark
        from pyspark.sql.types import _parse_datatype_string

        extra = _parse_datatype_string(output_type)
    return T.StructType(
        list(base.fields) + [T.StructField(output_col, extra, True)]
    )


def _make_fit_fn(
    estimator: Any,
    feature_cols: Sequence[str],
    y_col: Optional[str],
    sample_weight_col: Optional[str],
    drop_na_in_y: bool,
    use_weight: bool,
) -> Callable:
    """Build the grouped-map fit function. Runs inside an executor task on
    the full pandas frame of one fold's train rows (reference semantics:
    application.py:54-139)."""
    import pandas as pd

    feature_cols = list(feature_cols)

    def fit_fn(key, pdf):
        fold_id = int(key[0])
        est = clone(estimator)
        sub = pdf
        if y_col is not None and drop_na_in_y:
            sub = sub[sub[y_col].notna()]
        X = sub[feature_cols]
        y = sub[y_col] if y_col is not None else None
        kwargs = {}
        if sample_weight_col is not None and use_weight:
            kwargs["sample_weight"] = sub[sample_weight_col].to_numpy()
        try:
            if y is not None:
                est.fit(X, y, **kwargs)
            else:
                est.fit(X, **kwargs)
        except ValueError as e:
            raise ValueError(f"Fold {fold_id}: {e}") from e
        return pd.DataFrame(
            {"fold_id": [fold_id], "model": [pickle.dumps(est)]}
        )

    return fit_fn


def cross_val_fit(
    estimator: Any,
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: Optional[str],
    cv: PanelSplit,
    sample_weight_col: Optional[str] = None,
    drop_na_in_y: bool = False,
) -> List[Any]:
    """Fit one cloned estimator per fold; returns the fitted models in
    fold order (reference application.py:160-225).

    Closed-form estimators: at most one per-period moment aggregate,
    memoised per frame and columns. Others: one Spark job — literal
    fan-out → ``groupBy(fold_id)`` (the single shuffle) → grouped-map
    fit. Column pruning: only the columns the fit needs are shipped
    through the shuffle and Arrow.
    """
    use_weight = sample_weight_col is not None and supports_sample_weight(
        estimator
    )
    if sample_weight_col is not None and not use_weight:
        import warnings

        warnings.warn(
            f"{type(estimator).__name__}.fit does not support "
            "sample_weight; fitting without it.",
            stacklevel=2,
        )
    # Closed-form family → one JVM-side moment aggregation instead of a
    # fold-sized pandas task (see linear_fastpath.py; removes the
    # biggest-fold skew ceiling at scale).
    from .linear_fastpath import suffstats_fit

    fast = suffstats_fit(
        estimator, df, feature_cols, y_col, cv,
        sample_weight_col=sample_weight_col if use_weight else None,
        drop_na_in_y=drop_na_in_y,
    )
    if fast is not None:
        return fast

    fit_cols = [c for c in (y_col, sample_weight_col) if c is not None]
    assigned = cv.assign_columns(df, [*feature_cols, *fit_cols], ("train",))
    fit_fn = _make_fit_fn(
        estimator, feature_cols, y_col, sample_weight_col, drop_na_in_y,
        use_weight,
    )
    rows = (
        assigned.groupBy("fold_id")
        .applyInPandas(fit_fn, schema="fold_id int, model binary")
        .collect()
    )
    by_id = {r["fold_id"]: pickle.loads(bytes(r["model"])) for r in rows}
    models: List[Any] = []
    for i in range(cv.n_splits):
        if i not in by_id:
            raise ValueError(
                f"Fold {i} has no training rows; cannot fit. "
                "Use drop_splits() to remove degenerate folds first."
            )
        models.append(by_id[i])
    return models


def cross_val_predict(
    fitted_estimators: List[Any],
    df: DataFrame,
    feature_cols: Sequence[str],
    cv: PanelSplit,
    method: str = "predict",
    return_group: str = "test",
    output_col: str = "prediction",
    output_type: Optional[str] = None,
    keep_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Out-of-fold apply: each fold's model applied to its *test* rows
    (or train rows with ``return_group='train'``), as one shuffle-free
    ``mapInPandas`` pass (reference application.py:228-297).

    Returns a DataFrame with ``keep_cols`` (default: all input columns) +
    ``fold_id`` + ``output_col``. Rows belonging to several folds' groups
    appear once per fold — identical to the reference's concatenation
    semantics. Order restoration is the caller's terminal
    ``orderBy(row_key)``.
    """
    if return_group not in ("train", "test"):
        raise ValueError(
            f"return_group must be train or test. Got {return_group} instead."
        )
    for m in fitted_estimators:
        if not hasattr(m, method):
            raise AttributeError(
                f"Fitted estimator {type(m).__name__} has no method "
                f"{method!r}."
            )
    if output_type is None:
        output_type = (
            "array<double>"
            if method in ("predict_proba", "predict_log_proba", "transform")
            else "double"
        )
    keep = list(keep_cols) if keep_cols is not None else list(df.columns)
    assigned = cv.assign_columns(df, [*keep, *feature_cols], (return_group,))

    # Closed-form family + plain predict → literal coefficient array
    # indexed by fold_id + arithmetic projection: the whole OOF pass
    # stays in whole-stage codegen, no Python workers, no broadcast.
    if output_type == "double":
        from .linear_fastpath import linear_predict_frame

        fast_df = linear_predict_frame(
            assigned, fitted_estimators, list(feature_cols), method,
            list(keep) + ["fold_id"], output_col,
        )
        if fast_df is not None:
            return fast_df
    if output_type == "array<double>" and method == "transform":
        from .linear_fastpath import scaler_transform_frame

        fast_df = scaler_transform_frame(
            assigned, fitted_estimators, list(feature_cols),
            list(keep) + ["fold_id"], output_col,
        )
        if fast_df is not None:
            return fast_df

    spark = df.sparkSession
    models_b = spark.sparkContext.broadcast(
        [pickle.dumps(m) for m in fitted_estimators]
    )
    feature_cols = list(feature_cols)
    out_fields = list(keep) + ["fold_id"]
    out_schema = _schema_plus(
        assigned.select(*out_fields).schema, output_col, output_type
    )
    wide = output_type.startswith("array")

    def apply_fn(batches):
        import pandas as pd

        cache = {}

        def model_for(fid: int):
            if fid not in cache:
                cache[fid] = pickle.loads(models_b.value[fid])
            return cache[fid]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_parts = []
            # group the Arrow batch by fold; vectorized apply per group
            for fid, g in pdf.groupby("fold_id", sort=False):
                model = model_for(int(fid))
                res = getattr(model, method)(g[feature_cols])
                res = np.asarray(res)
                o = g[out_fields].copy()
                if wide:
                    if res.ndim == 1:
                        res = res.reshape(-1, 1)
                    o[output_col] = list(res)
                else:
                    o[output_col] = res.reshape(-1)
                out_parts.append(o)
            yield pd.concat(out_parts, ignore_index=True)

    return assigned.mapInPandas(apply_fn, schema=out_schema)


def cross_val_fit_predict(
    estimator: Any,
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: Optional[str],
    cv: PanelSplit,
    method: str = "predict",
    sample_weight_col: Optional[str] = None,
    return_group: str = "test",
    drop_na_in_y: bool = False,
    output_col: str = "prediction",
    output_type: Optional[str] = None,
    keep_cols: Optional[Sequence[str]] = None,
) -> Tuple[DataFrame, List[Any]]:
    """Fit per fold, then out-of-fold apply (reference
    application.py:300-371). Returns ``(predictions_df, fitted_models)``."""
    models = cross_val_fit(
        estimator, df, feature_cols, y_col, cv,
        sample_weight_col=sample_weight_col, drop_na_in_y=drop_na_in_y,
    )
    preds = cross_val_predict(
        models, df, feature_cols, cv, method=method,
        return_group=return_group, output_col=output_col,
        output_type=output_type, keep_cols=keep_cols,
    )
    return preds, models
