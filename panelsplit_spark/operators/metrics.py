"""Per-fold metrics & scorers (reference /root/reference/panelsplit/
metrics.py, 724 LoC; utils/_response.py).

Two execution paths, chosen automatically:

* **SQL fast path** — metrics expressible as Catalyst aggregates (MSE,
  MAE, RMSE, R², accuracy, …) run as a single ``groupBy(fold_id)``
  aggregation: map-side partials, whole-stage codegen, no Python in the
  loop. This is the 100 TB path.
* **generic path** — arbitrary Python metric callables run per fold group
  via ``applyInPandas`` (one Arrow-delivered pandas frame per fold), the
  distributed analog of the reference's per-fold
  ``score_func(y_true[test], preds)`` loop (metrics.py:390-398).

The scorer registry mirrors the reference's ``_SCORERS`` names
(metrics.py:553-724) for every metric implementable without sklearn;
sklearn-backed scorers register automatically when sklearn is available.
"""

from __future__ import annotations

import math
from typing import Any, Callable, Dict, List, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions.sql import sql_ident

__all__ = [
    "make_SequentialCV_scorer",
    "get_scorer",
    "check_scoring",
    "per_fold_scores",
    "SCORER_NAMES",
]


# ----------------------------------------------------------------------
# numpy metric functions (sklearn-compatible signatures/values)
# ----------------------------------------------------------------------


def mean_squared_error(y_true, y_pred, sample_weight=None):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    d = (y_true - y_pred) ** 2
    return float(np.average(d, weights=sample_weight))


def root_mean_squared_error(y_true, y_pred, sample_weight=None):
    return math.sqrt(mean_squared_error(y_true, y_pred, sample_weight))


def mean_absolute_error(y_true, y_pred, sample_weight=None):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    return float(np.average(np.abs(y_true - y_pred), weights=sample_weight))


def median_absolute_error(y_true, y_pred):
    return float(np.median(np.abs(np.asarray(y_true, float) - np.asarray(y_pred, float))))


def max_error(y_true, y_pred):
    return float(np.max(np.abs(np.asarray(y_true, float) - np.asarray(y_pred, float))))


def mean_absolute_percentage_error(y_true, y_pred, sample_weight=None):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    eps = np.finfo(np.float64).eps
    ape = np.abs(y_true - y_pred) / np.maximum(np.abs(y_true), eps)
    return float(np.average(ape, weights=sample_weight))


def mean_squared_log_error(y_true, y_pred, sample_weight=None):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    return float(
        np.average(
            (np.log1p(y_true) - np.log1p(y_pred)) ** 2, weights=sample_weight
        )
    )


def root_mean_squared_log_error(y_true, y_pred, sample_weight=None):
    return math.sqrt(mean_squared_log_error(y_true, y_pred, sample_weight))


def r2_score(y_true, y_pred, sample_weight=None):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    w = (
        np.ones_like(y_true)
        if sample_weight is None
        else np.asarray(sample_weight, float)
    )
    ss_res = np.sum(w * (y_true - y_pred) ** 2)
    mu = np.average(y_true, weights=w)
    ss_tot = np.sum(w * (y_true - mu) ** 2)
    if ss_tot == 0.0:
        return 1.0 if ss_res == 0.0 else 0.0
    return float(1.0 - ss_res / ss_tot)


def explained_variance_score(y_true, y_pred):
    y_true, y_pred = np.asarray(y_true, float), np.asarray(y_pred, float)
    num = np.var(y_true - y_pred)
    den = np.var(y_true)
    if den == 0.0:
        return 1.0 if num == 0.0 else 0.0
    return float(1.0 - num / den)


def accuracy_score(y_true, y_pred, sample_weight=None):
    eq = np.asarray(y_true) == np.asarray(y_pred)
    return float(np.average(eq, weights=sample_weight))


def balanced_accuracy_score(y_true, y_pred):
    y_true, y_pred = np.asarray(y_true), np.asarray(y_pred)
    recalls = []
    for c in np.unique(y_true):
        mask = y_true == c
        recalls.append(np.mean(y_pred[mask] == c))
    return float(np.mean(recalls))


def _binary_counts(y_true, y_pred, pos_label=1):
    y_true, y_pred = np.asarray(y_true), np.asarray(y_pred)
    tp = np.sum((y_pred == pos_label) & (y_true == pos_label))
    fp = np.sum((y_pred == pos_label) & (y_true != pos_label))
    fn = np.sum((y_pred != pos_label) & (y_true == pos_label))
    return tp, fp, fn


def _multiclass_counts(y_true, y_pred):
    """Per-label (tp, fp, fn, support) over sorted unique labels of
    y_true ∪ y_pred."""
    y_true, y_pred = np.asarray(y_true), np.asarray(y_pred)
    labels = np.unique(np.concatenate([y_true, y_pred]))
    tp = np.array([np.sum((y_pred == c) & (y_true == c)) for c in labels])
    fp = np.array([np.sum((y_pred == c) & (y_true != c)) for c in labels])
    fn = np.array([np.sum((y_pred != c) & (y_true == c)) for c in labels])
    support = np.array([np.sum(y_true == c) for c in labels])
    return labels, tp, fp, fn, support


def _safe_div(num, den, zero_division):
    num, den = np.asarray(num, float), np.asarray(den, float)
    out = np.full(num.shape, float(zero_division))
    nz = den != 0
    out[nz] = num[nz] / den[nz]
    return out


def _averaged_prf(
    y_true, y_pred, num_fn, den_fn, average, pos_label, zero_division
):
    """Shared machinery for precision/recall/jaccard-style ratios:
    ``num_fn/den_fn`` map (tp, fp, fn) → numerator/denominator arrays."""
    if average == "binary":
        tp, fp, fn = _binary_counts(y_true, y_pred, pos_label)
        num, den = num_fn(tp, fp, fn), den_fn(tp, fp, fn)
        return float(num / den) if den else float(zero_division)
    if average == "samples":
        raise ValueError(
            "average='samples' requires multilabel targets, which this "
            "engine does not support"
        )
    _, tp, fp, fn, support = _multiclass_counts(y_true, y_pred)
    if average == "micro":
        num, den = num_fn(tp.sum(), fp.sum(), fn.sum()), den_fn(
            tp.sum(), fp.sum(), fn.sum()
        )
        return float(num / den) if den else float(zero_division)
    vals = _safe_div(
        num_fn(tp, fp, fn), den_fn(tp, fp, fn), zero_division
    )
    if average == "macro":
        return float(np.mean(vals))
    if average == "weighted":
        if support.sum() == 0:
            return float(zero_division)
        return float(np.average(vals, weights=support))
    raise ValueError(f"Unknown average {average!r}")


def precision_score(
    y_true, y_pred, pos_label=1, zero_division=0.0, average="binary"
):
    return _averaged_prf(
        y_true, y_pred,
        lambda tp, fp, fn: tp, lambda tp, fp, fn: tp + fp,
        average, pos_label, zero_division,
    )


def recall_score(
    y_true, y_pred, pos_label=1, zero_division=0.0, average="binary"
):
    return _averaged_prf(
        y_true, y_pred,
        lambda tp, fp, fn: tp, lambda tp, fp, fn: tp + fn,
        average, pos_label, zero_division,
    )


def f1_score(
    y_true, y_pred, pos_label=1, zero_division=0.0, average="binary"
):
    return _averaged_prf(
        y_true, y_pred,
        lambda tp, fp, fn: 2 * tp, lambda tp, fp, fn: 2 * tp + fp + fn,
        average, pos_label, zero_division,
    )


def jaccard_score(
    y_true, y_pred, pos_label=1, zero_division=0.0, average="binary"
):
    return _averaged_prf(
        y_true, y_pred,
        lambda tp, fp, fn: tp, lambda tp, fp, fn: tp + fp + fn,
        average, pos_label, zero_division,
    )


def matthews_corrcoef(y_true, y_pred):
    y_true, y_pred = np.asarray(y_true), np.asarray(y_pred)
    classes = np.unique(np.concatenate([y_true, y_pred]))
    t = np.array([np.sum(y_true == c) for c in classes], float)
    p = np.array([np.sum(y_pred == c) for c in classes], float)
    c = float(np.sum(y_true == y_pred))
    s = float(len(y_true))
    num = c * s - t @ p
    den = math.sqrt((s * s - p @ p) * (s * s - t @ t))
    return float(num / den) if den else 0.0


def log_loss(y_true, y_proba, eps=1e-15):
    """y_proba: (n, 2) array or 1-D prob of positive class."""
    y_true = np.asarray(y_true)
    p = np.asarray(y_proba, float)
    if p.ndim == 2:
        p = p[:, 1]
    p = np.clip(p, eps, 1 - eps)
    classes = np.unique(y_true)
    yb = (y_true == classes[-1]).astype(float)
    return float(-np.mean(yb * np.log(p) + (1 - yb) * np.log(1 - p)))


def _pos_scores(y_true, y_score, pos_label=None):
    """Resolve (binary indicator, positive-class scores) honoring
    ``pos_label`` (reference utils/_response.py:13-73): with a 2-column
    proba matrix the pos_label's column is selected; with 1-D scores the
    sign flips when pos_label is the smaller class."""
    y_true = np.asarray(y_true)
    s = np.asarray(y_score, float)
    classes = np.unique(y_true)
    pos = classes[-1] if pos_label is None else pos_label
    if s.ndim == 2:
        if s.shape[1] == 1:
            s = s[:, 0]
        else:
            idx = int(np.where(classes == pos)[0][0]) if pos in classes else 1
            s = s[:, idx]
    elif pos_label is not None and len(classes) == 2 and pos == classes[0]:
        s = -s
    return (y_true == pos), s


def brier_score_loss(y_true, y_proba, pos_label=None):
    yb, p = _pos_scores(y_true, y_proba, pos_label)
    return float(np.mean((p - yb.astype(float)) ** 2))


def _binary_auc(yb, s):
    """AUC of boolean yb vs scores s via the midrank statistic."""
    yb = np.asarray(yb, bool)
    s = np.asarray(s, float)
    n_pos, n_neg = int(yb.sum()), int((~yb).sum())
    if n_pos == 0 or n_neg == 0:
        raise ValueError("roc_auc undefined with a single class")
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s), float)
    sorted_s = s[order]
    i = 0
    r = 1.0
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        ranks[order[i : j + 1]] = (r + r + (j - i)) / 2.0
        r += j - i + 1
        i = j + 1
    return float(
        (ranks[yb].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    )


def roc_auc_score(
    y_true,
    y_score,
    multi_class="raise",
    average="macro",
    pos_label=None,
):
    """AUC: binary via the rank statistic; multiclass via one-vs-rest
    (``multi_class='ovr'``) or all-pairs one-vs-one (``'ovo'``), averaged
    macro or prevalence-weighted (reference registers roc_auc_ovr/ovo
    [_weighted] through sklearn; formulas per Hand & Till (2001))."""
    y_true = np.asarray(y_true)
    s = np.asarray(y_score, float)
    classes = np.unique(y_true)
    if len(classes) <= 2 and (s.ndim == 1 or s.shape[1] <= 2):
        yb, s1 = _pos_scores(y_true, y_score, pos_label)
        return _binary_auc(yb, s1)
    if multi_class == "raise":
        raise ValueError(
            "multiclass targets need multi_class='ovr' or 'ovo'"
        )
    if s.ndim != 2 or s.shape[1] != len(classes):
        raise ValueError(
            "multiclass roc_auc needs an (n, n_classes) probability "
            "matrix aligned to the sorted class labels"
        )
    support = np.array([np.sum(y_true == c) for c in classes], float)
    if multi_class == "ovr":
        aucs = [
            _binary_auc(y_true == c, s[:, i])
            for i, c in enumerate(classes)
        ]
        w = support if average == "weighted" else None
        return float(np.average(aucs, weights=w))
    if multi_class == "ovo":
        pair_aucs, pair_w = [], []
        for i in range(len(classes)):
            for j in range(i + 1, len(classes)):
                mask = (y_true == classes[i]) | (y_true == classes[j])
                a_ij = _binary_auc(y_true[mask] == classes[i], s[mask, i])
                a_ji = _binary_auc(y_true[mask] == classes[j], s[mask, j])
                pair_aucs.append((a_ij + a_ji) / 2.0)
                pair_w.append(support[i] + support[j])
        w = pair_w if average == "weighted" else None
        return float(np.average(pair_aucs, weights=w))
    raise ValueError(f"Unknown multi_class {multi_class!r}")


def average_precision_score(y_true, y_score, pos_label=None):
    yb, s = _pos_scores(y_true, y_score, pos_label)
    yb = yb.astype(int)
    order = np.argsort(-s, kind="mergesort")
    yb = yb[order]
    tp = np.cumsum(yb)
    precision = tp / np.arange(1, len(yb) + 1)
    n_pos = yb.sum()
    if n_pos == 0:
        return 0.0
    return float(np.sum(precision * yb) / n_pos)


def top_k_accuracy_score(y_true, y_score, k=2):
    """Fraction of rows whose true label is among the k highest scores.
    1-D scores are treated as decision values of the greater class
    (score matrix [−s, s]); ties count in the row's favor."""
    y_true = np.asarray(y_true)
    s = np.asarray(y_score, float)
    classes = np.unique(y_true)
    if s.ndim == 1:
        s = np.column_stack([-s, s])
    # sklearn parity: without an explicit labels= argument the column
    # order is only knowable when every class appears in y_true — a fold
    # missing a class would otherwise be silently mis-indexed (column j
    # belongs to the model's j-th class, not y_true's j-th distinct)
    if s.shape[1] != len(classes):
        raise ValueError(
            f"Number of classes in y_true ({len(classes)}) not equal to "
            f"the number of y_score columns ({s.shape[1]}); score this "
            "fold with a full-class sample"
        )
    hits = 0
    for r in range(len(y_true)):
        ci = int(np.where(classes == y_true[r])[0][0])
        n_greater = int(np.sum(s[r] > s[r, ci]))
        hits += n_greater < k
    return float(hits / max(len(y_true), 1))


def class_likelihood_ratios(y_true, y_pred, replace_undefined_by=1.0):
    """(LR+, LR−) of a binary classifier: sensitivity/(1−specificity)
    and (1−sensitivity)/specificity, undefined ratios replaced."""
    y_true, y_pred = np.asarray(y_true), np.asarray(y_pred)
    classes = np.unique(y_true)
    pos = classes[-1]
    tp = np.sum((y_pred == pos) & (y_true == pos))
    fn = np.sum((y_pred != pos) & (y_true == pos))
    fp = np.sum((y_pred == pos) & (y_true != pos))
    tn = np.sum((y_pred != pos) & (y_true != pos))
    sens = tp / (tp + fn) if tp + fn else np.nan
    spec = tn / (tn + fp) if tn + fp else np.nan
    lr_pos = (
        sens / (1 - spec)
        if np.isfinite(sens) and np.isfinite(spec) and spec < 1
        else replace_undefined_by
    )
    lr_neg = (
        (1 - sens) / spec
        if np.isfinite(sens) and np.isfinite(spec) and spec > 0
        else replace_undefined_by
    )
    return float(lr_pos), float(lr_neg)


def positive_likelihood_ratio(y_true, y_pred):
    return class_likelihood_ratios(y_true, y_pred)[0]


def negative_likelihood_ratio(y_true, y_pred):
    return class_likelihood_ratios(y_true, y_pred)[1]


# ----------------------------------------------------------------------
# deviance / D² regression scores
# ----------------------------------------------------------------------


def _xlogy(x, y):
    x, y = np.asarray(x, float), np.asarray(y, float)
    out = np.zeros(np.broadcast(x, y).shape)
    nz = x != 0
    out[nz] = (x * np.log(np.where(nz, y, 1.0)))[nz]
    return out


def mean_poisson_deviance(y_true, y_pred, sample_weight=None):
    y, p = np.asarray(y_true, float), np.asarray(y_pred, float)
    if np.any(p <= 0) or np.any(y < 0):
        raise ValueError("poisson deviance needs y_pred > 0 and y >= 0")
    dev = 2 * (_xlogy(y, y / p) - y + p)
    return float(np.average(dev, weights=sample_weight))


def mean_gamma_deviance(y_true, y_pred, sample_weight=None):
    y, p = np.asarray(y_true, float), np.asarray(y_pred, float)
    if np.any(p <= 0) or np.any(y <= 0):
        raise ValueError("gamma deviance needs y_pred > 0 and y > 0")
    dev = 2 * (np.log(p / y) + y / p - 1)
    return float(np.average(dev, weights=sample_weight))


def d2_absolute_error_score(y_true, y_pred):
    """1 − |err| deviance vs the median-predictor null model."""
    y, p = np.asarray(y_true, float), np.asarray(y_pred, float)
    num = np.sum(np.abs(y - p))
    den = np.sum(np.abs(y - np.median(y)))
    if den == 0.0:
        return 1.0 if num == 0.0 else 0.0
    return float(1.0 - num / den)


def d2_brier_score(y_true, y_proba):
    """1 − Brier(y, p) / Brier(y, base rate)."""
    yb, p = _pos_scores(y_true, y_proba, None)
    yb = yb.astype(float)
    num = np.mean((p - yb) ** 2)
    base = np.mean(yb)
    den = np.mean((base - yb) ** 2)
    if den == 0.0:
        return 1.0 if num == 0.0 else 0.0
    return float(1.0 - num / den)


def d2_log_loss_score(y_true, y_proba, eps=1e-15):
    """1 − log_loss(y, p) / log_loss(y, base rate)."""
    yb, p = _pos_scores(y_true, y_proba, None)
    yb = yb.astype(float)
    p = np.clip(p, eps, 1 - eps)
    num = -np.mean(yb * np.log(p) + (1 - yb) * np.log(1 - p))
    base = np.clip(np.mean(yb), eps, 1 - eps)
    den = -np.mean(yb * np.log(base) + (1 - yb) * np.log(1 - base))
    if den == 0.0:
        return 1.0 if num == 0.0 else 0.0
    return float(1.0 - num / den)


# ----------------------------------------------------------------------
# clustering (supervised label-agreement) metrics — contingency-based
# ----------------------------------------------------------------------


def _contingency(labels_true, labels_pred):
    a = np.asarray(labels_true)
    b = np.asarray(labels_pred)
    ca, ia = np.unique(a, return_inverse=True)
    cb, ib = np.unique(b, return_inverse=True)
    m = np.zeros((len(ca), len(cb)), dtype=np.int64)
    np.add.at(m, (ia, ib), 1)
    return m


def _comb2(x):
    x = np.asarray(x, float)
    return x * (x - 1) / 2.0


def rand_score(labels_true, labels_pred):
    m = _contingency(labels_true, labels_pred)
    n = m.sum()
    total = _comb2(n)
    if total == 0:
        return 1.0
    same = _comb2(m).sum()
    a = _comb2(m.sum(axis=1)).sum()
    b = _comb2(m.sum(axis=0)).sum()
    # agreements = pairs together in both + pairs apart in both
    return float((total + 2 * same - a - b) / total)


def adjusted_rand_score(labels_true, labels_pred):
    m = _contingency(labels_true, labels_pred)
    n = m.sum()
    idx = _comb2(m).sum()
    a = _comb2(m.sum(axis=1)).sum()
    b = _comb2(m.sum(axis=0)).sum()
    total = _comb2(n)
    if total == 0:
        return 1.0
    expected = a * b / total
    max_idx = (a + b) / 2.0
    if max_idx == expected:
        return 1.0
    return float((idx - expected) / (max_idx - expected))


def mutual_info_score(labels_true, labels_pred):
    m = _contingency(labels_true, labels_pred).astype(float)
    n = m.sum()
    if n == 0:
        return 0.0
    pij = m / n
    pi = pij.sum(axis=1, keepdims=True)
    pj = pij.sum(axis=0, keepdims=True)
    nz = pij > 0
    return float(np.sum(pij[nz] * np.log((pij / (pi @ pj))[nz])))


def _entropy(labels):
    _, counts = np.unique(np.asarray(labels), return_counts=True)
    p = counts / counts.sum()
    return float(-np.sum(p * np.log(p)))


def normalized_mutual_info_score(labels_true, labels_pred):
    mi = mutual_info_score(labels_true, labels_pred)
    h1, h2 = _entropy(labels_true), _entropy(labels_pred)
    if h1 == 0.0 and h2 == 0.0:
        return 1.0
    denom = (h1 + h2) / 2.0  # arithmetic mean (sklearn default)
    if denom == 0.0:
        return 0.0
    return float(mi / denom)


def _expected_mutual_info(m):
    """Expected MI under the hypergeometric null (Vinh et al. 2010),
    via log-gamma to stay stable at any count."""
    from math import exp, lgamma, log

    m = np.asarray(m, dtype=np.int64)
    n = int(m.sum())
    a = m.sum(axis=1).astype(int)
    b = m.sum(axis=0).astype(int)
    emi = 0.0
    for ai in a:
        for bj in b:
            lo = max(1, ai + bj - n)
            hi = min(ai, bj)
            for nij in range(lo, hi + 1):
                # hypergeometric pmf P(nij) in log space
                log_p = (
                    lgamma(ai + 1)
                    + lgamma(bj + 1)
                    + lgamma(n - ai + 1)
                    + lgamma(n - bj + 1)
                    - lgamma(n + 1)
                    - lgamma(nij + 1)
                    - lgamma(ai - nij + 1)
                    - lgamma(bj - nij + 1)
                    - lgamma(n - ai - bj + nij + 1)
                )
                emi += (
                    (nij / n) * log(n * nij / (ai * bj)) * exp(log_p)
                )
    return emi


def adjusted_mutual_info_score(labels_true, labels_pred):
    m = _contingency(labels_true, labels_pred)
    mi = mutual_info_score(labels_true, labels_pred)
    h1, h2 = _entropy(labels_true), _entropy(labels_pred)
    if h1 == 0.0 and h2 == 0.0:
        return 1.0
    emi = _expected_mutual_info(m)
    denom = (h1 + h2) / 2.0 - emi
    if denom == 0.0:
        return 1.0 if mi == emi else 0.0
    return float((mi - emi) / denom)


def homogeneity_score(labels_true, labels_pred):
    h_c = _entropy(labels_true)
    if h_c == 0.0:
        return 1.0
    mi = mutual_info_score(labels_true, labels_pred)
    return float(mi / h_c)


def completeness_score(labels_true, labels_pred):
    h_k = _entropy(labels_pred)
    if h_k == 0.0:
        return 1.0
    mi = mutual_info_score(labels_true, labels_pred)
    return float(mi / h_k)


def v_measure_score(labels_true, labels_pred):
    h = homogeneity_score(labels_true, labels_pred)
    c = completeness_score(labels_true, labels_pred)
    if h + c == 0.0:
        return 0.0
    return float(2 * h * c / (h + c))


def fowlkes_mallows_score(labels_true, labels_pred):
    m = _contingency(labels_true, labels_pred)
    tk = _comb2(m).sum()
    pk = _comb2(m.sum(axis=1)).sum()
    qk = _comb2(m.sum(axis=0)).sum()
    if pk == 0.0 or qk == 0.0:
        return 0.0
    return float(tk / np.sqrt(pk * qk))


# ----------------------------------------------------------------------
# SQL fast-path expressions (Catalyst aggregates — zero Python)
# ----------------------------------------------------------------------

#: a NaN double literal, folded by the optimizer like ``F.lit(nan)``
SQL_NAN = "CAST('NaN' AS DOUBLE)"

#: each fast-path metric as SQL text over the SQL text of y and p, so an
#: aggregate is parsed JVM-side in one call (see ``functions/sql.py``);
#: ``power`` is what the Column API's ``** 2`` renders as
_SQL_METRICS: Dict[str, str] = {
    "mse": "avg(power({y} - {p}, 2))",
    "rmse": "sqrt(avg(power({y} - {p}, 2)))",
    "mae": "avg(abs({y} - {p}))",
    "max_error": "max(abs({y} - {p}))",
    "accuracy": "avg(CAST({y} = {p} AS DOUBLE))",
    "medae": "median(abs({y} - {p}))",
}


def metric_agg_expr(
    name: str, y: str, p: str, nan_aware: bool = False
) -> str:
    """SQL text of the aggregate for a fast-path metric over the SQL
    text ``y`` and ``p``.

    ``nan_aware=True`` (use whenever y/p are doubles that may hold NaN —
    i.e. after the NULL→NaN normalization) patches the two metrics whose
    default Spark semantics diverge from numpy on NaN inputs:

    * ``accuracy`` — Spark evaluates ``NaN = NaN`` as TRUE; numpy's
      ``nan != nan`` counts it as a mismatch. Count NaN rows as wrong.
    * ``medae`` — NaN sorts greatest in Spark, so the median can stay
      finite; ``np.median`` poisons on any NaN. Add an any-NaN poison
      flag around the median.

    The arithmetic metrics (mse/rmse/mae/max_error) already propagate
    NaN through ``avg``/``max`` like numpy does.
    """
    nan_in = f"isnan({y}) OR isnan({p})"
    if nan_aware and name == "accuracy":
        return (
            f"avg(CASE WHEN {nan_in} THEN 0.0D "
            f"ELSE CAST({y} = {p} AS DOUBLE) END)"
        )
    if nan_aware and name == "medae":
        return (
            f"CASE WHEN max(CAST({nan_in} AS INT)) = 1 THEN {SQL_NAN} "
            f"ELSE median(abs({y} - {p})) END"
        )
    return _SQL_METRICS[name].format(y=y, p=p)


def r2_parts(y: str, p: str, prefix: str = "") -> List[str]:
    """SQL text of the four sums r2 is computed from, named ``ss_res``,
    ``ss_y2``, ``s_y`` and ``n`` after ``prefix``:
    r2 = 1 − ss_res / (ss_y2 − s_y² / n)."""
    return [
        f"sum(power({y} - {p}, 2)) AS {prefix}ss_res",
        f"sum(power({y}, 2)) AS {prefix}ss_y2",
        f"sum({y}) AS {prefix}s_y",
        f"count(1) AS {prefix}n",
    ]


def _fastpath_name(metric: Any, metric_kwargs: dict) -> Optional[str]:
    """Fast-path name for a metric callable whose unweighted form is a
    single Catalyst aggregate — keeps the hot scoring loop JVM-side
    (scorers always hand per_fold_scores the callable, so without this
    mapping every search candidate would pay a grouped-map pandas UDF)."""
    if metric_kwargs:
        return None
    return {
        mean_squared_error: "mse",
        root_mean_squared_error: "rmse",
        mean_absolute_error: "mae",
        max_error: "max_error",
        accuracy_score: "accuracy",
        median_absolute_error: "medae",
        r2_score: "r2",
    }.get(metric)


def per_fold_scores(
    preds: DataFrame,
    y_col: str,
    pred_col: str,
    metric: Any = "mse",
    fold_col: str = "fold_id",
    **metric_kwargs: Any,
) -> DataFrame:
    """Score each fold's predictions → DataFrame ``(fold_id, score)``.

    ``metric`` is either a fast-path name (``mse``, ``rmse``, ``mae``,
    ``accuracy``, ``medae``, ``max_error``, ``r2``) or any Python callable
    ``f(y_true, y_pred, **kw) -> float`` (run per fold via grouped-map
    pandas UDF).

    ``mse``, ``rmse`` and ``r2`` of the exact frame a closed-form
    ``cross_val_predict`` returned (``y_col`` one of its kept columns,
    ``pred_col`` its output, ``fold_col="fold_id"``) come from the
    source frame's memoised moment cube instead, with no pass over the
    rows: a literal frame whose ``collect()`` starts no Spark job
    (``linear_fastpath.predicted_fold_scores``; fallbacks in
    ``docs/SCALE_NOTES.md``, "Scores from moments"). Otherwise one
    grouped aggregate over ``preds`` scores each fold.
    """
    if callable(metric):
        fast = _fastpath_name(metric, metric_kwargs)
        if fast is not None:
            metric, metric_kwargs = fast, {}
    if (
        isinstance(metric, str) and fold_col == "fold_id"
        and not metric_kwargs
    ):
        from .linear_fastpath import predicted_fold_scores

        scored = predicted_fold_scores(preds, y_col, pred_col, metric)
        if scored is not None:
            return scored
    if isinstance(metric, str):
        # Spark aggregates SKIP NULLs; numpy metrics poison on NaN.
        # Normalize numeric NULL→NaN so the JVM fast path reproduces the
        # reference's poisoning semantics exactly (NaN is a double value
        # Spark does NOT skip). Non-numeric label columns (accuracy on
        # strings) are left as-is.
        dtypes = dict(preds.dtypes)
        num = ("double", "float", "int", "bigint", "smallint", "tinyint")
        nanified = False
        for c in (y_col, pred_col):
            if dtypes.get(c, "").startswith(num) or dtypes.get(
                c, ""
            ).startswith("decimal"):
                preds = preds.withColumn(c, F.expr(
                    f"coalesce(CAST({sql_ident(c)} AS DOUBLE), {SQL_NAN})"
                ))
                nanified = True
    y, p = sql_ident(y_col), sql_ident(pred_col)
    if isinstance(metric, str) and metric == "r2":
        # decomposed algebraically: 1 - Σ(y-p)² / Σ(y-ȳ_g)², with the group
        # mean folded in via sums — single aggregation, no window
        g = preds.groupBy(fold_col).agg(*map(F.expr, r2_parts(y, p)))
        return g.selectExpr(
            sql_ident(fold_col),
            "1.0D - ss_res / (ss_y2 - power(s_y, 2) / n) AS score",
        )
    if isinstance(metric, str):
        if metric not in _SQL_METRICS:
            raise ValueError(
                f"Unknown metric name {metric!r}; pass a callable or one of "
                f"{sorted(_SQL_METRICS)}"
            )
        expr = metric_agg_expr(metric, y, p, nan_aware=nanified)
        return preds.groupBy(fold_col).agg(F.expr(f"{expr} AS score"))

    import pandas as pd

    fn = metric

    def score_fn(key, pdf):
        yv = pdf[y_col].to_numpy()
        pv = pdf[pred_col].to_numpy()
        # array-typed predictions (predict_proba / transform) arrive as
        # an object Series of per-row arrays — stack to (n, k)
        if len(pv) and isinstance(pv[0], (list, tuple, np.ndarray)):
            pv = np.stack([np.asarray(x, dtype=float) for x in pv])
        val = fn(yv, pv, **metric_kwargs)
        return pd.DataFrame({fold_col: [key[0]], "score": [float(val)]})

    return preds.groupBy(fold_col).applyInPandas(
        score_fn, schema=f"{fold_col} int, score double"
    )


# ----------------------------------------------------------------------
# Scorer factory + registry (reference metrics.py:102-170, 553-724)
# ----------------------------------------------------------------------


class _Scorer:
    """Wraps a metric into ``scorer(estimator, df) -> List[float]``
    (one score per test fold), mirroring the reference's _Scorer protocol
    (metrics.py:352-398). ``estimator`` is a fitted SequentialCVPipeline
    (or any object exposing ``predict_df(df, method) -> DataFrame`` with
    ``fold_id`` + prediction columns)."""

    def __init__(
        self,
        score_func: Callable,
        sign: float = 1.0,
        response_method: str = "predict",
        **kwargs: Any,
    ) -> None:
        self._score_func = score_func
        self._sign = sign
        self._response_method = response_method
        self._kwargs = kwargs

    def __call__(
        self, estimator: Any, df: DataFrame, y_col: Optional[str] = None
    ) -> List[float]:
        y_col = y_col or getattr(estimator, "y_col", None)
        if y_col is None:
            raise ValueError("y_col required (pass explicitly or set on estimator)")
        method = resolve_response_method(estimator, self._response_method)
        preds = estimator.predict_df(df, method=method)
        return self.score_from_preds(preds, y_col)

    def score_from_preds(
        self, preds: DataFrame, y_col: str
    ) -> List[float]:
        """Score an already-computed predictions frame — lets callers
        share (and .cache()) one prediction pass across several metrics,
        the distributed analog of the reference's response-method result
        cache (metrics.py:173-194)."""
        pred_col = "prediction"
        scored = per_fold_scores(
            preds, y_col, pred_col, self._score_func, **self._kwargs
        ).collect()
        by_fold = {r["fold_id"]: r["score"] for r in scored}
        if not by_fold:
            return []
        if set(by_fold) == {None}:  # non-CV estimator: one global score
            return [self._sign * by_fold[None]]
        return [self._sign * by_fold[k] for k in sorted(by_fold)]


def resolve_response_method(estimator: Any, response_method) -> str:
    """Pick the first response method the estimator supports from a
    name or fallback tuple (reference metrics.py:613-625 registers
    scorers with ``("decision_function", "predict_proba")``)."""
    methods = (
        (response_method,)
        if isinstance(response_method, str)
        else tuple(response_method)
    )
    sup = getattr(estimator, "_supports", None)
    for m in methods:
        if sup is not None:
            if sup(m):
                return m
        elif hasattr(estimator, m):
            return m
    raise AttributeError(
        f"Estimator {estimator!r} supports none of {methods}"
    )


def make_SequentialCV_scorer(
    score_func: Callable,
    greater_is_better: bool = True,
    response_method: str = "predict",
    **kwargs: Any,
) -> _Scorer:
    """Factory mirroring the reference's scorer maker (metrics.py:102-170):
    sign-flips when lower-is-better so search always maximizes."""
    return _Scorer(
        score_func,
        sign=1.0 if greater_is_better else -1.0,
        response_method=response_method,
        **kwargs,
    )


_REGISTRY: Dict[str, Callable[[], _Scorer]] = {
    # regression (reference metrics.py:554-592)
    "r2": lambda: make_SequentialCV_scorer(r2_score),
    "explained_variance": lambda: make_SequentialCV_scorer(
        explained_variance_score
    ),
    "neg_max_error": lambda: make_SequentialCV_scorer(
        max_error, greater_is_better=False
    ),
    "max_error": lambda: make_SequentialCV_scorer(
        max_error, greater_is_better=False
    ),
    "neg_mean_squared_error": lambda: make_SequentialCV_scorer(
        mean_squared_error, greater_is_better=False
    ),
    "neg_root_mean_squared_error": lambda: make_SequentialCV_scorer(
        root_mean_squared_error, greater_is_better=False
    ),
    "neg_mean_absolute_error": lambda: make_SequentialCV_scorer(
        mean_absolute_error, greater_is_better=False
    ),
    "neg_mean_absolute_percentage_error": lambda: make_SequentialCV_scorer(
        mean_absolute_percentage_error, greater_is_better=False
    ),
    "neg_median_absolute_error": lambda: make_SequentialCV_scorer(
        median_absolute_error, greater_is_better=False
    ),
    "neg_mean_squared_log_error": lambda: make_SequentialCV_scorer(
        mean_squared_log_error, greater_is_better=False
    ),
    "neg_root_mean_squared_log_error": lambda: make_SequentialCV_scorer(
        root_mean_squared_log_error, greater_is_better=False
    ),
    # deviances + D² (reference metrics.py:580-592)
    "neg_mean_poisson_deviance": lambda: make_SequentialCV_scorer(
        mean_poisson_deviance, greater_is_better=False
    ),
    "neg_mean_gamma_deviance": lambda: make_SequentialCV_scorer(
        mean_gamma_deviance, greater_is_better=False
    ),
    "d2_absolute_error_score": lambda: make_SequentialCV_scorer(
        d2_absolute_error_score
    ),
    "d2_brier_score": lambda: make_SequentialCV_scorer(
        d2_brier_score, response_method="predict_proba"
    ),
    "d2_log_loss_score": lambda: make_SequentialCV_scorer(
        d2_log_loss_score, response_method="predict_proba"
    ),
    # classification, label-based (reference metrics.py:594-610)
    "accuracy": lambda: make_SequentialCV_scorer(accuracy_score),
    "balanced_accuracy": lambda: make_SequentialCV_scorer(
        balanced_accuracy_score
    ),
    "matthews_corrcoef": lambda: make_SequentialCV_scorer(matthews_corrcoef),
    "positive_likelihood_ratio": lambda: make_SequentialCV_scorer(
        positive_likelihood_ratio
    ),
    "neg_negative_likelihood_ratio": lambda: make_SequentialCV_scorer(
        negative_likelihood_ratio, greater_is_better=False
    ),
    # classification, score/probability-based with decision-function
    # fallback tuples (reference metrics.py:613-645)
    "top_k_accuracy": lambda: make_SequentialCV_scorer(
        top_k_accuracy_score,
        response_method=("decision_function", "predict_proba"),
    ),
    "roc_auc": lambda: make_SequentialCV_scorer(
        roc_auc_score,
        response_method=("decision_function", "predict_proba"),
    ),
    "average_precision": lambda: make_SequentialCV_scorer(
        average_precision_score,
        response_method=("decision_function", "predict_proba"),
    ),
    "roc_auc_ovr": lambda: make_SequentialCV_scorer(
        roc_auc_score, response_method="predict_proba", multi_class="ovr"
    ),
    "roc_auc_ovo": lambda: make_SequentialCV_scorer(
        roc_auc_score, response_method="predict_proba", multi_class="ovo"
    ),
    "roc_auc_ovr_weighted": lambda: make_SequentialCV_scorer(
        roc_auc_score,
        response_method="predict_proba",
        multi_class="ovr",
        average="weighted",
    ),
    "roc_auc_ovo_weighted": lambda: make_SequentialCV_scorer(
        roc_auc_score,
        response_method="predict_proba",
        multi_class="ovo",
        average="weighted",
    ),
    "neg_log_loss": lambda: make_SequentialCV_scorer(
        log_loss, greater_is_better=False, response_method="predict_proba"
    ),
    "neg_brier_score": lambda: make_SequentialCV_scorer(
        brier_score_loss,
        greater_is_better=False,
        response_method="predict_proba",
    ),
    # clustering / supervised label agreement (reference
    # metrics.py:659-668)
    "adjusted_rand_score": lambda: make_SequentialCV_scorer(
        adjusted_rand_score
    ),
    "rand_score": lambda: make_SequentialCV_scorer(rand_score),
    "homogeneity_score": lambda: make_SequentialCV_scorer(
        homogeneity_score
    ),
    "completeness_score": lambda: make_SequentialCV_scorer(
        completeness_score
    ),
    "v_measure_score": lambda: make_SequentialCV_scorer(v_measure_score),
    "mutual_info_score": lambda: make_SequentialCV_scorer(
        mutual_info_score
    ),
    "adjusted_mutual_info_score": lambda: make_SequentialCV_scorer(
        adjusted_mutual_info_score
    ),
    "normalized_mutual_info_score": lambda: make_SequentialCV_scorer(
        normalized_mutual_info_score
    ),
    "fowlkes_mallows_score": lambda: make_SequentialCV_scorer(
        fowlkes_mallows_score
    ),
}

# precision/recall/f1/jaccard × {binary, macro, micro, samples, weighted}
# (reference metrics.py:707-724 loop)
for _name, _metric in [
    ("precision", precision_score),
    ("recall", recall_score),
    ("f1", f1_score),
    ("jaccard", jaccard_score),
]:
    _REGISTRY[_name] = (
        lambda m=_metric: make_SequentialCV_scorer(m, average="binary")
    )
    for _avg in ["macro", "micro", "samples", "weighted"]:
        _REGISTRY[f"{_name}_{_avg}"] = (
            lambda m=_metric, a=_avg: make_SequentialCV_scorer(
                m, pos_label=None, average=a
            )
        )
del _name, _metric, _avg

SCORER_NAMES = sorted(_REGISTRY)


def get_scorer(scoring: Any) -> _Scorer:
    """Registry lookup (reference metrics.py:401-460): accepts a name, a
    ready scorer, or a bare metric callable (wrapped greater-is-better)."""
    if isinstance(scoring, str):
        if scoring not in _REGISTRY:
            raise ValueError(
                f"{scoring!r} is not a valid scoring value. "
                f"Valid names: {SCORER_NAMES}"
            )
        return _REGISTRY[scoring]()
    if isinstance(scoring, _Scorer):
        return scoring
    if callable(scoring):
        return make_SequentialCV_scorer(scoring)
    raise TypeError(f"Invalid scoring: {scoring!r}")


def check_scoring(scoring: Any = None) -> _Scorer:
    if scoring is None:
        return _REGISTRY["r2"]()
    return get_scorer(scoring)


def check_multimetric_scoring(scoring: Any) -> Dict[str, _Scorer]:
    """dict/list/tuple of scorings → dict of scorers (reference
    metrics.py:463-550)."""
    if isinstance(scoring, (list, tuple, set)):
        return {s: get_scorer(s) for s in scoring}
    if isinstance(scoring, dict):
        return {k: get_scorer(v) for k, v in scoring.items()}
    return {"score": get_scorer(scoring)}
