"""Fold-spec core: expanding-window time-series fold arithmetic.

This is the logical-plan layer of the engine. Folds are computed on the
*unique-period axis* (driver-side, O(|distinct periods|)) and then expressed
as **predicates over the period column** — never as row positions. That makes
every fold a Catalyst-pushable filter (`period BETWEEN lo AND hi`), which is
what lets the same fold definition scale from 6k rows to 100 TB: the filter
reaches the parquet scan, prunes partitions, and never materializes an index.

Semantics replicate the reference engine's split rules
(/root/reference/panelsplit/cross_validation.py:93-201):

* expanding train windows over sorted unique periods, sklearn
  ``TimeSeriesSplit(n_splits, gap, test_size, max_train_size)`` arithmetic
  (reimplemented here from its published definition — pure index math);
* ``include_first_train_in_test`` / ``include_train_in_test`` fold-union
  flags (cross_validation.py:139-157);
* the snapshot ("vintage") selection rule: each fold sees the data snapshot
  as of ``max(test_periods)``, falling back to ``min(snapshots)`` with a
  warning (cross_validation.py:172-193).
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field
from typing import Any, List, Optional, Sequence, Tuple

__all__ = [
    "spark_order_key",
    "time_series_fold_bounds",
    "FoldSpec",
    "build_fold_spec",
    "cpcv_splits",
]


def time_series_fold_bounds(
    n_periods: int,
    n_splits: int = 2,
    gap: int = 0,
    test_size: int = 1,
    max_train_size: Optional[int] = None,
) -> List[Tuple[int, int, int, int]]:
    """Expanding-window fold bounds over ``range(n_periods)``.

    Returns, per fold, ``(train_lo, train_hi, test_lo, test_hi)`` as
    half-open index ranges ``[lo, hi)`` over the sorted unique-period axis.

    Pure driver-side arithmetic — O(n_splits), independent of row count.
    Matches sklearn ``TimeSeriesSplit`` semantics (the reference delegates to
    it at cross_validation.py:119-127): test blocks of ``test_size`` taken
    from the tail, train = everything before the test block minus ``gap``,
    optionally capped at ``max_train_size`` most-recent periods.
    """
    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1, got {n_splits}")
    if test_size < 1:
        raise ValueError(f"test_size must be >= 1, got {test_size}")
    if gap < 0:
        raise ValueError(f"gap must be >= 0, got {gap}")
    first_test = n_periods - n_splits * test_size
    if first_test - gap <= 0:
        raise ValueError(
            f"Too many splits={n_splits} for n_periods={n_periods} with "
            f"test_size={test_size} and gap={gap}: no training data in the "
            "first fold."
        )
    bounds = []
    for i in range(n_splits):
        test_lo = first_test + i * test_size
        test_hi = test_lo + test_size
        train_hi = test_lo - gap
        train_lo = 0
        if max_train_size is not None and max_train_size < train_hi:
            train_lo = train_hi - max_train_size
        bounds.append((train_lo, train_hi, test_lo, test_hi))
    return bounds


def purged_kfold_bounds(
    n_periods: int,
    n_splits: int,
    purge: int = 0,
    embargo: int = 0,
) -> List[Tuple[int, int, int, int]]:
    """Purged K-fold bounds with embargo over ``range(n_periods)``:
    K contiguous test blocks covering the axis (numpy ``array_split``
    convention — the first ``n_periods % n_splits`` blocks get the extra
    period), train = every period OUTSIDE the exclusion window
    ``[test_lo - purge, test_hi + embargo)``.

    This is the de Prado purged cross-validation scheme for serially
    correlated panels (Advances in Financial Machine Learning, ch. 7):
    ``purge`` drops the training periods immediately BEFORE the test
    block whose labels overlap it, ``embargo`` drops the periods
    immediately AFTER, where leakage flows backward through
    forward-looking labels. Beyond the reference library's
    TimeSeriesSplit delegation — its walk-forward folds never train on
    the future at all; purged K-fold does, which is exactly why it
    needs the two-sided exclusion.

    Returns, per fold, ``(test_lo, test_hi, excl_lo, excl_hi)`` as
    half-open index ranges: train spans ``[0, excl_lo) ∪ [excl_hi, n)``.
    Pure driver-side arithmetic, O(n_splits).
    """
    if n_splits < 2:
        raise ValueError(f"n_splits must be >= 2, got {n_splits}")
    if purge < 0 or embargo < 0:
        raise ValueError(
            f"purge/embargo must be >= 0, got {purge}/{embargo}"
        )
    if n_splits > n_periods:
        raise ValueError(
            f"n_splits={n_splits} > n_periods={n_periods}"
        )
    base, extra = divmod(n_periods, n_splits)
    bounds = []
    lo = 0
    for i in range(n_splits):
        size = base + (1 if i < extra else 0)
        hi = lo + size
        excl_lo = max(0, lo - purge)
        excl_hi = min(n_periods, hi + embargo)
        if excl_lo == 0 and excl_hi == n_periods:
            raise ValueError(
                f"fold {i}: purge={purge}/embargo={embargo} leave no "
                f"training periods (exclusion covers all {n_periods})"
            )
        bounds.append((lo, hi, excl_lo, excl_hi))
        lo = hi
    return bounds


@dataclass
class Fold:
    """One fold: period *values* for train and test membership.

    ``train_ranges`` / ``test_ranges`` are lists of inclusive ``(lo, hi)``
    period-value ranges — contiguous runs on the sorted unique-period axis.
    Ranges (not value lists) are what we hand to Catalyst: a
    ``BETWEEN`` is sargable and partition-prunable regardless of how many
    distinct periods it spans, while a 10k-element ``IN`` list is not.
    """

    fold_id: int
    train_periods: List[Any]
    test_periods: List[Any]
    train_ranges: List[Tuple[Any, Any]]
    test_ranges: List[Tuple[Any, Any]]
    snapshot_value: Any = None


def _ranges_from_index_spans(
    unique_periods: Sequence[Any], spans: List[Tuple[int, int]]
) -> List[Tuple[Any, Any]]:
    """Half-open index spans -> inclusive period-value ranges (merged)."""
    spans = sorted((lo, hi) for lo, hi in spans if hi > lo)
    merged: List[Tuple[int, int]] = []
    for lo, hi in spans:
        if merged and lo <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(hi, merged[-1][1]))
        else:
            merged.append((lo, hi))
    return [(unique_periods[lo], unique_periods[hi - 1]) for lo, hi in merged]


_NAN = object()


def spark_order_key(value: Any):
    """Sort key reproducing Spark's ascending order on the driver: NaN
    sorts after every other value (Spark treats it as the largest
    double), everything else in its natural order."""
    if isinstance(value, float) and value != value:
        return (1,)
    return (0, value)


def _axis_key(value: Any):
    """Hashable identity of a period value; every NaN maps to one key,
    as Spark's equality treats NaN = NaN."""
    if isinstance(value, float) and value != value:
        return _NAN
    return value


@dataclass
class FoldSpec:
    """Driver-small description of every fold: the engine's central IR.

    Everything downstream (filters, fold assignment, moment sums, OOF
    reassembly) derives from this object. It is O(n_splits × |periods|)
    in the worst case but in practice tiny (#periods ≪ #rows), so it
    lives on the driver and reaches the executors as literal
    expressions, never as a table.
    """

    unique_periods: List[Any]
    folds: List[Fold] = field(default_factory=list)
    n_splits: int = 0

    # ---- predicate builders (the hot path at scale) -------------------

    def _role_ranges(self, fold_id: int, role: str) -> List[Tuple[Any, Any]]:
        f = self.folds[fold_id]
        return f.train_ranges if role == "train" else f.test_ranges

    def union_ranges(self, role: str) -> List[Tuple[Any, Any]]:
        """Inclusive period ranges covering every fold's ``role`` set,
        merged along the unique-period axis."""
        pos = self._axis_index()
        spans = [
            (pos[_axis_key(lo)], pos[_axis_key(hi)] + 1)
            for f in self.folds
            for lo, hi in self._role_ranges(f.fold_id, role)
        ]
        return _ranges_from_index_spans(self.unique_periods, spans)

    def predicate(self, period_col, fold_id: int, role: str,
                  snapshot_col=None):
        """Catalyst predicate for fold membership: OR of BETWEENs
        (+ snapshot equality). Pushable to the parquet scan."""
        from pyspark.sql import functions as F

        ranges = self._role_ranges(fold_id, role)
        if not ranges:
            return F.lit(False)
        pred = None
        for lo, hi in ranges:
            p = period_col.between(F.lit(lo), F.lit(hi))
            pred = p if pred is None else (pred | p)
        if snapshot_col is not None:
            sv = self.folds[fold_id].snapshot_value
            pred = pred & (snapshot_col == F.lit(sv))
        return pred

    def union_predicate(self, period_col, role: str, snapshot_col=None):
        """Membership in ANY fold's train (resp. test) set — used by
        gen_train_labels / gen_test_labels (reference
        cross_validation.py:279-353)."""
        from pyspark.sql import functions as F

        pred = F.lit(False)
        for f in self.folds:
            pred = pred | self.predicate(period_col, f.fold_id, role,
                                         snapshot_col)
        return pred

    # ---- membership form (fold assignment, moment sums) ---------------

    def _axis_index(self) -> dict:
        return {_axis_key(p): i for i, p in enumerate(self.unique_periods)}

    def rows(self) -> List[Tuple[int, str, Any, Any]]:
        """Exploded ``(fold_id, role, period, snapshot_value)`` rows."""
        out = []
        for f in self.folds:
            for p in f.train_periods:
                out.append((f.fold_id, "train", p, f.snapshot_value))
            for p in f.test_periods:
                out.append((f.fold_id, "test", p, f.snapshot_value))
        return out

    def memberships(
        self, roles: Sequence[str] = ("train", "test")
    ) -> List[Tuple[Any, List[Tuple[int, str]]]]:
        """``(period, [(fold_id, role), ...])`` in axis order for every
        period that belongs to at least one requested ``(fold, role)``."""
        pos = self._axis_index()
        members: List[List[Tuple[int, str]]] = [
            [] for _ in self.unique_periods
        ]
        for f in self.folds:
            for role in ("train", "test"):
                if role not in roles:
                    continue
                ps = f.train_periods if role == "train" else f.test_periods
                for p in ps:
                    members[pos[_axis_key(p)]].append((f.fold_id, role))
        return [(p, m) for p, m in zip(self.unique_periods, members) if m]

    def member_matrix(
        self,
        periods: Sequence[Any],
        snapshots: Optional[Sequence[Any]] = None,
        role: str = "train",
    ):
        """Fold × row 0/1 matrix of ``role`` membership for rows keyed by
        ``periods`` (and ``snapshots`` when the splitter has a snapshot
        column). A NULL period, or one absent from the spec, belongs to
        no fold; with snapshots a row counts for a fold only at that
        fold's snapshot value, and a NULL snapshot matches nothing."""
        import numpy as np

        pos = self._axis_index()
        absent = len(self.unique_periods)
        by_axis = np.zeros((len(self.folds), absent + 1))
        for f in self.folds:
            ps = f.train_periods if role == "train" else f.test_periods
            by_axis[f.fold_id, [pos[_axis_key(p)] for p in ps]] = 1.0
        m = by_axis[:, [pos.get(_axis_key(p), absent) for p in periods]]
        if snapshots is not None:
            keys = [_axis_key(s) for s in snapshots]
            for f in self.folds:
                want = _axis_key(f.snapshot_value)
                m[f.fold_id] *= [
                    k is not None and k == want for k in keys
                ]
        return m


def build_fold_spec(
    unique_periods: Sequence[Any],
    n_splits: int = 2,
    gap: int = 0,
    test_size: int = 1,
    max_train_size: Optional[int] = None,
    include_first_train_in_test: bool = False,
    include_train_in_test: bool = False,
    snapshot_min: Any = None,
) -> FoldSpec:
    """Build the FoldSpec from a *sorted* unique-period sequence.

    ``snapshot_min`` is the global ``min(snapshots)`` (one tiny agg job when
    snapshots are in play); it drives the reference's vintage-selection
    fallback rule (cross_validation.py:172-193).
    """
    up = sorted(unique_periods, key=spark_order_key)
    bounds = time_series_fold_bounds(
        len(up), n_splits=n_splits, gap=gap, test_size=test_size,
        max_train_size=max_train_size,
    )
    if include_train_in_test:
        include_first_train_in_test = True
    folds = []
    for i, (tr_lo, tr_hi, te_lo, te_hi) in enumerate(bounds):
        train_p = up[tr_lo:tr_hi]
        test_p = up[te_lo:te_hi]
        test_spans = [(te_lo, te_hi)]
        # Fold-union flags: fold i's *test* set additionally contains its
        # train set (first fold only, or every fold).
        if (i == 0 and include_first_train_in_test) or (
            i > 0 and include_train_in_test
        ):
            test_p = train_p + test_p
            test_spans.append((tr_lo, tr_hi))
        snapshot_value = None
        if snapshot_min is not None:
            max_test = max(test_p)
            if max_test >= snapshot_min:
                snapshot_value = max_test
            else:
                snapshot_value = snapshot_min
                warnings.warn(
                    f"The maximum period value {max_test} for split {i} is "
                    f"less than the minimum snapshot value {snapshot_min}. "
                    f"Defaulting to minimum snapshot value for split {i}.",
                    stacklevel=2,
                )
        folds.append(
            Fold(
                fold_id=i,
                train_periods=train_p,
                test_periods=test_p,
                train_ranges=_ranges_from_index_spans(up, [(tr_lo, tr_hi)]),
                test_ranges=_ranges_from_index_spans(up, test_spans),
                snapshot_value=snapshot_value,
            )
        )
    return FoldSpec(unique_periods=up, folds=folds, n_splits=n_splits)


def cpcv_splits(
    n_periods: int,
    n_groups: int = 6,
    n_test_groups: int = 2,
    purge: int = 0,
    embargo: int = 0,
) -> List[Tuple[int, List[Tuple[int, int]]]]:
    """Combinatorial purged CV splits (de Prado, Advances in Financial
    Machine Learning ch. 12 — public book, scheme only): the period
    axis splits into ``n_groups`` contiguous blocks (numpy
    ``array_split`` convention, same closed form as
    :func:`purged_kfold_bounds`), and EVERY ``n_test_groups``-subset of
    blocks becomes one split's test set — C(G, k) splits instead of
    K, so every group is tested in many train-context combinations and
    backtest paths can be assembled from the fold predictions.

    Returns ``[(split_id, [(test_lo, test_hi), ...]), ...]`` with
    split_id enumerating the lexicographic combinations. Train for a
    split = periods outside every test block's exclusion window
    ``[lo - purge, hi + embargo)``. Pure driver arithmetic, O(C(G,k)).
    """
    from itertools import combinations

    if n_groups < 2 or not (0 < n_test_groups < n_groups):
        raise ValueError(
            f"need 2 <= n_groups and 0 < n_test_groups < n_groups, "
            f"got {n_groups}/{n_test_groups}"
        )
    if n_periods < n_groups:
        raise ValueError(
            f"n_periods={n_periods} < n_groups={n_groups}"
        )
    q, r = divmod(n_periods, n_groups)
    blk = lambda g: (  # noqa: E731
        g * q + min(g, r), (g + 1) * q + min(g + 1, r)
    )
    out = []
    for sid, combo in enumerate(combinations(range(n_groups), n_test_groups)):
        out.append((sid, [blk(g) for g in combo]))
    return out
